package hmmbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-independent checksum of a query result: row count plus two
  * wrapping sums of a per-row hash. Doubles are rounded to six
  * significant digits first, so two executions of one plan that differ
  * only by floating-point summation order still agree. */
final case class Checksum(rows: Long, h1: Long, h2: Long) {
  def render: String = s"$rows:${java.lang.Long.toHexString(h1)}:${java.lang.Long.toHexString(h2)}"
}

object Checksum {

  /** Materialise every row and column of `df` (a Dataset action, so the
    * plan runs exactly as the program built it) and fold its checksum. */
  def of(df: DataFrame): Checksum = {
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator
    val a = sc.longAccumulator
    val b = sc.longAccumulator
    df.foreachPartition { (it: Iterator[Row]) =>
      var rows = 0L
      var s1 = 0L
      var s2 = 0L
      it.foreach { r =>
        val h = rowHash(r)
        rows += 1
        s1 += h
        s2 += mix(h ^ 0x632BE59BD9B4E019L)
      }
      n.add(rows); a.add(s1); b.add(s2)
    }
    Checksum(n.value, a.value, b.value)
  }

  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  def rowHash(r: Row): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < r.length) {
      h = mix(h * 31 + cell(r.get(i)))
      i += 1
    }
    h
  }

  /** Six-significant-digit mantissa and decimal exponent of `d`. */
  def quantize(d: Double): Long =
    if (d.isNaN) 0x7FF8L
    else if (d.isInfinite) (if (d > 0) 0x7FF0L else -0x7FF0L)
    else if (d == 0.0) 0L
    else {
      val k = math.floor(math.log10(math.abs(d))).toInt
      val m = math.rint(d / math.pow(10.0, (k - 5).toDouble)).toLong
      m * 1024 + k
    }

  def cell(v: Any): Long = v match {
    case null => 0x5BD1E995L
    case d: Double => quantize(d)
    case f: Float => quantize(f.toDouble)
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 2L
    case s: String => (MurmurHash3.stringHash(s).toLong << 20) ^ s.length
    case d: java.math.BigDecimal => quantize(d.doubleValue)
    case d: scala.math.BigDecimal => quantize(d.toDouble)
    case t: java.sql.Timestamp => t.getTime * 1000000L + t.getNanos % 1000000
    case t: java.time.Instant => t.getEpochSecond * 1000000000L + t.getNano
    case t: java.time.LocalDateTime =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + t.getNano
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case bytes: Array[Byte] => MurmurHash3.bytesHash(bytes).toLong
    case r: Row => rowHash(r)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(cell(k) * 31 + cell(x)) }.sum
    case s: scala.collection.Seq[_] =>
      s.foldLeft(0x27D4EB2FL)((h, x) => mix(h * 31 + cell(x)))
    case other => other.toString.hashCode.toLong
  }
}
