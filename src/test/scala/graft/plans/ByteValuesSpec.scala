package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ByteValues (`byte_values(blob)` — the native per-byte decode that
  * replaced x12's hex substring+conv lambda, r15) must equal the hex
  * spelling exactly: unsigned 0-255 values, one per byte, empty for an
  * empty blob, across the codegen and interpreted paths. */
class ByteValuesSpec extends SparkSpec {

  test("byte_values == hex substring+conv spelling on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    val rows = (1 to 200).map { i =>
      // n >= 1: the hex REFERENCE spelling hits Spark's descending
      // sequence(1, 0) on an empty blob (the queries guard it with a
      // nbv > 0 filter); the empty case is covered by the id=0 row below
      val n = 1 + rnd.nextInt(63)
      (i.toLong, (0 until n).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    } :+ (0L, "")
    val df = rows.toDF("id", "text").select(col("id"),
      expr("byte_values(encode(text, 'UTF-8'))").as("native"),
      expr("transform(sequence(1, octet_length(encode(text, 'UTF-8'))), " +
        "i -> CAST(conv(substring(lower(hex(encode(text, 'UTF-8'))), " +
        "i * 2 - 1, 2), 16, 10) AS BIGINT))").as("hexed"))
    // sequence(1, 0) descends, so guard the empty doc the same way the
    // queries do: compare non-empty rows elementwise, empty rows by size
    val bad = df.filter(
      (col("id") =!= 0L && col("native") =!= col("hexed")) ||
        (col("id") === 0L && size(col("native")) =!= 0)).count()
    assert(bad == 0)
  }

  test("interpreted eval matches: unsigned fold of signed JVM bytes") {
    val e = ByteValues(org.apache.spark.sql.catalyst.expressions.Literal(
      Array[Byte](0, 1, 127, -128, -1), org.apache.spark.sql.types.BinaryType))
    val out = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(out.toSeq == Seq(0L, 1L, 127L, 128L, 255L))
  }
}
