package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PcmDecode: native int16-LE decode of a binary blob. Checked against
  * the hex-string SQL spelling the oracle keeps (substring+conv per
  * sample), under both codegen and interpreted eval, plus the edge
  * shapes: odd trailing byte, empty blob, NULL, sign fold at the
  * 0x8000 boundary. */
class PcmDecodeSpec extends SparkSpec {

  private val hexPath = {
    val raw = "(CAST(conv(substring(hx, i * 4 - 3, 2), 16, 10) AS BIGINT)" +
      " + 256 * CAST(conv(substring(hx, i * 4 - 1, 2), 16, 10) AS BIGINT))"
    // the sub-2-byte guard the real pcmSamples applied via minBytes:
    // sequence(1, 0) DESCENDS, so the hex walk must not run on it
    "CASE WHEN octet_length(b) < 2 THEN CAST(array() AS ARRAY<BIGINT>) " +
      "ELSE transform(sequence(1, CAST(octet_length(b) div 2 AS INT)), " +
      s"i -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END) END"
  }

  private def df = {
    val s = spark
    import s.implicits._
    Seq(
      "hello world, this is a pcm clip of odd length!",
      "x", // single byte -> zero samples
      "", // empty -> zero samples
      "\u0000\u0080", // bytes 0x00,0xc2,0x80? (UTF-8!) — exercised below
      "ABCD"
    ).toDF("t").select(expr("encode(t, 'UTF-8')").as("b"),
      expr("lower(hex(encode(t, 'UTF-8')))").as("hx"))
  }

  test("native decode equals the hex-path spelling on every row") {
    val r = df.select(
      expr("pcm_decode(b)").as("native"),
      expr(hexPath).as("hexed")).collect()
    r.foreach { row =>
      assert(row.getSeq[Long](0) == row.getSeq[Long](1),
        s"native ${row.getSeq[Long](0)} != hex ${row.getSeq[Long](1)}")
    }
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bytes = Array[Byte](0x10, 0x20, 0x7f.toByte, 0x80.toByte, 0x01)
    val e = PcmDecode(Literal(bytes))
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    // via a projection (codegen path)
    val row = df.sparkSession.range(1)
      .select(expr("pcm_decode(unhex('10207f8001'))"))
      .collect()(0)
    assert(row.getSeq[Long](0) == interp.toSeq)
    // 0x2010 = 8208; 0x807f = 32895 -> folds to 32895 - 65536 = -32641
    assert(interp.toSeq == Seq(8208L, -32641L), interp.toSeq.toString)
  }

  test("NULL input stays NULL; sign boundary folds exactly at 0x8000") {
    val r = spark.sql(
      "SELECT pcm_decode(CAST(NULL AS BINARY)) AS a, " +
        "pcm_decode(unhex('00800070FF7F')) AS b").collect()(0)
    assert(r.isNullAt(0))
    // 0x8000 = 32768 -> -32768; 0x7000 = 28672; 0x7FFF = 32767
    assert(r.getSeq[Long](1) == Seq(-32768L, 28672L, 32767L))
  }
}
