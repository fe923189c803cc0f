package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Edge cases of the round-8 surfaces the fixture files don't reach:
  * the .npy v2 header path, degenerate SVG panels, and TemplateExport
  * input validation. */
class Round8EvalSpec extends SparkSpec {

  test("NumpyFile reads a v2.0 header (uint32 length) array") {
    val header = "{'descr': '<f8', 'fortran_order': False, 'shape': (2,), }\n"
    val out = java.nio.ByteBuffer.allocate(12 + header.length + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(0x93.toByte).put("NUMPY".getBytes("ISO-8859-1"))
    out.put(2.toByte).put(0.toByte).putInt(header.length)
    out.put(header.getBytes("ISO-8859-1"))
    out.putDouble(42.0).putDouble(-0.5)
    val p = java.nio.file.Files.createTempFile("graft_npy2", ".npy")
    java.nio.file.Files.write(p, out.array())
    val a = sources.NumpyFile.read(p.toString)
    assert(a.shape == Seq(2) && a.data.toSeq == Seq(42.0, -0.5))
  }

  private val s12Schema = StructType(Seq(
    StructField("region", StringType), StructField("cbin", LongType),
    StructField("data_n", LongType), StructField("mc_val", FloatType),
    StructField("mc_err", FloatType), StructField("ratio", FloatType),
    StructField("ratio_err", FloatType), StructField("pull", FloatType)))
  private def row(cbin: Long, dn: Long, mc: Float, me: Float,
      ratio: java.lang.Float): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any]("r", cbin, dn, mc, me, ratio,
        if (ratio == null) null else 0.1f, 0.0f), s12Schema)

  test("PlotSvg renders an all-empty panel without NaN coordinates") {
    val svg = report.PlotSvg.render("r", Seq(row(1L, 0L, 0f, 0f, null)))
    assert(!svg.contains("NaN") && !svg.contains("Infinity"), svg)
    assert(svg.contains("""class="mc"""") && svg.contains("""class="data""""))
    // no ratio mark for the null ratio
    assert(!svg.contains("""class="ratio""""))
  }

  test("PlotSvg clamps off-scale ratios into the ratio pad") {
    val svg = report.PlotSvg.render("r",
      Seq(row(1L, 100L, 10f, 1f, 10.0f), row(2L, 1L, 10f, 1f, 0.01f)))
    // both ratio points exist and their y-coordinates sit inside the pad
    val ys = """class="ratio" cx="[0-9.]+" cy="([0-9.]+)"""".r
      .findAllMatchIn(svg).map(_.group(1).toDouble).toSeq
    assert(ys.size == 2)
    ys.foreach(y => assert(y >= 335.0 && y <= 455.0, s"ratio y $y outside pad"))
  }

  test("m35 native forward == naive driver-side Scala forward, real weights, exact floats") {
    SparkSpec.assumeQueryFixtures("m35_vbf_dnn_real")
    // fully independent re-computation: weights via TorchPt, scalers via
    // NumpyFile, the chunk-16 fold and clamped tanh re-spelled in plain
    // Scala — if the native mlp_dense codegen, the typedLit weight path,
    // or the standardization drifted by one ulp, the Float equality breaks
    val sd = sources.TorchPt.readStateDict(queries.refData(
      "trained_models/vbf/models/model_pytorch_test_0.pt")).toMap
    val sc = sources.NumpyFile.read(queries.refData(
      "trained_models/vbf/scalers/scalers_pytorch_test_0.npy"))
    def r6(x: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, x).toDouble
    val dims = Seq(24, 128, 64, 32)
    def layer(x: Array[Double], l: Int): Array[Double] = {
      val wT = sd(Seq("fc1", "fc2", "fc3")(l) + ".weight") // (out, in)
      val b = sd(Seq("fc1", "fc2", "fc3")(l) + ".bias").data
      Array.tabulate(dims(l + 1)) { j =>
        var acc = 0.0
        var c = 0
        while (c * 16 < dims(l)) {
          val end = math.min(c * 16 + 16, dims(l))
          var g = x(c * 16) * r6(wT(j, c * 16))
          var i = c * 16 + 1
          while (i < end) { g += x(i) * r6(wT(j, i)); i += 1 }
          acc = if (c == 0) g else acc + g
          c += 1
        }
        val z = acc + r6(b(j))
        val zc = if (z > 20.0) 20.0 else if (z < -20.0) -20.0 else z
        val e = math.exp(zc * 2.0); (e - 1.0) / (e + 1.0)
      }
    }
    val got = queries.MLQueries.queries("m35_vbf_dnn_real")(spark, sf("sf0.001"))
      .limit(50).collect()
    assert(got.length == 50)
    got.foreach { row =>
      val id = row.getLong(0)
      val h0 = Array.tabulate(24) { i =>
        val z = ((id * (2654435761L + i * 40503L)) % 4001 - 2000).toDouble / 1000.0
        val mu = sc(0, i); val sg = sc(1, i)
        ((mu + sg * z) - mu) / sg
      }
      val h3 = layer(layer(layer(h0, 0), 1), 2)
      val wOut = sd("output.weight")
      var acc = 0.0
      var c = 0
      while (c * 16 < 32) {
        var g = h3(c * 16) * r6(wOut.data(c * 16))
        var i = c * 16 + 1
        while (i < math.min(c * 16 + 16, 32)) { g += h3(i) * r6(wOut.data(i)); i += 1 }
        acc = if (c == 0) g else acc + g
        c += 1
      }
      val out = acc + r6(sd("output.bias").data(0))
      val sigm = 1.0 / (1.0 + math.exp(-out))
      assert(sigm.toFloat == row.getFloat(1),
        s"event $id: naive ${sigm.toFloat} != native ${row.getFloat(1)}")
    }
  }

  test("TemplateExport rejects out-of-range bins with a clear error") {
    import org.apache.spark.sql.functions._
    val bad = spark.range(1).select(lit("r").as("region"),
      lit("c").as("channel"), lit("nominal").as("variation"),
      lit(99L).as("bin"), lit(1.0f).as("value"), lit(1.0f).as("sumw2"))
    val e = intercept[Exception] {
      report.TemplateExport.toTH1DSpecs(bad, nbins = 40, lo = 0.0, hi = 160.0)
    }
    assert(e.getMessage != null)
  }
}
