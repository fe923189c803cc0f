package graft.sources

import graft.SparkSpec
import graft.SparkSpec.assumeRefData
import org.apache.spark.sql.functions._

/** Golden checks for the pure-JVM ROOT TH1 reader against the
  * reference's own calibration files. The expected numbers come from an
  * INDEPENDENT parse (a from-scratch Python struct/zlib implementation
  * of the public ROOT format, written separately from the Scala reader)
  * — two implementations agreeing bin-for-bin on real-world files from
  * three ROOT eras is the correctness evidence a format reader needs. */
class RootHistSourceSpec extends SparkSpec {

  private val refData = graft.queries.referenceDataRoot
  private def rootDf(path: String) =
    spark.read.format("graft.sources.RootHistSource")
      .option("path", path).load()

  test("TH1D fixed-bin pileup profile parses with exact shape and unit integral") {
    assumeRefData("pileup/mcPileup2018.root")
    val df = rootDf(s"$refData/pileup/mcPileup2018.root").cache()
    val hists = df.select("hist", "cls", "nbins", "xmin", "xmax", "entries")
      .distinct().collect()
    assert(hists.length == 1)
    val h = hists.head
    assert(h.getString(0) == "pu_mc" && h.getString(1) == "TH1D")
    assert(h.getInt(2) == 100 && h.getDouble(3) == 0.0 && h.getDouble(4) == 100.0)
    assert(h.getDouble(5) == 100.0) // fEntries golden from independent parse
    assert(df.count() == 102) // nbins + under/overflow
    // MC pileup profile is normalized: integral over all cells == 1
    val s = df.agg(sum(col("content"))).head.getDouble(0)
    // the file itself is normalized to ~2e-8 (float accumulation at
    // creation time), not to the last ulp
    assert(math.abs(s - 1.0) < 1e-6, s"integral $s")
    // no stored errors in this file -> sumw2 all null
    assert(df.filter(col("sumw2").isNotNull).count() == 0)
    // under/overflow bounds are open
    assert(df.filter(col("bin") === 0 && col("x_low").isNull).count() == 1)
    assert(df.filter(col("bin") === 101 && col("x_high").isNull).count() == 1)
    // interior edges are the linear grid
    val b1 = df.filter(col("bin") === 1).select("x_low", "x_high").head
    assert(b1.getDouble(0) == 0.0 && b1.getDouble(1) == 1.0)
  }

  test("TH1D data profile with stored sumw2 matches independent-parse goldens") {
    assumeRefData("pileup/puData2018_withVar.root")
    val df = rootDf(s"$refData/pileup/puData2018_withVar.root").cache()
    val names = df.select("hist").distinct().collect().map(_.getString(0)).sorted
    assert(names.toSeq == Seq("pileup", "pileup_minus", "pileup_plus"))
    val h = df.filter(col("hist") === "pileup")
      .agg(max("nbins"), max("entries"), sum("content"),
        count(when(col("sumw2").isNotNull, 1)))
      .head
    assert(h.getInt(0) == 100)
    assert(h.getDouble(1) == 23296690.0) // golden fEntries
    assert(math.abs(h.getDouble(2) / 5.99651e10 - 1.0) < 1e-5) // golden integral
    assert(h.getLong(3) == 102) // sumw2 stored for every cell
  }

  test("TH1F variable-bin scale-factor histograms carry their edge arrays") {
    assumeRefData("muon_sf/year2016/RunBCDEF_SF_Trigger.root")
    val df = rootDf(
      s"$refData/muon_sf/year2016/RunBCDEF_SF_Trigger.root").cache()
    val eta = df.filter(col("hist") === "eta_DATA")
    // 2016 trigger SF binning: 14 eta bins on [-2.4, 2.4], variable
    // edges; the same histogram name lives under two trigger-path
    // TDirectories, which the `dir` column separates
    assert(eta.select("nbins").distinct().head.getInt(0) == 14)
    val nDirs = eta.select("dir").distinct().count()
    assert(nDirs == 2, s"expected eta_DATA under 2 directories, got $nDirs")
    assert(eta.filter(col("dir").startsWith(
      "IsoMu24_OR_IsoTkMu24_EtaBins/efficienciesDATA")).count() > 0)
    val byDir = eta.filter(col("bin").between(1, 14))
      .orderBy("dir", "cycle", "bin")
      .select("dir", "x_low", "x_high").collect()
      .groupBy(_.getString(0))
    byDir.values.foreach { rows =>
      rows.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0).getDouble(2) == w(1).getDouble(1),
            "adjacent bins must share an edge")
      }
    }
    assert(eta.filter(col("bin") === 1).head.getDouble(
      eta.schema.fieldIndex("x_low")) == -2.4)
    assert(eta.filter(col("bin") === 14).head.getDouble(
      eta.schema.fieldIndex("x_high")) == 2.4)
    // SF files store errors
    assert(df.filter(col("sumw2").isNotNull).count() > 0)
  }

  test("TH2D muon-ID scale-factor map parses with independent-parse goldens") {
    assumeRefData("muon_sf/year2018/RunABCD_SF_ID.root")
    val df = rootDf(s"$refData/muon_sf/year2018/RunABCD_SF_ID.root").cache()
    val h = df.filter(col("hist") === "NUM_LooseID_DEN_genTracks_pt_abseta")
    // goldens from the independent Python parse: 6x4 (pt, |eta|) map,
    // ncells (6+2)*(4+2) = 48, entries 24, integral 23.9667725
    val m = h.agg(max("ndim"), max("nbins"), max("nbinsy"),
      min("xmin"), max("xmax"), max("entries"),
      sum("content"), count(lit(1))).head
    assert(m.getInt(0) == 2 && m.getInt(1) == 6 && m.getInt(2) == 4)
    assert(m.getDouble(3) == 20.0 && m.getDouble(4) == 120.0)
    assert(m.getDouble(5) == 24.0)
    assert(math.abs(m.getDouble(6) - 23.9667725) < 1e-6)
    assert(m.getLong(7) == 48)
    // cell decomposition: every (binx, biny) pair appears exactly once
    assert(h.select("binx", "biny").distinct().count() == 48)
    // y edges span [0, 2.4] with open flow bounds
    val y = h.filter(col("biny") === 4).select("y_low", "y_high").distinct().head
    assert(y.getDouble(0) < 2.4 && y.getDouble(1) == 2.4)
    assert(h.filter(col("biny") === 5 && col("y_high").isNotNull).count() == 0)
  }

  test("TH3D resolution calibration parses with independent-parse goldens") {
    assumeRefData("res_calib/res_calib_Data_2018.root")
    val df = rootDf(s"$refData/res_calib/res_calib_Data_2018.root").cache()
    // golden: 4x3x3 (pt, |eta1|, |eta2|), 150 cells, entries 36,
    // integral 40.4808673
    val m = df.agg(max("ndim"), max("nbins"), max("nbinsy"), max("nbinsz"),
      max("entries"), sum("content"), count(lit(1))).head
    assert(m.getInt(0) == 3 && m.getInt(1) == 4 && m.getInt(2) == 3 &&
      m.getInt(3) == 3)
    assert(m.getDouble(4) == 36.0)
    assert(math.abs(m.getDouble(5) - 40.4808673) < 1e-6)
    assert(m.getLong(6) == 150)
    assert(df.select("binx", "biny", "binz").distinct().count() == 150)
    // this is the 3-D lookup table the l08 ebe-resolution query models:
    // every interior cell carries a positive calibration factor
    assert(df.filter(col("binx").between(1, 4) && col("biny").between(1, 3) &&
      col("binz").between(1, 3) && col("content") <= 0.0).count() == 0)
  }

  test("TGraphErrors and TGraphAsymmErrors parse with point-level goldens") {
    assumeRefData("NNLOPS_reweight.root",
      "muon_sf/year2016/RunBCDEF_SF_Trigger.root")
    val g = spark.read.format("graft.sources.RootGraphSource")
      .option("path", s"$refData/NNLOPS_reweight.root").load().cache()
    // the NNLOPS file holds 8 ratio curves
    assert(g.select("graph").distinct().count() == 8)
    val zj = g.filter(col("graph") === "gr_NNLOPSratio_pt_powheg_0jet")
      .orderBy("i").collect()
    assert(zj.length == 17)
    val first = zj.head; val last = zj.last
    // goldens from the independent parse
    assert(first.getDouble(first.fieldIndex("x")) == 2.5)
    assert(first.getDouble(first.fieldIndex("y")) == 1.1658884286880493)
    assert(last.getDouble(last.fieldIndex("x")) == 125.0)
    assert(last.getDouble(last.fieldIndex("y")) == 4.512904167175293)
    // symmetric errors: ey_low == ey_high, ex present
    assert(zj.forall(r => r.getDouble(r.fieldIndex("ey_low")) ==
      r.getDouble(r.fieldIndex("ey_high"))))
    // asymmetric: tag-and-probe efficiency graphs in the muon-SF tree
    val ga = spark.read.format("graft.sources.RootGraphSource")
      .option("path",
        s"$refData/muon_sf/year2016/RunBCDEF_SF_Trigger.root").load()
      .filter(col("cls") === "TGraphAsymmErrors")
    assert(ga.count() > 0)
    assert(ga.filter(col("ey_low") =!= col("ey_high")).count() > 0,
      "tag-and-probe errors should be asymmetric somewhere")
    // directory attribution carries through for graphs too
    assert(ga.filter(col("dir").contains("efficienciesDATA")).count() > 0)
  }

  test("TTree basket decode: re-histogrammed branch equals the file's own TH1F") {
    assumeRefData("mass_res_pisa/muonresolution.root")
    // The strongest possible in-file golden: muonresolution.root carries
    // BOTH the raw TTree (4 jagged vector<double> branches over 100k
    // events) and the histograms that were filled FROM it. Decoding the
    // tree and re-histogramming muon_eta with hEta's exact binning must
    // reproduce hEta bin for bin — proving basket walk, per-entry frame
    // decode, and entry accounting in one equality.
    val f = s"$refData/mass_res_pisa/muonresolution.root"
    val tree = spark.read.format("graft.sources.RootTreeSource")
      .option("path", f).load().filter(col("tree") === "MyTree").cache()
    // 100k events per branch, 47296 muons in the eta branch
    val eta = tree.filter(col("branch") === "muon_eta")
    assert(eta.select(max(col("entry"))).head.getLong(0) == 99999L)
    assert(eta.filter(col("value").isNotNull).count() == 47296L)
    // jaggedness is real: empty entries exist alongside multi-muon ones
    assert(eta.filter(col("n") === 0).count() > 0)
    assert(eta.filter(col("n") >= 2).count() > 0)
    // rebuild hEta: 100 bins on [-5, 5] + flows, cell index ROOT-style
    val got = eta.filter(col("value").isNotNull)
      .select(least(greatest(floor((col("value") + 5.0) / 0.1) + 1, lit(0)),
        lit(101)).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).cast("double").as("content"))
    val want = rootDf(f).filter(col("hist") === "hEta")
      .groupBy("bin").agg(max(col("content")).as("content")) // 2 cycles, same fill
      .filter(col("content") > 0)
    val diff = got.join(want, Seq("bin"), "full")
      .filter(coalesce(got("content"), lit(-1.0)) =!=
        coalesce(want("content"), lit(-1.0)))
    assert(diff.count() == 0, "tree-decoded eta does not reproduce hEta")
    // all four branches march in entry lockstep
    val counts = tree.groupBy("branch")
      .agg(countDistinct(col("entry")).as("ne")).collect()
    assert(counts.length == 4 && counts.forall(_.getLong(1) == 100000L))
  }

  test("TProfile bin means cross-check against the TH2F they were profiled from") {
    assumeRefData("mass_res_pisa/muonresolution.root")
    // in-file cross-golden: hPtErrRel_Pt_pfx is ROOT's own profile of
    // the TH2F hPtErrRel_Pt — the profile's per-x-bin mean (content /
    // bin_entries) must equal the TH2's y-center weighted mean in that
    // x bin up to the y-binning quantization. Two object codecs agree
    // through a statistical identity neither stores explicitly.
    val f = s"$refData/mass_res_pisa/muonresolution.root"
    val df = rootDf(f)
    val prof = df.filter(col("cls") === "TProfile" &&
        col("hist") === "hPtErrRel_Pt_pfx" && col("bin_entries") > 0)
      .groupBy(col("binx"))
      .agg(max(col("content") / col("bin_entries")).as("prof_mean"))
    val th2 = df.filter(col("cls") === "TH2F" &&
        col("hist") === "hPtErrRel_Pt" &&
        col("binx").between(1, 100) && col("biny").between(1, 100))
      .withColumn("yc", (col("y_low") + col("y_high")) / 2.0)
      .groupBy(col("binx"))
      .agg((sum(col("content") * col("yc")) / sum(col("content")))
        .as("th2_mean"), sum(col("content")).as("w"))
      .filter(col("w") > 0)
    val joined = prof.join(th2, "binx")
    val n = joined.count()
    assert(n >= 90, s"only $n populated bins joined")
    val bad = joined.filter(abs(col("prof_mean") - col("th2_mean")) > 2e-3)
    assert(bad.count() == 0, "profile means diverge from TH2 column means")
    // profile payload has both arrays for all 102 cells
    val cells = df.filter(col("cls") === "TProfile" &&
      col("hist") === "hPtErrRel_Pt_pfx")
    assert(cells.filter(col("bin_entries").isNull).count() == 0)
    // non-profile histograms carry no bin_entries
    assert(df.filter(col("cls") === "TH2F" &&
      col("bin_entries").isNotNull).count() == 0)
  }

  test("malformed input fails fast: wrong magic, truncation, corrupt payload") {
    // a format reader's failure mode matters as much as its happy path:
    // bad input must raise promptly (never hang in the key walk, never
    // return silently wrong data)
    def tmp(bytes: Array[Byte]): String = {
      val f = java.nio.file.Files.createTempFile("graft_bad", ".root")
      java.nio.file.Files.write(f, bytes)
      f.toString
    }
    // not a ROOT file
    intercept[Exception] {
      RootHistFile.read(tmp("parquet-not-root-file-content".getBytes))
    }
    // valid magic, garbage header: the walk must terminate with either
    // an exception or an empty result (the bogus fBegin points past the
    // buffer), never hang or fabricate objects
    val garbage = try Right(RootHistFile.read(
      tmp("root".getBytes ++ Array.fill[Byte](40)(0x7f))))
    catch { case e: Exception => Left(e) }
    assert(garbage.fold(_ => true, _.isEmpty), s"got $garbage")
    // truncated real file: cut mid-way through the key chain — the walk
    // must stop at the buffer edge or raise, not spin
    assumeRefData("pileup/mcPileup2018.root")
    val real = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refData/pileup/mcPileup2018.root"))
    val cut = tmp(java.util.Arrays.copyOfRange(real, 0, real.length / 2))
    try { RootHistFile.read(cut); () }
    catch { case _: Exception => () } // either is fine; hanging is not
    // corrupt compressed payload inside an otherwise-valid file: flip a
    // block right after the first "ZL" compression header (the TH1D
    // blob starts ~0x120 in this file; locate it instead of hardcoding)
    val mangled = real.clone()
    val zl = (0 until real.length - 1).find(i =>
      real(i) == 'Z'.toByte && real(i + 1) == 'L'.toByte).get
    for (i <- zl + 12 until zl + 52) mangled(i) = (mangled(i) ^ 0x55).toByte
    intercept[Exception] { RootHistFile.read(tmp(mangled)) }
  }

  test("directory scan expands recursively, one partition per file, pruning works") {
    assumeRefData("pileup/mcPileup2018.root")
    val df = rootDf(refData)
    // every TH1 in the reference's data tree parses (TH2/TGraph skipped)
    val nHists = df.filter(col("bin") === 0).count()
    assert(nHists >= 100, s"expected >= 100 TH1s across the tree, got $nHists")
    // every supported dimensionality and precision shows up in the tree
    val clss = df.select("cls").distinct().collect().map(_.getString(0)).toSet
    assert(Set("TH1D", "TH1F", "TH2D", "TH2F", "TH3D").subsetOf(clss), clss)
    // the registered short names resolve
    assert(spark.read.format("root-hist")
      .option("path", s"$refData/pileup/mcPileup2018.root").load()
      .count() == 102)
    // partition count == file count (parallel scan at scale)
    val files = RootHistSource.expand(refData)
    assert(files.size >= 10)
    val pruned = df.select("content")
    assert(pruned.queryExecution.executedPlan.toString.contains("content"))
    assert(pruned.count() > 0)
    // per-hist invariant: cell count == Π(nbins_i + 2) (ROOT's ncells
    // contract, all dimensionalities)
    val bad = df.groupBy("file", "key_pos", "nbins", "nbinsy", "nbinsz")
      .agg(count(lit(1)).as("cells"))
      .filter(col("cells") =!= (col("nbins") + 2) *
        coalesce(col("nbinsy") + 2, lit(1)) *
        coalesce(col("nbinsz") + 2, lit(1)))
    assert(bad.count() == 0)
  }
}
