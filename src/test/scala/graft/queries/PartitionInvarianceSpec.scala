package graft.queries

import graft.SparkSpec
import graft.SparkSpec.assumeQueryFixtures

/** The repo's central determinism claim, tested structurally: every
  * cross-row float fold is either exact integer arithmetic or a
  * quantize-before-fold, so query OUTPUT must not depend on how the
  * data is partitioned. At 100 TB the partition count is whatever the
  * cluster happens to give you — a result that shifts with
  * spark.sql.shuffle.partitions would make the DuckDB hash gate (and
  * any production rerun) nondeterministic. This spec re-executes a
  * cross-section of the discipline's shapes under 2 and 64 shuffle
  * partitions and demands bit-identical collected output (after the
  * queries' own float32 casts — the output contract the driver
  * hashes).
  *
  * Query selection spans the fold disciplines: double histogram sums
  * with float32 absorption (a10), milli-quantized keyed windows (u24),
  * centered-moment broadcast algebra (m26), integer fixed-point
  * iteration (g05), band-gated candidate joins (d03), iterated
  * broadcast model updates (m30), and grid-certified spatial routing
  * (j21).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val targets = Seq(
    "a10_weighted_histogram", "u24_seasonal_decomp", "m26_cuped_abtest",
    "g05_pagerank", "d03_minhash_lsh", "m30_gbdt_loop", "j21_knn_join",
    // round-8 shapes: shared-SQL-text Durbin-Levinson (integer-quantized
    // ACF under a driver-shaped recursion), the ROOT-native flagship
    // (connector scan -> pivot -> exactly-2 gate), the real-weights DNN
    // forward (chunk-16 fold in one projection), and the real-table
    // interp lookup (nano-quantized per-jet folds)
    "u28_pacf", "s14_root_stage1", "m35_vbf_dnn_real", "l17_jec_unc_real",
    // round-9 shapes: TFormula payload evaluation through broadcast
    // equi joins (real btag splines / JEC level chains), log-space
    // per-event SF products, the four-fold ensemble routing, the
    // seeded Rochester MC branch split, and the muon-SF window+pivot
    "l20_btag_csv_real", "l21_jec_levels_real", "l22_roccor_mc",
    "l23_jec_data_residual", "l24_musf_chain", "m36_vbf_fold_ensemble",
    // pdf grid scans: exact-integer norm + micro-quantized chi2 folds
    "f07_bwzredux_scan", "f08_doublecb_scan",
    // round-10 shapes: the two remaining pdf families (photon bwGamma /
    // Bernstein), the guarded-element LHE cascade over an in-row jagged
    // array, and the keyed STXS broadcast-lookup weight fan-out
    "f09_bwgamma_scan", "f10_bernstein_scan",
    // f13/f20 carry the TWO- and THREE-component norms (RooAddPdf
    // replay): every component norm is an exact-integer window fold,
    // so the mixture fraction is partition-invariant too
    "f13_bwzgamma_scan", "f20_bwzgl_mix_scan",
    "l25_lhe_scale_weights", "l26_stxs_thu")

  private def runAt(name: String, parts: String): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      graft.SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  targets.foreach { name =>
    test(s"$name is invariant to the shuffle partition count") {
      assumeQueryFixtures(name)
      val at2 = runAt(name, "2")
      val at64 = runAt(name, "64")
      assert(at2.nonEmpty, s"$name returned no rows at sf0.001")
      assert(at2 == at64,
        s"$name output depends on partitioning: ${
          at2.zip(at64).find { case (a, b) => a != b }
            .map { case (a, b) => s"first diff:\n  2 -> $a\n  64 -> $b" }
            .getOrElse(s"sizes ${at2.size} vs ${at64.size}")
        }")
    }
  }
}
