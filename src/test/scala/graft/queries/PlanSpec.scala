package graft.queries

import graft.SparkSpec
import graft.SparkSpec.{assumeAllQueryFixtures, assumeQueryFixtures}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: at 100 TB these plan shapes are the
  * difference between a scan-bound job and a broken one. Guards against
  * regressions that correctness checks cannot see. */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("object selection pushes filters into the parquet scan") {
    val plan = planOf(PhysicsQueries.queries("p05_object_selection")(spark, dir))
    assert(plan.contains("PushedFilters"), "no pushdown section in scan")
    assert(plan.contains("GreaterThan(l_extendedprice"),
      s"price filter not pushed:\n$plan")
  }

  test("projections prune the parquet read schema") {
    val plan = planOf(TextQueries.queries("t01_token_count")(spark, dir))
    // only doc_id and text are needed; n_chars/lang/source must not be read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned read schema: $readSchema")
  }

  test("dimension join broadcasts the small side") {
    val plan = planOf(RelationalQueries.queries("j08_broadcast_dim_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("binned lookup is a broadcast join, not a shuffle") {
    val plan = planOf(LookupQueries.queries("l01_binned_1d")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"lookup not broadcast:\n$plan")
  }

  test("table-driven JEC chain broadcasts every scanned lookup level") {
    // l12 reads all four correction levels (l1/l2/unc/jes_eta) from the
    // CSV fixture; each must reach the jet side as a broadcast range
    // join — a shuffle of the 600k-jet side against a 66-row table
    // would be the classic scale inversion
    val plan = planOf(LookupQueries.queries("l12_jec_table_driven")(spark, dir))
    val nBnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nBnl >= 4, s"expected 4 broadcast range joins, got $nBnl:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"lookup side shuffled:\n$plan")
    // and the jet-side key filter is pushed into the parquet scan
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey)")
      || plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_orderkey")),
      s"key filter not pushed down:\n$plan")
  }

  test("l21 real JEC level chain is two hash joins, zero nested-loop probes") {
    assumeQueryFixtures("l21_jec_levels_real")
    // the bin-index equi-key design: a range-only spelling would plan
    // BroadcastNestedLoopJoin over 82/1972-row tables (~2k predicate
    // evals per jet); the count-of-lows index keeps it a hash probe
    val plan = planOf(CorrectionQueries.queries("l21_jec_levels_real")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"NLJ in l21:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in l21:\n$plan")
    // formatted plans repeat nodes (tree + detail section)
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBhj >= 2 && nBhj <= 4, s"expected 2 BroadcastHashJoin nodes, got $nBhj")
  }

  test("l10 real-source JES fan-out adds NO joins over the chain (pure projection)") {
    assumeQueryFixtures("l10_jec_variant_columns")
    // 22 real-source variant columns come from literal-array element_at
    // lookups; only the chain's 3 tiny range joins + the 1-row JER map
    // broadcast may appear
    val plan = planOf(LookupQueries.queries("l10_jec_variant_columns")(spark, dir))
    // chain = 3 tiny range joins + 1-row JER map broadcast = 4 join
    // NODES; each node contributes ~4 "Join" tokens in a formatted
    // plan (tree line, detail header, "Join type:", "Join condition:")
    val nJoin = "BroadcastNestedLoopJoin|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct".r
      .findAllIn(plan).length
    assert(nJoin <= 8, s"l10 grew joins (expected 4 nodes x 2 mentions):\n$plan")
  }

  test("m36 fold ensemble plans one scan and no join") {
    assumeQueryFixtures("m36_vbf_fold_ensemble")
    val plan = planOf(MLQueries.queries("m36_vbf_fold_ensemble")(spark, dir))
    assert(!plan.contains("Join"), s"join in m36:\n$plan")
    val nScan = "Scan parquet".r.findAllIn(plan).length
    assert(nScan >= 1 && nScan <= 2, s"expected 1 scan node, got $nScan")
  }

  test("group sums use map-side partial aggregation") {
    val plan = planOf(RelationalQueries.queries("a01_group_sums")(spark, dir))
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      s"no partial aggregation:\n$plan")
  }

  test("LSH candidate generation never degenerates to a cartesian product") {
    val plan = planOf(DedupQueries.queries("d03_minhash_lsh")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("systematic-variation fan-out reads the source exactly once") {
    // SURVEY §4: variations must be extra columns through one scan,
    // never N re-scans or self-joins
    val plan = StageQueries.queries("s03_stage2_histograms")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"variation fan-out re-scans the source ($scans scans):\n$plan")
  }

  test("bucketed range join is a hash join, not a nested-loop probe") {
    val plan = planOf(TemporalQueries.queries("j11_bucketed_range_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no hash join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to nested loop:\n$plan")
  }

  test("reference-width variation fan-out (35 variants) reads the source exactly once") {
    val plan = StageQueries.queries("s06_variation_fanout")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"s06 re-scans the source ($scans scans):\n$plan")
  }

  test("no query plan degenerates to a cartesian product (whitelist: tiny config fan-outs)") {
    assumeAllQueryFixtures()
    // CartesianProduct is O(n·m) with no key — at 100 TB it is always a
    // bug unless one side is a literal config list. Streaming queries are
    // excluded because constructing them executes the stream.
    val whitelisted = Set(
      "r08_config_matrix",     // VALUES × VALUES × tiny agg — intentional
      "j05_isolation_crossjoin" // broadcast-of-one-row scalar, SURVEY J5
    )
    val failures = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("n0"))
      .filterNot(whitelisted)
      .flatMap { name =>
        val plan = graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(failures.isEmpty, s"cartesian products in: $failures")
  }

  test("ROOT-fed lookups broadcast the tiny calibration side and prune the scan") {
    assumeQueryFixtures("l14_root_sf_join", "l15_nnlops_interp", "s10_root_scan")
    // l14 (24-cell TH2D SF map) and l15 (18-segment TGraph interp) must
    // join as BROADCASTS of the calibration table — the corpus side
    // never shuffles for a lookup — and the V2 scan must show only the
    // pruned columns (a ROOT scan materializing all 25 columns for a
    // 5-column lookup would be the bug pushdown exists to prevent).
    for (q <- Seq("l14_root_sf_join", "l15_nnlops_interp")) {
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"), s"$q map side not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
    }
    val scanPlan = graft.SparkEntry.queries("s10_root_scan")(spark, dir)
      .queryExecution.executedPlan.toString
    // s10 selects bin/x_low/x_high/content (+hist filter): sumw2, title,
    // entries must be pruned out of the BatchScan output
    assert(scanPlan.contains("BatchScan"), scanPlan)
    assert(!scanPlan.contains("sumw2") && !scanPlan.contains("title") &&
      !scanPlan.contains("entries"), s"s10 scan not pruned:\n$scanPlan")
  }

  test("weighted reservoir sample plans as TakeOrdered, never a global sort") {
    // t34's k-of-corpus selection must be per-partition heaps merged on
    // the driver (TakeOrderedAndProject) — a corpus-wide Sort + Limit
    // would shuffle everything to rank 50 rows
    val plan = graft.SparkEntry.queries("t34_weighted_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"t34 not a TakeOrdered plan:\n$plan")
  }

  test("j18 fuzzy lookup broadcasts the probe dim and argmaxes map-side") {
    // the catalog side is the scan; probes are a literal dim: the join
    // must be a BROADCAST (the length band makes it NLJ, which is fine
    // for a 10-row build side) and the per-probe argmax must carry a
    // partial_max before the exchange
    val plan = planOf(MiscQueries.queries("j18_fuzzy_lookup")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"probe dim not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in j18:\n$plan")
    assert(plan.contains("partial_max"), s"argmax not map-side combined:\n$plan")
  }

  test("t29 DSIR joins the log-ratio dim by broadcast, never shuffling it") {
    val plan = planOf(CurationQueries.queries("t29_dsir_importance")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"t29 shuffled a 64-row dim:\n$plan")
  }

  test("w09 rescoring cuts top-k per partition, no corpus-wide sort") {
    val plan = planOf(SearchQueries.queries("w09_rocchio_prf")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"w09 top-k is not a per-partition heap:\n$plan")
  }

  test("symspell candidate generation is an equi-join on the deletion index") {
    // the edit-distance join must never fall back to an all-pairs
    // comparison: candidates come from a hash/merge join on the
    // neighborhood key, levenshtein runs only on candidates
    val plan = planOf(DedupQueries.queries("d18_symspell_join")(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"symspell degenerated to all-pairs:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), s"no equi-join on the index:\n$plan")
  }

  test("quantile sketch is one scan with partial object aggregation") {
    val plan = SearchQueries.queries("k07_quantile_sketch")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"k07 re-scans lineitem ($scans scans):\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no object hash agg:\n$plan")
    assert(plan.contains("qsketch_buckets"), s"sketch agg not in plan:\n$plan")
  }

  test("TWAP/VWAP shares one partitioning between the window and the groupBy") {
    // LEAD partitions by (user, hr); the groupBy keys are the same —
    // the aggregation must reuse the window's exchange, not add another
    val plan = TemporalQueries.queries("u11_twap_vwap")(spark, dir)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$plan")
  }

  test("target encoding scans events once and works off the cell table") {
    val plan = MLQueries.queries("m10_target_encoding")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"m10 re-scans events ($scans scans):\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("forward as-of runs through the native operator") {
    val plan = TemporalQueries.queries("j16_asof_forward")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin") || plan.contains("BroadcastAsOfJoin"),
      s"forward as-of not on the native exec:\n$plan")
  }

  test("hashed classifier is a pure projection: no joins, no hash shuffle") {
    // t13 must stay scan-speed — only the final presentation sort may
    // exchange (range partitioning), never a hash shuffle or a join
    val plan = planOf(CurationQueries.queries("t13_hashed_classifier")(spark, dir))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle:\n$plan")
  }

  test("KMV sketch aggregates partially before the exchange") {
    val plan = CurationQueries.queries("k04_kmv_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object hash agg:\n$plan")
    assert(plan.contains("partial_kmv_minima") || plan.contains("partial kmv_minima")
      || plan.contains("kmv_minima"), s"kmv_minima not in plan:\n$plan")
  }

  test("star-schema join broadcasts the dimension chain") {
    val plan = planOf(RelationalQueries.queries("r14_star_join")(spark, dir))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 2, s"dimension chain not broadcast:\n$plan")
    assert(plan.contains("EqualTo(o_orderpriority"),
      s"priority filter not pushed to the orders scan:\n$plan")
  }

  test("paragraph rewrite scans the corpus exactly once") {
    val plan = DedupQueries.queries("d14_paragraph_rewrite")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"d14 re-scans the corpus ($scans scans):\n$plan")
  }

  test("logreg gradient step is one scan with partial aggregation") {
    val plan = MLQueries.queries("m05_logreg_step")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"m05 re-scans orders ($scans scans):\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("whole-stage codegen covers the kinematics pipeline") {
    // with AQE the codegen stages exist only in the FINAL plan: run first
    val df = PhysicsQueries.queries("p10_p4_sum")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
  }

  test("BPE pair counting explodes the VOCAB table, not the corpus") {
    // t17's count-then-explode order: the Generate must sit above the
    // word-count aggregate (vocab-sized input), never directly on the
    // corpus scan
    val plan = TextQueries.queries("t17_bpe_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    val genIdx = plan.indexOf("Generate")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx >= 0, s"missing operator:\n$plan")
    // executedPlan prints top-down: the Generate appears ABOVE (before)
    // at least one aggregate it consumes
    assert(plan.indexOf("HashAggregate", genIdx) > genIdx,
      s"no aggregate below the pair explode (corpus-sized explode?):\n$plan")
  }

  test("threshold sweep is one scan with partial aggregation") {
    val plan = MLQueries.queries("m06_threshold_sweep")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"m06 re-scans documents ($scans scans):\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("PQ-ADC distance coding stays inside whole-stage codegen") {
    // the checkpoint barrier exists precisely so the 32-distance
    // projection does not collapse into the argmin CASEs and bail out
    // of codegen — assert no fallback happened by checking the coded
    // plan retains codegen spans
    val df = SimilarityQueries.queries("v09_knn_pq_adc")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in v09:\n$plan")
  }

  test("every SinglePartition exchange funnels only bounded (aggregated/limited) data") {
    assumeAllQueryFixtures()
    // An unpartitioned Window/Sort plans `Exchange SinglePartition`:
    // every row through ONE task — fine on a distribution table or a
    // top-k survivor set, a scale-killer on a corpus-sized input. The
    // invariant: any SinglePartition shuffle must have, somewhere below
    // it, a node that bounds cardinality independent of corpus size —
    // an aggregate (partial aggs bound global aggregates; groupBys
    // bound distribution tables) or a limit (TakeOrderedAndProject /
    // GlobalLimit bound top-k). A raw scan/join/project feeding a
    // SinglePartition exchange fails the suite.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def bounded(p: SparkPlan): Boolean = p.exists {
      case _: BaseAggregateExec        => true
      case _: GlobalLimitExec          => true
      case _: LocalLimitExec           => true
      case _: TakeOrderedAndProjectExec => true
      case _: CollectLimitExec         => true
      case _: ReusedExchangeExec       => true // checked where defined
      case _                           => false
    }
    // AQE off: the static physical tree is traversable (no Adaptive wrapper)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failures = graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_.startsWith("n0")) // constructing a stream executes it
        .flatMap { name =>
          val plan = graft.SparkEntry.queries(name)(spark, dir)
            .queryExecution.executedPlan
          val bad = plan.collect {
            case e: ShuffleExchangeExec
              if e.outputPartitioning == SinglePartition && !bounded(e.child) => e
          }
          if (bad.nonEmpty) Some(name) else None
        }
      assert(failures.isEmpty,
        s"corpus-sized SinglePartition exchange in: $failures")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("runtime bloom-filter join pruning engages on selective shuffle joins") {
    // Spark's row-level runtime filter: a selective dimension filter
    // builds a bloom filter that prunes the fact side BEFORE the join
    // shuffle — at 100 TB this is the difference between shuffling the
    // whole fact table and shuffling the matching slice. Local
    // thresholds are sized for big data; pin them so the tiny test
    // corpus qualifies, and force the shuffle join (broadcast joins
    // don't need the filter).
    import org.apache.spark.sql.functions.col
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("RRF fusion joins only top-K lists (no corpus-sized join input)") {
    val df = SearchQueries.queries("w04_rrf_fusion")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in w04:\n$plan")
    // the fusion's full-outer join sides are rank-filtered windows, so
    // a broadcast/sort-merge on tiny inputs is fine; the guard is that
    // the plan has no nested-loop over the corpus
    assert(!plan.contains("BroadcastNestedLoopJoin Inner"),
      s"nested loop join in w04:\n$plan")
  }

  test("partitioned sink reads prune to the matching partition dirs") {
    // At 100 TB the S4 parquet sink is partitionBy'd (date/source) and a
    // predicate on the partition column must become a PartitionFilter —
    // directory-level pruning that skips whole partitions before any IO
    // — NOT a PushedFilter evaluated per row group. Structural evidence:
    // the scan's partitionFilters is non-empty and only the matching
    // partition's files are planned.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val outDir = java.nio.file.Files.createTempDirectory("plan_part")
    val out = outDir.toString
    try {
      spark.read.parquet(s"$dir/orders.parquet")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      val rd = spark.read.parquet(out).filter(col("o_orderpriority") === "1-URGENT")
      rd.collect()
      val scans = rd.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scan in plan")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"partition predicate not applied at directory level:\n${rd.queryExecution.executedPlan}")
      // pruning really happened: the FileIndex under the scan's own
      // partitionFilters plans only the matching partition's files
      // (DataFrame.inputFiles is relation-level and deliberately unpruned)
      val scan = scans.head
      val planned = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files).map(_.getPath.toString)
      assert(planned.nonEmpty &&
        planned.forall(_.contains("o_orderpriority=1-URGENT")),
        s"scan planned non-matching partitions: ${planned.take(3).mkString(",")}")
      assert(planned.length < rd.inputFiles.length,
        "pruning planned as many files as the full relation")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // The 100 TB skew story has two halves: j09's manual salting for
    // known-hot keys, and AQE's runtime skew-join split for the skew you
    // did NOT predict. Prove the second engages: a 90%-one-key build
    // side against a flat probe side, thresholds pinned so the tiny
    // corpus qualifies (at scale the defaults fire on real sizes), and
    // the executed plan must carry the skew=true SortMergeJoin marker.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // hot key 0 carries 90% of the left side; right side is flat
      val left = spark.range(0, 200000)
        .select(when(col("id") % 10 === 0, col("id") % 1000)
          .otherwise(lit(0L)).as("k"),
          concat(lit("padpadpadpadpadpadpadpad"), col("id")).as("payload"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        col("id").cast("string").as("name"))
      val j = left.join(right, "k").groupBy(col("name"))
        .agg(count(lit(1)).as("c"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not engage:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("l16 zpt JSON lookup broadcasts the 12-bin table") {
    assumeQueryFixtures("l16_zpt_json_lookup")
    val plan = planOf(LookupQueries.queries("l16_zpt_json_lookup")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"zpt lookup not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("m34 scaler standardization broadcasts the 12-row scaler table") {
    assumeQueryFixtures("m34_fold_scalers")
    val plan = planOf(MLQueries.queries("m34_fold_scalers")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"scaler join not broadcast:\n$plan")
  }

  test("m35 real-DNN forward is one scan with no join or extra exchange") {
    assumeQueryFixtures("m35_vbf_dnn_real")
    val plan = planOf(MLQueries.queries("m35_vbf_dnn_real")(spark, dir))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    // one repartition (documented) + the orderBy range exchange only
    val exchanges = "\\+- Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$plan")
  }

  test("m03 skips the fan-out shuffle when the scan already has enough splits") {
    // the guarded repartition (m35 pattern) must be a no-op branch once
    // the source yields >= defaultParallelism splits — at 100 TB a
    // blanket round-robin here is a full shuffle of the events table
    val tmp = java.nio.file.Files.createTempDirectory("graft_m03").toString
    val par = spark.sparkContext.defaultParallelism
    spark.read.parquet(s"$dir/events.parquet").repartition(par * 2)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // pin bin-packing so each small file is its own split (one file's
    // 4 MB open-cost fills a 4 MB partition) — the scan then has 2*par
    // splits and the guard must take the no-op branch
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4194304")
    try {
      val plan = planOf(MLQueries.queries("m03_mlp_forward")(spark, tmp))
      assert(!plan.contains("RoundRobinPartitioning"),
        s"m03 shuffled a well-split scan:\n$plan")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("l26 STXS lookup is the keyed broadcast plan shape") {
    val plan = planOf(WeightVariationQueries.queries("l26_stxs_thu")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"25-row STXS dim not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("l25 LHE cascade is a single-scan projection: no join, no explode") {
    val plan = planOf(
      WeightVariationQueries.queries("l25_lhe_scale_weights")(spark, dir))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Generate"),
      s"jagged array exploded instead of staying in-row:\n$plan")
  }

  test("s14 ROOT flagship prunes the tree scan to the two needed branches") {
    assumeQueryFixtures("s14_root_stage1")
    val df = StageQueries.queries("s14_root_stage1")(spark, dir)
    val plan = planOf(df)
    // column pruning pushed into the connector: the scan must not carry
    // the unused file/dir columns
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(df.count() > 0)
  }
}
