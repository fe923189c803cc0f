package graft

import java.nio.file.{Files, Paths}

/** The three-stage pipeline produces consistent artifacts end-to-end:
  * stage-1 rows survive the region partitioning, stage-2 histogram
  * totals equal the stage-1 population they were filled from, and
  * stage-3 datacards exist per region. */
class RunPipelineSpec extends SparkSpec {

  test("stage1 -> stage2 -> stage3 artifacts are consistent") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val dir = sf("sf0.001")
    // run stages through the same code path as the CLI (shared session)
    val stage1 = queries.StageQueries.queries("s01_stage1_pipeline")(spark, dir)
    stage1.write.mode("overwrite").partitionBy("region").parquet(s"$out/stage1")
    val hist = queries.StageQueries.queries("s03_stage2_histograms")(spark, dir)
    hist.write.mode("overwrite").parquet(s"$out/stage2_histograms")
    val yields = queries.StageQueries.queries("s04_stage3_templates")(spark, dir)
    val cards = report.Datacards.renderAll(yields)
    cards.foreach { case (region, text) =>
      Files.createDirectories(Paths.get(s"$out/stage3_datacards"))
      Files.writeString(Paths.get(s"$out/stage3_datacards/$region.txt"), text)
    }

    // stage-1 round-trips through the partitioned layout
    val back = spark.read.parquet(s"$out/stage1")
    assert(back.count() == stage1.count() && back.count() > 0)
    assert(back.columns.toSet == stage1.columns.toSet)

    // stage-2 nominal yield equals the sum over the histogram table
    import org.apache.spark.sql.functions._
    val histBack = spark.read.parquet(s"$out/stage2_histograms")
    val nomSum = histBack.filter(col("variation") === "nominal")
      .agg(sum(col("value"))).head.getDouble(0)
    val yieldSum = yields.agg(sum(col("yield_nominal"))).head.getDouble(0)
    assert(math.abs(nomSum - yieldSum) / yieldSum < 1e-5,
      s"stage2 hist total $nomSum != stage3 yields $yieldSum")

    // stage-3: one datacard per region present in the yields
    val regions = yields.select("region").distinct().collect().map(_.getString(0))
    regions.foreach { r =>
      assert(Files.exists(Paths.get(s"$out/stage3_datacards/$r.txt")))
    }

    // stage-2 variation table carries the full reference width
    val variations = queries.StageQueries.queries("s06_variation_fanout")(spark, dir)
    variations.write.mode("overwrite").parquet(s"$out/stage2_variations")
    val nVar = spark.read.parquet(s"$out/stage2_variations")
      .select("variation").distinct().count()
    assert(nVar == 35, s"expected 35 variants (nominal + 22 JES + 12 JER), got $nVar")
  }
}

/** `RunPipeline.run` itself: every table it writes holds the rows of the
  * StageQueries query it stands for, the stage-3 files are those the
  * report writers make from those queries, and each result is computed
  * once — lineitem is scanned once each for s01, s03 and s06. Its four
  * chains run on threads of their own: the jobs carry the caller's
  * local properties, a failure is thrown only once every chain has
  * ended, and the CLI exits 1 on it. */
class RunPipelineRunSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.classic.GraftBridge
  import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.util.QueryExecutionListener
  import queries.StageQueries

  private val dir = sf("sf0.001")

  /** The file scans of every SQL execution `body` runs on `s`. */
  private def scansOf(s: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[FileSourceScanExec] = {
    val scans = scala.collection.mutable.ArrayBuffer.empty[FileSourceScanExec]
    val walk = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans.synchronized {
          scans ++= walk.collect(qe.executedPlan) { case f: FileSourceScanExec => f }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBridge.drainListenerBus(s.sparkContext, 10000L)
    s.listenerManager.register(listener)
    try { body; GraftBridge.drainListenerBus(s.sparkContext, 10000L) }
    finally s.listenerManager.unregister(listener)
    scans.toSeq
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private def table(path: String, like: DataFrame): Seq[String] =
    rows(spark.read.parquet(path).select(like.columns.map(col): _*))

  test("RunPipeline.run writes each stage's result, computing each once") {
    val out = Files.createTempDirectory("graft_run").toString
    // a session of its own, so its listener sees this run's executions only
    val session = spark.newSession()
    val scans = scansOf(session)(RunPipeline.run(session, dir, out))

    def q(name: String) = StageQueries.queries(name)(spark, dir)
    Seq("stage1" -> "s01_stage1_pipeline",
      "stage2_histograms" -> "s03_stage2_histograms",
      "stage2_unbinned" -> "s05_unbinned_save",
      "stage2_variations" -> "s06_variation_fanout").foreach { case (t, name) =>
      val direct = q(name)
      assert(table(s"$out/$t", direct) == rows(direct), s"$t differs from $name")
    }

    val cards = report.Datacards.renderAll(q("s04_stage3_templates"))
    assert(cards.nonEmpty)
    cards.foreach { case (region, text) =>
      assert(Files.readString(Paths.get(s"$out/stage3_datacards/$region.txt")) == text,
        s"datacard $region differs")
    }
    val root = Files.createTempDirectory("graft_run_root").toString + "/t.root"
    report.TemplateExport.writeTemplates(q("s03_stage2_histograms"), root)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(root)),
      Files.readAllBytes(Paths.get(s"$out/stage3_templates.root"))),
      "ROOT templates differ")

    def over(name: String) =
      scans.filter(_.relation.location.rootPaths.exists(_.toString.endsWith(name)))
    assert(over("lineitem.parquet").size == 3,
      s"lineitem scanned ${over("lineitem.parquet").size} times, not once each for s01, s03, s06")
    // the unbinned inputs come from the written stage 1, h-peak only
    val stage1Reads = over("stage1")
    assert(stage1Reads.size == 1 && stage1Reads.forall(_.partitionFilters.nonEmpty),
      s"stage-1 reads: ${stage1Reads.map(_.partitionFilters)}")
  }

  test("s04 starts no job while it is built beyond s03's, and scans lineitem once when it runs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val session = spark.newSession()
    val sc = session.sparkContext
    /** The jobs started while `q` is built, and the built DataFrame. */
    def build(q: String): (Int, DataFrame) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      GraftBridge.drainListenerBus(sc, 10000L)
      sc.addSparkListener(listener)
      try {
        val df = StageQueries.queries(q)(session, dir)
        GraftBridge.drainListenerBus(sc, 10000L)
        (jobs.get, df)
      } finally sc.removeSparkListener(listener)
    }
    // building s03 starts the one job of reading lineitem's Parquet
    // schema; s04 is built on s03 and must add none
    val (s03Jobs, _) = build("s03_stage2_histograms")
    val (s04Jobs, s04) = build("s04_stage3_templates")
    assert(s04Jobs == s03Jobs, s"building s04 started $s04Jobs jobs, s03 $s03Jobs")
    val scans = scansOf(session)(s04.collect())
      .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("lineitem.parquet")))
    assert(scans.size == 1, s"s04 scanned lineitem ${scans.size} times")
  }

  test("RunPipeline.run's jobs carry the caller's local properties and output stream") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val out = Files.createTempDirectory("graft_run_tags").toString
    val sc = spark.sparkContext
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(String.valueOf(e.properties.getProperty("graft.test.caller")))
    }
    val printed = new java.io.ByteArrayOutputStream
    GraftBridge.drainListenerBus(sc, 10000L)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.caller", "run-caller")
    try {
      Console.withOut(printed)(RunPipeline.run(spark, dir, out))
      GraftBridge.drainListenerBus(sc, 10000L)
    } finally {
      sc.setLocalProperty("graft.test.caller", null)
      sc.removeSparkListener(listener)
    }
    val seen = tags.toArray.toSeq
    assert(seen.nonEmpty && seen.forall(_ == "run-caller"),
      s"job tags: ${seen.groupBy(identity).view.mapValues(_.size).toMap}")
    val lines = printed.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.startsWith("[pipeline] ")) == 7, lines.mkString("\n"))
  }

  private def pipelineThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-pipeline-") && t.isAlive)
  }

  test("RunPipeline.run throws the failed chain's error once every chain has ended") {
    val noOrders = Files.createTempDirectory("graft_run_no_orders").toString
    Files.createSymbolicLink(Paths.get(s"$noOrders/lineitem.parquet"),
      Paths.get(s"$dir/lineitem.parquet"))
    val out = Files.createTempDirectory("graft_run_fail").toString
    // Spark attaches a caller stack trace as suppressed: count only the
    // failures of other chains
    def chainFailures(e: Throwable) =
      e.getSuppressed.toSeq.filter(_.isInstanceOf[org.apache.spark.sql.AnalysisException])
    val e = intercept[org.apache.spark.sql.AnalysisException](
      RunPipeline.run(spark, noOrders, out))
    assert(e.getMessage.contains(s"$noOrders/orders.parquet"), e.getMessage)
    assert(chainFailures(e).isEmpty, chainFailures(e))
    assert(pipelineThreads.isEmpty, s"still running: ${pipelineThreads.map(_.getName)}")
    // the chains that do not read orders ran to the end
    Seq("stage1", "stage2_unbinned", "stage2_histograms", "stage2_variations")
      .foreach(t => assert(Files.exists(Paths.get(s"$out/$t/_SUCCESS")), t))
    assert(Files.exists(Paths.get(s"$out/stage3_templates.root")))

    // every chain fails: the first failure is thrown, the others ride along
    val empty = Files.createTempDirectory("graft_run_none").toString
    val all = intercept[org.apache.spark.sql.AnalysisException](
      RunPipeline.run(spark, empty, out))
    assert(chainFailures(all).size == 3, all.getSuppressed.toSeq)
    assert(pipelineThreads.isEmpty, s"still running: ${pipelineThreads.map(_.getName)}")
  }

  test("RunPipeline.main reports a failed run and exits 1") {
    val in = Files.createTempDirectory("graft_run_main")
    Files.createSymbolicLink(in.resolve("lineitem.parquet"),
      Paths.get(s"$dir/lineitem.parquet"))
    // present, so the input check passes, but no parquet schema to read
    Files.createDirectory(in.resolve("orders.parquet"))
    val stderr = in.resolve("stderr.txt").toFile
    val jvmOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmOpens ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.RunPipeline", in.toString, in.resolve("out").toString)
    val pb = new ProcessBuilder(cmd: _*).redirectOutput(in.resolve("stdout.txt").toFile)
      .redirectError(stderr)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val finished = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val err = Files.readString(stderr.toPath)
    assert(finished && p.exitValue() == 1, s"exit ${if (finished) p.exitValue() else "timeout"}\n$err")
    assert(err.linesIterator.exists(_.startsWith("graft.RunPipeline: failed: ")), err)
  }

  test("RunPipeline names the first missing input table") {
    val empty = Files.createTempDirectory("graft_run_empty").toString
    assert(RunPipeline.missingInput(empty).contains(s"$empty/lineitem.parquet"))
    assert(RunPipeline.missingInput(dir).isEmpty)
    val onlyLineitem = Files.createTempDirectory("graft_run_li").toString
    Files.createSymbolicLink(Paths.get(s"$onlyLineitem/lineitem.parquet"),
      Paths.get(s"$dir/lineitem.parquet"))
    assert(RunPipeline.missingInput(onlyLineitem).contains(s"$onlyLineitem/orders.parquet"))
  }
}
