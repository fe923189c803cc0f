package hmmbench

import java.io.{File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.GraftSession

/** Closed-loop benchmark main. One JVM runs one workload on one
  * session with one client: a cold first pass (its end marks set-up
  * time and it is the only warm-up), then a timed window of units
  * started until the window closes. It writes every operation's record,
  * the JVM counters of the window and, when traced, the spans to
  * `<out>/result.json`; `run.py` turns them into metrics.
  *
  * With `--trace 1` the window alternates untraced and traced units (a
  * mix pass or a pipeline iteration), so the traced ops give the
  * per-layer numbers and the untraced ones the tracing overhead.
  *
  * usage: hmmbench.BenchMain --workload <name> --data <dir> --out <dir>
  *          --seconds <s> --seed <n> --cores <n> --trace <0|1>
  */
object BenchMain {

  final case class Opts(workload: String, data: String, out: String,
      seconds: Double, seed: Long, cores: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("seed").toLong,
      m("cores").toInt, m("trace") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(o.cores)
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, o, jvmStartMs)
    o.workload match {
      case "hmm_pipeline" => Pipeline.run(run)
      case "query_mix" => Mix.run(run)
      case "train" => Train.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(o.out, "result.json"), mapper.writeValueAsString(run.record))
    spark.stop()
  }
}

/** One operation as the client saw it. Times are `System.nanoTime`
  * (durations) and epoch milliseconds (to line up with Spark events). */
final case class OpRec(id: Int, pass: Int, phase: String,
    name: String, family: String, startNs: Long, buildNs: Long, endNs: Long,
    startMs: Long, endMs: Long, ok: Boolean, error: String, traced: Boolean,
    markers: Seq[(String, Long)]) {
  def record: Map[String, Any] = Map("id" -> id, "pass" -> pass,
    "phase" -> phase, "name" -> name, "family" -> family,
    "wall_s" -> (endNs - startNs) / 1e9, "build_s" -> (buildNs - startNs) / 1e9,
    "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok, "error" -> error,
    "traced" -> traced, "markers" -> markers.map { case (l, t) =>
      Map("label" -> l, "s" -> (t - startNs) / 1e9) })
}

/** What every workload shares: op records, set-up time and the timed
  * window with its JVM counters. */
final class Run(val spark: SparkSession, val o: BenchMain.Opts, jvmStartMs: Long) {
  val tracer: Option[Tracer] = if (o.trace) Some(new Tracer(spark)) else None
  private val ops = Seq.newBuilder[OpRec]
  private var nextId = 0
  private var setupS = Double.NaN
  private var windowStartNs = 0L
  private var windowEndNs = 0L
  private var counters: Map[String, Double] = Map.empty
  private var extra: Map[String, Any] = Map.empty

  /** Run `body` as one op and record it; an exception fails the op.
    * `body` receives a callback to call when the build step is over. */
  def op(pass: Int, phase: String, name: String, family: String,
      traced: Boolean = false)(body: (() => Unit) => Unit): Unit = {
    val id = nextId
    nextId += 1
    if (traced) Tracer.tag(spark, id, "build")
    val markers = new Markers
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    var t1 = t0
    val built = () => {
      t1 = System.nanoTime()
      if (traced) Tracer.tag(spark, id, "run")
    }
    val err =
      try {
        if (traced) Console.withOut(markers.stream)(body(built)) else body(built)
        ""
      } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally if (traced) Tracer.tag(spark, -1, "")
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    ops += OpRec(id, pass, phase, name, family, t0, t1, t2, ms0,
      System.currentTimeMillis(), err.isEmpty, err, traced, markers.seen)
    if (err.nonEmpty) System.err.println(s"[hmmbench] op $name failed: $err")
  }

  def setupDone(): Unit =
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** The timed window: units run while the window is open and until it
    * has run `minUnits`; the window ends when the last unit has
    * finished. `unit(k, phase, traced)` runs unit k (0, 1, ...). A
    * traced run doubles `minUnits` and traces every second unit. */
  def window(minUnits: Int)(unit: (Int, String, Boolean) => Unit): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val jit0 = jit.getTotalCompilationTime
    val gc0 = gcMs
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgt0 = CodeGenerator.compileTime
    windowStartNs = System.nanoTime()
    val deadline = windowStartNs + (o.seconds * 1e9).toLong
    val units = if (o.trace) 2 * minUnits else minUnits
    var k = 0
    while (k < units || System.nanoTime() < deadline) {
      unit(k, "timed", o.trace && k % 2 == 1)
      k += 1
    }
    windowEndNs = System.nanoTime()
    counters = Map(
      "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "gc_s" -> (gcMs - gc0) / 1e3,
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble,
      "codegen_compile_s" -> (CodeGenerator.compileTime - cgt0) / 1e9,
      "uptime_s" -> rt.getUptime / 1e3)
    // full collections with pauses between them, so the context cleaner
    // can release what the first one found unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    counters ++= Map("retained_heap_mb" -> heap.getUsed / 1048576.0,
      "heap_max_mb" -> heap.getMax / 1048576.0)
  }

  def note(kv: (String, Any)*): Unit = extra ++= kv

  /** The run record written to `result.json`. */
  def record: Map[String, Any] = {
    tracer.foreach(_.drain())
    Map("workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "traced" -> o.trace, "setup_s" -> setupS,
      "window_s" -> (windowEndNs - windowStartNs) / 1e9,
      "counters" -> counters,
      "ops" -> ops.result().map(_.record),
      "trace" -> tracer.map(_.record)) ++ extra
  }
}

/** Records when lines starting with "[pipeline] " are printed on the
  * stream the op's thread prints to, and passes every byte on. */
final class Markers {
  private val seen0 = new ConcurrentLinkedQueue[(String, Long)]()
  private val line = new java.io.ByteArrayOutputStream
  val stream = new PrintStream(new OutputStream {
    override def write(b: Int): Unit = {
      System.out.write(b)
      if (b == '\n') {
        val s = line.toString("UTF-8")
        if (s.startsWith("[pipeline] ")) seen0.add(s.drop(11).takeWhile(_ != ' ') -> System.nanoTime())
        line.reset()
      } else line.write(b)
    }
  }, true)
  def seen: Seq[(String, Long)] = seen0.asScala.toSeq
}

/** `RunPipeline.run` in a closed loop, each iteration into its own
  * output directory. Outputs are checked by `run.py` after the JVM
  * exits: the first iteration against the DuckDB oracle, every later
  * one against the first. */
object Pipeline {
  /** The StageQueries queries whose results stage 3 of `RunPipeline.run`
    * renders into datacards and SVG panels (the ROOT templates come from
    * the stage-2 histogram table, which the iteration itself writes). */
  val Stage3Inputs: Seq[String] = Seq("s04_stage3_templates", "s12_rebin_ratio")

  def run(r: Run): Unit = {
    def iteration(i: Int, phase: String, traced: Boolean): Unit = {
      val dir = new File(r.o.out, s"iter-$i").getPath
      r.op(i, phase, s"iter-$i", "pipeline", traced) { built =>
        built()
        graft.RunPipeline.run(r.spark, r.o.data, dir)
      }
    }
    iteration(0, "cold", traced = false)
    r.setupDone()
    // stage 3 writes text, ROOT and SVG, which DuckDB cannot read: save
    // the query results it renders, for the oracle check
    Stage3Inputs.foreach { q =>
      r.op(0, "check", q, "pipeline") { built =>
        val df = graft.queries.StageQueries.queries(q)(r.spark, r.o.data)
        built()
        df.write.mode("overwrite").parquet(new File(r.o.out, s"stage3-inputs/$q").getPath)
      }
    }
    // the cold iteration is the warm-up; at least two timed ones, so
    // op_p50_s is never one op alone
    r.window(minUnits = 2)((k, phase, traced) => iteration(k + 1, phase, traced))
    // the output tables RunPipeline.run writes, with the oracle of the
    // StageQueries query each one holds
    val oracle = graft.queries.StageQueries.oracle
    r.note(
      "oracle_sql" -> Map(
        "stage1" -> oracle.get("s01_stage1_pipeline"),
        "stage2_histograms" -> oracle.get("s03_stage2_histograms"),
        "stage2_unbinned" -> oracle.get("s05_unbinned_save"),
        "stage2_variations" -> oracle.get("s06_variation_fanout")),
      "stage3_oracle_sql" -> Stage3Inputs.map(q => q -> oracle.get(q)).toMap)
  }
}

/** Loads the classes both workloads use, so that the class-data archive
  * `run.py` records while it builds covers them: one pipeline iteration
  * and every query of the mix once, materialised as the timed ops do. */
object Train {
  def run(r: Run): Unit = {
    r.op(0, "cold", "iter-0", "pipeline") { built =>
      built()
      graft.RunPipeline.run(r.spark, r.o.data, new File(r.o.out, "iter-0").getPath)
    }
    Mix.DefaultList.map(Mix.resolve).foreach { q =>
      r.op(0, "cold", q.name, q.family) { built =>
        val df = q.fam.queries(q.name)(r.spark, r.o.data)
        built()
        Checksum.of(df)
      }
    }
  }
}
