package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import graft.plans.GraftFunctions

/** Every main and the test suite build their session through
  * [[GraftSession]], so the tests run under the configuration users
  * run, and the mains agree on how `SPARK_GRAFT_CPUS` is read. The
  * session carries graft's functions and rules from the start, so the
  * query builders leave them as they are, and a query that wants one
  * of graft's optional rewrites applies it to its own DataFrame. */
class GraftSessionSpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] = {
    val paths = Files.walk(Paths.get(root))
    try paths.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally paths.close()
  }

  private def filesContaining(root: String, needle: String): Seq[String] =
    scalaFiles(root).filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).distinct.sorted

  test("only GraftSession builds a session") {
    // split so this file does not match its own search
    assert(filesContaining("src", "SparkSession" + ".builder()") == Seq("GraftSession.scala"))
  }

  test("only GraftSession reads SPARK_GRAFT_CPUS in the program") {
    assert(filesContaining("src/main", "SPARK_GRAFT_CPUS") == Seq("GraftSession.scala"))
  }

  test("the test session carries GraftSession's settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("AQE, its coalescing and skew join, and nested schema pruning are on by default") {
    Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.optimizer.nestedSchemaPruning.enabled")
      .foreach(k => assert(spark.conf.get(k) == "true", k))
  }

  test("the test session resolves graft's functions from SQL text") {
    assert(spark.sql("SELECT delta_r(0.0D, 0.0D, 3.0D, 0.0D)").head().getDouble(0) == 3.0)
  }

  test("only GraftSession and plans/ put graft's functions, rules or confs into a session") {
    val checks = Seq(
      "calls GraftFunctions.register" -> """GraftFunctions\s*\.\s*register\b""".r,
      "assigns experimental.extra*" -> """experimental\s*\.\s*extra\w+\s*(:\+|\+\+)?=(?!=)""".r,
      "sets nanosAsLong" -> """legacy\.parquet\.nanosAsLong""".r)
    val outside = scalaFiles("src/main").filterNot(p =>
      p.getFileName.toString == "GraftSession.scala" || p.getParent.getFileName.toString == "plans")
    for ((what, re) <- checks) {
      val hits = outside.filter(p => re.findFirstIn(Files.readString(p)).isDefined)
        .map(_.getFileName.toString).sorted
      assert(hits.isEmpty, s"$what: $hits")
    }
  }

  /** Each table function's registry entry in `s`, by name. */
  private def entries(s: SparkSession): Map[String, ExpressionInfo] = {
    val reg = s.sessionState.functionRegistry
    GraftFunctions.table.map(f => f.name -> reg.lookupFunction(f.id).orNull).toMap
  }

  test("the test session and its children have every function of graft's table") {
    for (s <- Seq(spark, spark.newSession()); f <- GraftFunctions.table) {
      val info = entries(s)(f.name)
      assert(info != null && info.getClassName == f.className, f.name)
    }
    assert(spark.newSession().sql("SELECT byte_values(CAST('AB' AS BINARY))").head()
      .getSeq[Int](0) == Seq(65, 66))
  }

  test("query builders and attach leave the session's functions and rules as they were") {
    val functions = entries(spark)
    val strategies = spark.experimental.extraStrategies
    val rules = spark.experimental.extraOptimizations
    val confs = spark.conf.getAll
    def unchanged(by: String): Unit = {
      val now = entries(spark)
      functions.foreach { case (name, info) =>
        assert(now(name) eq info, s"$name was registered again by $by")
      }
      assert(spark.experimental.extraStrategies == strategies, s"strategies changed by $by")
      assert(spark.experimental.extraOptimizations == rules, s"rules changed by $by")
      assert(spark.conf.getAll == confs, s"confs changed by $by")
    }
    // one query from each family that used to register functions or add
    // rules, j12, whose as-of join adds its strategy only to a plain
    // session, and s01, which reads its table through `rd`
    Seq("c01_native_histogram", "d02_jaccard_neardup", "m03_mlp_forward",
      "j12_asof_native", "s01_stage1_pipeline")
      .foreach(q => SparkEntry.queries(q)(spark, sf("sf0.001")))
    // j14 and j19 only build: their rewrite is part of the DataFrame's
    // plan, and nothing runs or is persisted until the DataFrame runs
    def build(q: String): DataFrame = {
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, s"$q persisted an RDD")
      df
    }
    /** Whether `df`'s optimized plan has a Generate and an equi-join
      * keyed on the rewrite's `key` column. */
    def rewritten(df: DataFrame, key: String): Boolean = {
      val plan = df.queryExecution.optimizedPlan
      plan.collectFirst { case g: Generate => g }.isDefined &&
        plan.collectFirst {
          case j @ ExtractEquiJoinKeys(_, leftKeys, rightKeys, _, _, _, _, _)
              if (leftKeys ++ rightKeys).exists(_.references.exists(_.name == key)) => j
        }.isDefined
    }
    assert(rewritten(build("j14_range_join_rule"), "_graft_range_bucket"))
    assert(rewritten(build("j19_spatial_rule"), "_graft_cell"))
    unchanged("the query builders")
    GraftSession.attach(spark)
    unchanged("attach")
  }

  /** Every environment variable, system property and `spark.graft.*`
    * key the program reads, with why it stays. */
  private val options: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "the core count of every main",
    "SPARK_GRAFT_SF_DIR" -> "the dataset Bench and SparkEntry.entry read",
    "SPARK_GRAFT_ONLY" -> "Bench's query subset; tools/k_ladder.sh and tools/hub_rehearsal.sh set it",
    "SPARK_GRAFT_WARM" -> "Bench's unmeasured warm pass; the same tools set it",
    "GRAFT_REFERENCE_DATA" -> "where the reference checkout's data files are",
    "graft.reference.data" -> "the same, as a system property",
    "GRAFT_FIXTURES_DIR" -> "where the program's own fixtures are",
    "graft.fixtures.dir" -> "the same, as a system property") ++
    Seq("d02.maxCandidatesPerDoc", "d02.onBudgetExceeded",
      "d07.maxCandidatesPerDoc", "d07.onBudgetExceeded").map(k =>
      s"spark.graft.$k" -> "a candidate budget guard: stops a runaway run; its spec sets it") ++
    Seq("graph.wedgeBudget", "graph.broadcastEdgeCap", "graph.maxWedges",
      "graph.onWedgesExceeded").map(k =>
      s"spark.graft.$k" -> "a wedge budget guard: stops a runaway run; WedgeBudgetSpec sets it")

  test("the program reads only the options on the allow-list, each by its literal name") {
    val reader = """(?:sys\.env|System\.getenv|sys\.props|System\.getProperty)"""
    val named = (reader + """\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*"([^"]+)"""").r
    val graftKey = """"(spark\.graft\.[\w.]*\w)"""".r
    val code = scalaFiles("src/main")
      .flatMap(p => Files.readAllLines(p).asScala.map(p.getFileName.toString -> _))
      .filterNot { case (_, l) => l.trim.startsWith("//") || l.trim.startsWith("*") }
    val unnamed = code.filter { case (_, l) =>
      reader.r.findFirstIn(l).isDefined && named.findFirstIn(l).isEmpty }
    assert(unnamed.isEmpty, s"reads an option whose name is not a literal: $unnamed")
    val read = code.flatMap { case (_, l) =>
      named.findAllMatchIn(l).map(_.group(1)) ++ graftKey.findAllMatchIn(l).map(_.group(1)) }
      .toSet
    assert(read -- options.keySet == Set.empty, "options not on the allow-list")
    assert(options.keySet -- read == Set.empty, "allow-listed options nothing reads")
  }

  test("no query builder sets or unsets a conf; only the stream drive does") {
    val setter = """conf\s*\.\s*(set|unset)\s*\(""".r
    val hits = scalaFiles("src/main").map(p =>
      p.getFileName.toString -> setter.findAllIn(Files.readString(p)).size).filter(_._2 > 0)
    assert(hits == Seq("Streams.scala" -> 3), hits)
    val streams = Files.readString(Paths.get("src/main/scala/graft/streaming/Streams.scala"))
    val drain = streams.substring(streams.indexOf("def drain("), streams.indexOf("def windowedAgg("))
    assert(setter.findAllIn(drain).size == 3)
  }

  test("SPARK_GRAFT_CPUS: unset means every core, else a positive integer") {
    assert(GraftSession.cores(None) == Right(Runtime.getRuntime.availableProcessors()))
    assert(GraftSession.cores(Some("8")) == Right(8))
    Seq("", "0", "-1", "abc", "not-a-number").foreach { v =>
      assert(GraftSession.cores(Some(v)) == Left(s"SPARK_GRAFT_CPUS=$v is not a core count"))
    }
  }
}
