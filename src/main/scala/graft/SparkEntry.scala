package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` aggregate every implemented operator family;
  * each family lives in `graft.queries.*` and contributes DuckDB-checkable
  * (query, oracle SQL) pairs over the /root/testdata tables.
  */
object SparkEntry {

  /** All registered query families. Order irrelevant (keys are unique). */
  private val families: Seq[QueryFamily] = Seq(
    RelationalQueries,
    PhysicsQueries,
    LookupQueries,
    MLQueries,
    TextQueries,
    DedupQueries,
    SimilarityQueries,
    MultimodalQueries,
    StreamQueries,
    StageQueries,
    CatalystQueries,
    CsFrameQueries,
    MiscQueries,
    JaggedQueries,
    TemporalQueries,
    SearchQueries,
    CurationQueries,
    GraphQueries,
    FitQueries,
    CorrectionQueries,
    WeightVariationQueries
  )

  /** Flagship query (SURVEY.md §7.2 slice 0): scan → object filter →
    * top-2 per group (A4) → composite kinematics (P10) → region label
    * (P8) → weighted histogram (A10). Exercises scan, filter, project,
    * window, groupBy-agg in one plan. Runs on sf0.001 unless
    * SPARK_GRAFT_SF_DIR points elsewhere (the driver contract fixes the
    * signature to (SparkSession) => DataFrame, so the dir is ambient).
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.physics.{Kinematics => K, Selections}
    import graft.agg.Histogrammer
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // "muons" = lineitems with decent quantity; pseudo-kinematics derived
    // from uniform columns (discount ∈ [0,0.1], tax ∈ [0,0.08]).
    val objs = li.filter(col("l_quantity") > 5.0)
      .select(
        col("l_orderkey").as("event"),
        col("l_linenumber").as("idx"),
        (col("l_extendedprice") / lit(500.0)).as("pt"),
        (col("l_discount") * 40.0 - 2.0).as("eta"),
        (col("l_tax") * 78.0 - 3.12).as("phi"),
        lit(0.1057).as("m"))
    val w = Window.partitionBy(col("event"))
      .orderBy(col("pt").desc, col("idx").asc)
    val top2 = objs.withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
    val pairs = top2.groupBy(col("event"))
      .agg(
        count(lit(1)).as("n"),
        max(when(col("rank") === 1, col("pt"))).as("pt1"),
        max(when(col("rank") === 1, col("eta"))).as("eta1"),
        max(when(col("rank") === 1, col("phi"))).as("phi1"),
        max(when(col("rank") === 1, col("m"))).as("m1"),
        max(when(col("rank") === 2, col("pt"))).as("pt2"),
        max(when(col("rank") === 2, col("eta"))).as("eta2"),
        max(when(col("rank") === 2, col("phi"))).as("phi2"),
        max(when(col("rank") === 2, col("m"))).as("m2"))
      .filter(col("n") === 2)
    val mass = K.p4SumMass(
      col("pt1"), col("eta1"), col("phi1"), col("m1"),
      col("pt2"), col("eta2"), col("phi2"), col("m2"))
    val withMass = pairs
      .withColumn("mass", mass % lit(160.0))
      .withColumn("region", Selections.regionLabel(col("mass")))
      .withColumn("wgt", lit(1.0))
    Histogrammer.histogram(withMass, Seq(col("region")), col("mass"),
      col("wgt"), 0.0, 160.0, 40)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. Builds
    * every oracle, so a missing fixture throws `refData`'s error. */
  def oracleSql: Map[String, String] =
    families.map(_.oracle.toMap).reduce(_ ++ _)

  /** The key of every oracle, listed without building any. */
  def oracleNames: Set[String] =
    families.flatMap(_.oracle.keysIterator).toSet

  /** The oracles of the named queries only: an oracle derived from a
    * fixture is built, and its file read, only when its query is named. */
  def oracleSqlFor(names: Set[String]): Map[String, String] =
    families.flatMap(f => names.flatMap(n => f.oracle.get(n).map(n -> _))).toMap
}
