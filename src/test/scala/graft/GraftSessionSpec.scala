package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main and the test suite build their session through
  * [[GraftSession]], so the tests run under the configuration users
  * run, and the mains agree on how `SPARK_GRAFT_CPUS` is read. */
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

  test("SPARK_GRAFT_CPUS: unset means every core, else a positive integer") {
    assert(GraftSession.cores(None) == Right(Runtime.getRuntime.availableProcessors()))
    assert(GraftSession.cores(Some("8")) == Right(8))
    Seq("", "0", "-1", "abc", "not-a-number").foreach { v =>
      assert(GraftSession.cores(Some(v)) == Left(s"SPARK_GRAFT_CPUS=$v is not a core count"))
    }
  }
}
