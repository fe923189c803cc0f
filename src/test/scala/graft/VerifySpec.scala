package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** `Verify.writeQuery` leaves no output for a query that fails: neither
  * what an earlier run wrote under the query's name nor a partial write
  * of its own. */
class VerifySpec extends SparkSpec {

  test("a failed query leaves no directory; a working one replaces the old output") {
    val out = Files.createTempDirectory("graft_verify")
    val stale = out.resolve("q/part-00000.parquet")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "from an earlier run")

    val e = intercept[IllegalStateException](Verify.writeQuery(spark, sf("sf0.001"),
      out.toString, "q", (_, _) => throw new IllegalStateException("builder failed")))
    assert(e.getMessage == "builder failed")
    assert(!Files.exists(out.resolve("q")), "the builder's failure left a directory")

    // a plan that builds but fails while it runs
    intercept[Exception](Verify.writeQuery(spark, sf("sf0.001"), out.toString, "q",
      (s, _) => s.range(4).select(
        when(col("id") === 2, raise_error(lit("row 2 failed"))).otherwise(col("id")).as("id"))))
    assert(!Files.exists(out.resolve("q")), "the failed write left a directory")

    Verify.writeQuery(spark, sf("sf0.001"), out.toString, "q", (s, _) => s.range(3).toDF("id"))
    assert(spark.read.parquet(out.resolve("q").toString).count() == 3)
  }
}

/** A Verify run given a query list builds only those queries' oracles,
  * so on a machine without the reference fixtures a list of queries
  * that need none runs, while a list naming a fixture query stops with
  * exit 2 naming the file, and so does a list naming a query that does
  * not exist. Runs Verify in a child JVM pointed at a missing reference
  * root. */
class VerifyListSpec extends SparkSpec {

  private def verify(queries: String*): (Int, Path, String, String) = {
    val tmp = Files.createTempDirectory("graft_verify_list")
    val missing = tmp.resolve("no-reference-data").toString
    val out = tmp.resolve("out")
    val stderr = tmp.resolve("stderr.txt").toFile
    val jvmOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmOpens ++ Seq(
      s"-Dgraft.reference.data=$missing", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.Verify", sf("sf0.001"), out.toString, queries.mkString(","))
    val pb = new ProcessBuilder(cmd: _*).directory(tmp.toFile)
      .redirectOutput(tmp.resolve("stdout.txt").toFile).redirectError(stderr)
    pb.environment().remove("GRAFT_REFERENCE_DATA")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val err = Files.readAllLines(stderr.toPath).asScala.takeRight(30).mkString("\n")
    (if (finished) p.exitValue() else -1, out, missing, err)
  }

  test("a list of fixture-free queries runs and dumps only their oracles") {
    val names = Seq("l01_binned_1d", "m01_fold_split")
    val (rc, out, _, err) = verify(names: _*)
    assert(rc == 0, err)
    names.foreach(n => assert(Files.isDirectory(out.resolve(n)), s"no output for $n\n$err"))
    val oracles = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
    assert(oracles.fieldNames.asScala.toSet == names.toSet, err)
  }

  test("a list naming an unknown query exits 2 naming it and writes nothing") {
    val (rc, out, _, err) = verify("l01_binned_1d", "l01_binned_1dd")
    assert(rc == 2, err)
    assert(err.contains("graft.Verify: unknown query: l01_binned_1dd"), err)
    assert(!Files.exists(out), "a run stopped by an unknown query wrote output")
  }

  test("a list naming a fixture query exits 2 naming the missing file") {
    val (rc, out, missing, err) = verify("l01_binned_1d", "m35_vbf_dnn_real")
    assert(rc == 2, err)
    assert(err.contains(s"graft.Verify: reference fixture missing: $missing/trained_models/"), err)
    assert(!Files.exists(out), "a run stopped by a missing fixture wrote output")
  }
}
