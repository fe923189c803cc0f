package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

/** Creating the query families reads no reference fixture. A JVM whose
  * reference data root does not exist must still initialise
  * `SparkEntry` and list every query; a query or oracle that needs a
  * fixture fails only when it is built or asked for, with `refData`'s
  * message naming the file. The check runs in a child JVM pointed at a
  * missing root, so it holds whether or not this machine has the
  * fixtures. */
class MissingFixturesSpec extends SparkSpec {

  test("SparkEntry initialises without the reference fixtures; fixture queries fail on use") {
    val tmp = Files.createTempDirectory("graft_missing_fixtures")
    val missing = tmp.resolve("no-reference-data").toString
    val stdout = tmp.resolve("stdout.txt").toFile
    val stderr = tmp.resolve("stderr.txt").toFile
    val jvmOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmOpens ++ Seq(
      s"-Dgraft.reference.data=$missing",
      "-cp", sys.props("java.class.path"),
      "graft.MissingFixturesProbe", sf("sf0.001"))
    val pb = new ProcessBuilder(cmd: _*).directory(tmp.toFile)
      .redirectOutput(stdout).redirectError(stderr)
    pb.environment().remove("GRAFT_REFERENCE_DATA")
    val p = pb.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val out = Files.readString(stdout.toPath)
    def log = s"stdout:\n$out\nstderr (tail):\n" +
      Files.readAllLines(stderr.toPath).toArray.takeRight(30).mkString("\n")
    assert(finished && p.exitValue() == 0, s"probe JVM failed\n$log")
    val lines = out.linesIterator.map(_.split(" ", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    assert(lines.get("queries").contains(SparkEntry.queries.size.toString), log)
    assert(lines.get("fixture-queries-registered").contains("true"), log)
    Seq("m35", "oracleSql").foreach { k =>
      val got = lines.getOrElse(k, "")
      assert(got.startsWith("java.lang.IllegalStateException: reference fixture missing: "),
        s"$k: $got\n$log")
      assert(got.contains(missing), s"$k does not name the missing root: $got")
    }
  }
}

/** Child-JVM side of [[MissingFixturesSpec]]: prints one `key outcome`
  * line per check; an initialisation failure exits non-zero. */
object MissingFixturesProbe {
  private def outcome(f: => Any): String =
    try { f; "returned" }
    catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }

  def main(args: Array[String]): Unit = {
    val qs = SparkEntry.queries
    val fixtureQueries = SparkSpec.queryFixtures.keySet
    println(s"queries ${qs.size}")
    println(s"fixture-queries-registered ${fixtureQueries.forall(qs.contains)}")
    val spark = GraftSession.builder("local[1]", 1)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      println(s"m35 ${outcome(qs("m35_vbf_dnn_real")(spark, args(0)))}")
      println(s"oracleSql ${outcome(SparkEntry.oracleSql)}")
    } finally spark.stop()
  }
}
