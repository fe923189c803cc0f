package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails leaves no directory in `outDir` (see [[writeQuery]]); the run
  * still exits 0 and ends with one stderr line naming the failed
  * queries. A query list that names an unknown query exits 2 before
  * anything runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only filter; the driver always calls with 2 args
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    // a misspelt name stops the run before a session or any output exists
    for (names <- only; unknown = names -- SparkEntry.queries.keySet if unknown.nonEmpty) {
      System.err.println(s"graft.Verify: unknown query: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // the selected queries' oracles are built here, before any query
    // runs or any output is written: a missing fixture stops the run
    // with refData's message naming the file
    val oracles = try only.fold(SparkEntry.oracleSql)(SparkEntry.oracleSqlFor) catch {
      case e: IllegalStateException =>
        System.err.println(s"graft.Verify: ${e.getMessage}")
        sys.exit(2)
    }
    val spark = GraftSession.mainSession(GraftSession.mainCores("graft.Verify"), "WARN")
    new java.io.File(outDir).mkdirs()
    // warm the session once (Bench's convention) so the first query's
    // stderr timing is not inflated by codegen/broadcast machinery
    // startup — j18 measured 7.2 s cold vs 0.5 s warm for this reason
    // tolerate a dataset dir without lineitem (e.g. an --only run over a
    // fixture dir) — the warm-up is an optimization, never a gate
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case e: Throwable =>
      System.err.println(s"[verify] warm-up skipped: ${e.getMessage}")
    }
    // Per-query execution metrics (round-12 verdict ask #5): the driver
    // runs Verify at BOTH sf0.01 and sf0.1, so recording shuffle-write
    // bytes per query here gives a cheap suite-wide scale decade —
    // tools/shuffle_exponent.py diffs two of these files and flags any
    // query whose shuffle bytes grow superlinearly (known
    // contract-quadratics exempted inline there).
    val listener = new ExecMetricsListener(spark.sparkContext)
    val failed = Seq.newBuilder[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        writeQuery(spark, sfDir, outDir, name, fn)
        // stderr timing of the FULL write path (driver reads stdout
        // only). Bench measures count(), which prunes unreferenced
        // projections — this is the number that catches a query whose
        // cost hides in pruned columns (how x09's O(n^2) decode was
        // found: 487 s here, 0.3 s under count).
        System.err.println(
          f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      listener.record(name)
    }
    try Files.writeString(Paths.get(s"$outDir/exec_metrics.json"), listener.json)
    catch { case e: Throwable =>
      System.err.println(s"[verify] exec_metrics write failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the exit status stays 0: the driver reads each query's output, and
    // one failed query must not void the others
    val failures = failed.result()
    System.err.println(s"[verify] ${failures.size} of ${selected.size} queries failed" +
      (if (failures.isEmpty) "" else failures.sorted.mkString(": ", ", ", "")))
  }

  /** Writes query `name`'s result to `outDir/name` as one parquet file.
    * What an earlier run left there is deleted first, and whatever this
    * write left is deleted when the build or the write throws, so a
    * failed query leaves no output behind. */
  def writeQuery(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Unit = {
    val dest = Paths.get(outDir, name)
    deleteTree(dest)
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dest.toString)
    catch { case e: Throwable => deleteTree(dest); throw e }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally paths.close()
    }
}
