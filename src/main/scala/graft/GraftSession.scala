package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{GraftExtensions, GraftFunctions}

/** Library entry point for users: a SparkSession builder with graft's
  * recommended configuration and native functions pre-registered.
  *
  *   val spark = GraftSession.local(cores = 32)
  *   // or attach to an existing session:
  *   GraftSession.attach(spark)
  *
  * Every main and the test suite build their session here, so the
  * oracles and the tests check results under the configuration users
  * run. The session carries graft's state from the start, and so do its
  * `newSession()` children: [[GraftExtensions]] injects every function
  * of `GraftFunctions.table`, the as-of join strategy and its pruning
  * rule. The query builders assume such a session: they
  * register no function, add no rule and set none of the confs below.
  * It sets only what differs from Spark's defaults:
  *  - shuffle partitions sized to cores, not Spark's 200 default —
  *    partition count should track parallelism, AQE coalesces up;
  *  - parquet nanos-as-long: NanoAOD-era files carry TIMESTAMP(NANOS),
  *    and so does the test data's `events.parquet`, which Spark 4
  *    refuses to read without it;
  *  - a UTC session time zone, so timestamp casts do not depend on the
  *    host's zone;
  *  - a codegen cache of [[CodegenCacheEntries]] compiled classes:
  *    Spark's default holds 100, just under the working set of one
  *    `RunPipeline.run` iteration, so a repeated pipeline or query mix
  *    recompiles its classes on every pass. With the larger cache the
  *    benchmark's timed pipeline iterations recompile nothing and its
  *    `hmm_pipeline` `op_p50_s` falls (CHANGES.md has the paired runs).
  *    It is a static conf: it takes effect only when the builder
  *    creates the session.
  *
  * AQE with partition coalescing and skew-join splitting, and nested
  * schema pruning, are on by Spark's defaults.
  */
object GraftSession {

  /** Compiled-class cache size (`spark.sql.codegen.cache.maxEntries`). */
  val CodegenCacheEntries = 8192

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    attach(s)
    s
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new GraftExtensions)

  /** Registers the native functions an existing session lacks: the
    * withExtensions path is ignored by getOrCreate when a session
    * already exists. On a session this builder made it changes nothing. */
  def attach(s: SparkSession): Unit = GraftFunctions.register(s)

  /** The core count a main runs on, from the value of
    * `SPARK_GRAFT_CPUS`: every core the JVM can use when it is unset,
    * else a positive integer, or an error naming the value. */
  def cores(env: Option[String]): Either[String, Int] = env match {
    case None => Right(Runtime.getRuntime.availableProcessors())
    case Some(v) => v.toIntOption.filter(_ > 0)
      .toRight(s"SPARK_GRAFT_CPUS=$v is not a core count")
  }

  /** [[cores]] of this process's `SPARK_GRAFT_CPUS`. When it is not a
    * core count, prints `<main>: <error>` and exits 2. */
  def mainCores(main: String): Int =
    cores(sys.env.get("SPARK_GRAFT_CPUS")).fold(
      err => { System.err.println(s"$main: $err"); sys.exit(2) }, identity)

  /** The session of a main: `local[cores]` with `cores` shuffle
    * partitions, no UI and graft's functions attached. */
  def mainSession(cores: Int, logLevel: String): SparkSession = {
    val s = builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    attach(s)
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
