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
  * Config choices (and why they matter at cluster scale):
  *  - shuffle partitions sized to cores, not Spark's 200 default —
  *    partition count should track parallelism, AQE coalesces up;
  *  - AQE on: runtime partition coalescing and skew-join splitting;
  *  - parquet nanos-as-long: NanoAOD-era files carry TIMESTAMP(NANOS);
  *  - nested schema pruning: jagged event tables must prune struct
  *    fields into the scan, not read whole collections;
  *  - a codegen cache of [[CodegenCacheEntries]] compiled classes:
  *    Spark's default holds 100, just under the working set of one
  *    `RunPipeline.run` iteration, so a repeated pipeline or query mix
  *    recompiles its classes on every pass. With the larger cache the
  *    benchmark's timed pipeline iterations recompile nothing and its
  *    `hmm_pipeline` `op_p50_s` falls (CHANGES.md has the paired runs).
  *    It is a static conf: it takes effect only when the builder
  *    creates the session.
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
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new GraftExtensions)

  /** Register graft's native functions on an existing session (the
    * withExtensions path is ignored by getOrCreate when a session
    * already exists). Idempotent. */
  def attach(s: SparkSession): Unit = GraftFunctions.register(s)
}
