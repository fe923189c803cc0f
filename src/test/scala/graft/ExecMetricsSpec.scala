package graft

import org.apache.spark.sql.functions.col

/** Verify's `exec_metrics.json` and Bench's `exec_metrics` record come
  * from one renderer, whose keys and field order the tools read
  * (`tools/shuffle_exponent.py`, `tools/k_ladder_report.py`,
  * `tools/hub_rehearsal.sh`). */
class ExecMetricsSpec extends SparkSpec {

  test("the renderer keeps the query order and field order, and leaves out queries that neither shuffled nor spilled") {
    val rows = Seq(
      "b_shuffles" -> (10L, 0L, 0L, 7L),
      "a_quiet" -> (0L, 0L, 0L, 99L),
      "c_spills_to_disk" -> (0L, 0L, 3L, 0L),
      "d_spills_in_memory" -> (0L, 2L, 0L, 5L))
    assert(ExecMetricsListener.json(rows) ==
      """{"b_shuffles":{"shuffle_write":10,"spill_mem":0,"spill_disk":0,"peak_exec_mem":7},""" +
      """"c_spills_to_disk":{"shuffle_write":0,"spill_mem":0,"spill_disk":3,"peak_exec_mem":0},""" +
      """"d_spills_in_memory":{"shuffle_write":0,"spill_mem":2,"spill_disk":0,"peak_exec_mem":5}}""")
    assert(ExecMetricsListener.json(Nil) == "{}")
  }

  test("record attributes each query's shuffle to it, and a dropped snapshot to none") {
    val sc = spark.sparkContext
    val listener = new ExecMetricsListener(sc)
    try {
      def shuffle(): Unit =
        spark.range(1000).repartition(4, col("id")).groupBy(col("id") % 3).count().collect()
      shuffle()
      listener.record("shuffles")
      shuffle()
      listener.snapshot()
      spark.range(10).collect()
      listener.record("quiet")
      assert(listener.json.matches(
        """\{"shuffles":\{"shuffle_write":[1-9]\d*,"spill_mem":\d+,"spill_disk":\d+,"peak_exec_mem":\d+\}\}"""),
        listener.json)
    } finally sc.removeSparkListener(listener)
  }
}
