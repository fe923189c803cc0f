package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.classic.GraftBridge

/** Accumulates task-level execution metrics between snapshots so Bench
  * and Verify can attribute shuffle-write bytes, spill (memory+disk),
  * and peak execution memory to the query running at the time. Task-end
  * events arrive on the listener bus slightly after the action returns,
  * so [[snapshot]] drains the bus first; the attribution is per-query
  * exact in the sequential, single-query execution model both mains
  * use. Registers itself on `sc`. */
private[graft] final class ExecMetricsListener(sc: SparkContext) extends SparkListener {
  private val shuffleWrite = new AtomicLong
  private val spillMem = new AtomicLong
  private val spillDisk = new AtomicLong
  private val peakMem = new AtomicLong
  private val recorded = Seq.newBuilder[(String, ExecMetricsListener.Bytes)]
  sc.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
    }
  }

  /** Drains the listener bus, then returns the (shuffleWriteBytes,
    * spillMemBytes, spillDiskBytes, peakExecMemBytes) since the last
    * snapshot and resets them. A caller that drops the result keeps
    * work it does not attribute out of the next [[record]]. */
  def snapshot(): ExecMetricsListener.Bytes = {
    GraftBridge.drainListenerBus(sc, 2000L)
    (shuffleWrite.getAndSet(0L), spillMem.getAndSet(0L),
      spillDisk.getAndSet(0L), peakMem.getAndSet(0L))
  }

  /** Attributes the metrics since the last snapshot to query `name`. */
  def record(name: String): Unit = recorded += (name -> snapshot())

  /** The recorded queries as [[ExecMetricsListener.json]]. */
  def json: String = ExecMetricsListener.json(recorded.result())
}

private[graft] object ExecMetricsListener {
  type Bytes = (Long, Long, Long, Long)

  /** `{"<query>":{"shuffle_write":…,"spill_mem":…,"spill_disk":…,
    * "peak_exec_mem":…},…}` in `rows`' order, the form Verify's
    * `exec_metrics.json` and Bench's `exec_metrics` record take. A query
    * that neither shuffled nor spilled is left out, so the record stays
    * compact: most queries do neither at test scale, and the ones that
    * do are the ones a postmortem needs. */
  def json(rows: Seq[(String, Bytes)]): String = rows.collect {
    case (k, (sw, sm, sd, pm)) if sw > 0 || sm > 0 || sd > 0 =>
      s""""$k":{"shuffle_write":$sw,"spill_mem":$sm,"spill_disk":$sd,"peak_exec_mem":$pm}"""
  }.mkString("{", ",", "}")
}
