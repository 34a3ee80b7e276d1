package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Records the worst single-task footprint seen while attached — the
  * skew-stress gate's evidence that the salt/cap machinery keeps every
  * task's input bounded (a mega bucket that escaped both would surface
  * here as one task reading ~bucket²/2 shuffle records).
  */
final class TaskSkewListener extends SparkListener {
  val maxShuffleReadRecords = new AtomicLong(0)
  val maxTaskMillis = new AtomicLong(0)
  // totals for run-to-run attribution (the r4 heap lesson: wall-time spread
  // with FLAT task CPU is scheduling/co-tenancy; spread with INFLATED task
  // CPU is the memory-stall regime)
  val totalTaskCpuNs = new AtomicLong(0)
  val totalGcMs = new AtomicLong(0)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    // SUCCESSFUL attempts only: a failed or killed-speculative attempt's
    // metrics would double-count work in the totals ledger and could set
    // the skew maxima from an attempt whose results were discarded —
    // tripping the quadratic gate (or inflating task CPU attribution) on
    // evidence the job never committed
    if (m != null && te.reason == org.apache.spark.Success) {
      maxShuffleReadRecords.getAndAccumulate(
        m.shuffleReadMetrics.recordsRead, math.max)
      maxTaskMillis.getAndAccumulate(m.executorRunTime, math.max)
      totalTaskCpuNs.addAndGet(m.executorCpuTime)
      totalGcMs.addAndGet(m.jvmGCTime)
    }
  }
}

object TaskSkewListener {
  /** Run `f` with a fresh listener attached; returns (result, listener). */
  def measure[T](spark: SparkSession)(f: => T): (T, TaskSkewListener) = {
    val l = new TaskSkewListener
    spark.sparkContext.addSparkListener(l)
    try { val r = f; (r, l) }
    finally {
      // flush queued task-end events before reading the maxima
      org.apache.spark.sql.graftshim.shim.drainListenerBus(spark.sparkContext, 30000)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
