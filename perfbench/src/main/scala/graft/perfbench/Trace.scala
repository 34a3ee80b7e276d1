package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes held in Spark block storage by RDD blocks — caches and
  * `localCheckpoint` blocks, in memory and on disk — tracked from
  * block-update events, with a peak that is re-armed per timed step.
  * Removing a whole RDD (an unpersist, or the context cleaner dropping an
  * RDD the driver no longer references) posts no block updates, only an
  * unpersist event, which releases every block of that RDD.
  */
final class StorageTracker extends SparkListener {
  private val blocks = mutable.HashMap.empty[(Int, Int, String), Long]
  private var current = 0L
  private var base = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, id.splitIndex, info.blockManagerId.executorId)
      val bytes =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += bytes - blocks.getOrElse(key, 0L)
      if (bytes > 0) blocks(key) = bytes else blocks.remove(key)
      peak = math.max(peak, current)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_._1 == e.rddId).toList
    gone.foreach(k => current -= blocks.remove(k).getOrElse(0L))
  }

  /** Re-arm the peak: from now on it counts bytes above what is held now. */
  def resetPeak(): Unit = synchronized { base = current; peak = current }
  def peakBytes: Long = synchronized(peak - base)
  def heldBytes: Long = synchronized(current)
}

/** One job as the scheduler reported it (times in epoch ms). */
final case class JobRec(startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One finished task attempt. `retried` marks a failed, killed, re-run or
  * speculative attempt.
  */
final case class TaskRec(stageId: Int, durationMs: Long, cpuNs: Long,
                         shuffleWriteBytes: Long, diskSpillBytes: Long,
                         retried: Boolean)

/** Raw job and task events, in arrival order. */
final class JobRecorder extends SparkListener {
  private val starts = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val ends = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts += ((e.jobId, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ends(e.jobId) = e.time
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += TaskRec(e.stageId, i.duration,
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      retried = !i.successful || i.attemptNumber > 0 || i.speculative)
  }

  def jobCount: Int = synchronized(starts.length)
  def jobsFrom(from: Int): Seq[JobRec] = synchronized {
    starts.drop(from).map { case (id, s, st) => JobRec(s, ends.getOrElse(id, -1L), st) }.toSeq
  }
  def tasksOf(stageIds: Set[Int]): Seq[TaskRec] = synchronized {
    tasks.filter(t => stageIds.contains(t.stageId)).toSeq
  }
}

/** The observation metrics the program already emits (`Dataset.observe`:
  * the union-find `uf_round_*` stats, the LSH cap-drop count,
  * `sig_metrics`), read from outside as each query finishes.
  */
final class ObservedMetrics extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[(String, Row)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qe.observedMetrics.foreach(seen += _) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def count: Int = synchronized(seen.length)
  def from(i: Int): Seq[(String, Row)] = synchronized(seen.drop(i).toSeq)
}

/** Per-span accounting, from the listeners' events inside the span. */
final case class SpanStats(name: String, wallS: Double, jobs: Int, driverGapS: Double,
                           taskCpuS: Double, occupancy: Double, shuffleMb: Double,
                           spillMb: Double, gcS: Double, maxTaskS: Double,
                           failedTasks: Int, observed: Seq[(String, Row)]) {
  def metrics: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"), ("jobs", jobs.toDouble, "count"),
    ("driver_gap_s", driverGapS, "s"), ("task_cpu_s", taskCpuS, "s"),
    ("occupancy", occupancy, "ratio"), ("shuffle_mb", shuffleMb, "MB"),
    ("spill_mb", spillMb, "MB"), ("gc_s", gcS, "s"), ("max_task_s", maxTaskS, "s"),
    ("failed_tasks", failedTasks.toDouble, "count"))
    .map { case (k, v, u) => (s"$name.$k", v, u) }
}

object SpanStats {
  /** A span the workload's composition does not call: every figure 0. */
  def absent(name: String): SpanStats =
    SpanStats(name, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil)
}

/** Sequential spans around calls into the engine's layers. The listener bus
  * is drained at both span edges, so every job, task and observation event
  * recorded between the edges belongs to the span; nothing inside the
  * engine is changed.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val jobsL = new JobRecorder
  private val obsL = new ObservedMetrics
  sc.addSparkListener(jobsL)
  spark.listenerManager.register(obsL)
  val spans = mutable.ArrayBuffer.empty[SpanStats]

  private def drain(): Unit = shim.drainListenerBus(sc, 60000)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def span[T](name: String)(f: => T): T = {
    drain()
    val j0 = jobsL.jobCount
    val o0 = obsL.count
    val gc0 = gcMs()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = f
    val wallS = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    val gcS = (gcMs() - gc0) / 1e3
    drain()
    val jobs = jobsL.jobsFrom(j0)
    val tasks = jobsL.tasksOf(jobs.flatMap(_.stageIds).toSet)
    val coveredS =
      Stats.coveredLength(jobs.map(j => (j.startMs, j.endMs)), t0Ms, t1Ms) / 1e3
    val taskS = tasks.map(_.durationMs).sum / 1e3
    spans += SpanStats(name, wallS, jobs.length,
      driverGapS = math.max(0.0, wallS - coveredS),
      taskCpuS = tasks.map(_.cpuNs).sum / 1e9,
      occupancy = if (wallS > 0) taskS / (wallS * cores) else 0.0,
      shuffleMb = tasks.map(_.shuffleWriteBytes).sum / 1e6,
      spillMb = tasks.map(_.diskSpillBytes).sum / 1e6,
      gcS = gcS,
      maxTaskS = if (tasks.isEmpty) 0.0 else tasks.map(_.durationMs).max / 1e3,
      failedTasks = tasks.count(_.retried),
      observed = obsL.from(o0))
    out
  }

  def stats(name: String): SpanStats =
    spans.find(_.name == name).getOrElse(SpanStats.absent(name))

  /** Union-find round-pairs observed in a span: the rounds ride
    * `uf_round_<k>` observations, two per round-pair.
    */
  def roundPairs(name: String): Long = {
    val Round = """uf_round_(\d+)""".r
    val ks = stats(name).observed.collect { case (Round(k), _) => k.toLong }
    if (ks.isEmpty) 0L else ks.max / 2
  }

  /** Sum of `field` over the observations of a span, one row per
    * observation name (a cached plan can report its observation again).
    */
  def observedSum(span: String, field: String,
                  names: String => Boolean = _ => true): Long =
    stats(span).observed
      .filter { case (n, r) => names(n) && r.schema != null && r.schema.fieldNames.contains(field) }
      .toMap.values.map(_.getAs[Long](field)).sum
}
