package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.Clustering
import graft.state.Materializer

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** `Clustering.unionFind` on both of its paths — the local finish (default
    * cap) and the contraction loop (cap 0) — with their rows asserted
    * identical; returns the rows and, per path, the log of the queries the
    * run executed.
    */
  def unionFindBothPaths(edges: DataFrame, maxIters: Int = 25)
      : (Array[Row], Seq[SparkTestBase.QueryLog]) = {
    val runs = Seq(Clustering.localFinishCap(spark), 0L).map { cap =>
      val ((schema, rows), seen) = withQueryLog {
        val df = Clustering.unionFindCapped(spark, edges, maxIters, Materializer.local, cap)
        (df.schema, df.collect().sortBy(_.toString))
      }
      (schema, rows, seen)
    }
    val Seq((localSchema, local, localObs), (loopSchema, loop, loopObs)) = runs
    assert(localSchema == loopSchema)
    assert(local.sameElements(loop),
      s"local finish ${local.mkString(",")} != contraction loop ${loop.mkString(",")}")
    (local, Seq(localObs, loopObs))
  }

  /** Run `f` and log the queries it executes; the listener bus is drained
    * before the log is returned.
    */
  def withQueryLog[T](f: => T): (T, SparkTestBase.QueryLog) = {
    val seen = new SparkTestBase.QueryLog
    spark.listenerManager.register(seen)
    try {
      val out = f
      org.apache.spark.sql.graftshim.shim.drainListenerBus(spark.sparkContext, 30000)
      (out, seen)
    } finally spark.listenerManager.unregister(seen)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Dataset actions that finished, in order, and their
    * `Dataset.observe` metrics.
    */
  final class QueryLog extends QueryExecutionListener {
    private val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Row])]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { seen += funcName -> qe.observedMetrics }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def actions: Seq[String] = synchronized(seen.map(_._1).toSeq)
    def observations: Set[String] = synchronized(seen.flatMap(_._2.keys).toSet)

    /** Every observed value of the long metric `field`, in arrival order. */
    def observed(field: String): Seq[Long] = synchronized(seen.flatMap(_._2.values)
      .filter(r => r.schema != null && r.schema.fieldNames.contains(field))
      .map(_.getAs[Long](field)).toSeq)
  }
}
