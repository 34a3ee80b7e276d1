package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** StreamOps: batch sessionization, and streaming ingest (MemoryStream)
  * into the state layer that the batch cadence clusters.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Ev(id, new Timestamp(1700000000000L + minute * 60000L), user, typ, v)

  private val rows = Seq(
    ev(1, 0, 1, "click", 1.5), ev(2, 10, 1, "click", 2.5), ev(3, 20, 2, "view", 0.5),
    ev(4, 70, 1, "click", 3.0), ev(5, 80, 2, "view", 1.0), ev(6, 130, 3, "click", 7.25))

  test("sessionize: 30-min gaps split sessions per user") {
    val stats = StreamOps.sessionStats(rows.toDF(), gapMinutes = 30)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // user 1: events at 0,10 | 70 → 2 sessions; user 2: 20 | 80 → 2; user 3: 130 → 1
    assert(stats.toSeq == Seq((1L, 2L, 3L), (2L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("streamingIngest: micro-batches commit idempotent epochs into the state layer") {
    implicit val sqlCtx = spark.sqlContext
    import graft.state.Checkpoints
    val stateDir = java.nio.file.Files.createTempDirectory("graft-sstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sckpt").toString
    val stream = MemoryStream[(String, String)]
    val q = StreamOps.streamingIngest(
      stream.toDF().toDF("url", "text"), "url", "text", stateDir, ckpt)

    stream.addData(("u1", "alpha beta gamma delta"), ("u2", "epsilon zeta eta theta"))
    q.processAllAvailable()
    val sigs1 = spark.read.parquet(Checkpoints.signaturesPath(stateDir))
    assert(sigs1.count() == 2)
    // batch 2 redelivers u2 (at-least-once source) and adds u3 + a
    // quarantine-bound empty row: the anti-join must commit ONLY u3
    stream.addData(("u2", "epsilon zeta eta theta"), ("u3", "iota kappa lambda mu"),
      ("u4", ""))
    q.processAllAvailable()
    q.stop()
    val sigs2 = spark.read.parquet(Checkpoints.signaturesPath(stateDir))
    assert(sigs2.count() == 3, s"expected 3 signatures, got ${sigs2.count()}")
    assert(sigs2.select("id").distinct().count() == 3)
    assert(sigs2.filter(col("epoch") === 1L).select("id").as[String].collect().toSet
      == Set("u3"))
    // the empty-text row went to quarantine, not signatures
    val quarantined = spark.read.parquet(s"$stateDir/quarantine")
    assert(quarantined.select("id").as[String].collect().toSet == Set("u4"))
    // and the committed state clusters like any batch state
    val clusters = graft.pipeline.DedupPipeline.clusterSignatures(
      spark, Checkpoints.liveSignatures(spark, stateDir), texts = None)
    assert(clusters.count() == 3)
  }

  test("cadence recipe: a batch clusterEpoch over streamed signature epochs " +
      "clusters the containment kinds without re-fingerprinting") {
    // the operator contract from streamingIngest's docstring, END-TO-END:
    // a continuously-arriving crawl commits one signature epoch per
    // micro-batch (no clustering), then a batch clusterEpoch on a cadence
    // over the SAME stateDir ingests nothing new and puts the containment /
    // sub-Jaccard kinds (mid_quote, truncate_60/30) in one cluster from the
    // persisted signatures alone
    implicit val sqlCtx = spark.sqlContext
    import graft.pages.PagesGen
    import graft.state.Checkpoints
    val stateDir = java.nio.file.Files.createTempDirectory("graft-cadence").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cadence-ck").toString
    val pages = PagesGen.pages(spark, 6L, seed = 59L, tokensPerDoc = 120).toDF().cache()
    val rows = pages.select("url", "text").as[(String, String)].collect()

    val stream = MemoryStream[(String, String)]
    val q = StreamOps.streamingIngest(
      stream.toDF().toDF("url", "text"), "url", "text", stateDir, ckpt)
    rows.grouped(math.max(1, rows.length / 3)).foreach { g =>
      stream.addData(g.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamedEpochs = spark.read.parquet(Checkpoints.signaturesPath(stateDir))
      .select("epoch").distinct().count()
    assert(streamedEpochs >= 3, s"expected >=3 streamed epochs, got $streamedEpochs")

    // operator cadence: batch cluster over the streamed state
    val (nNew, nClusters) = Checkpoints.clusterEpoch(spark, pages, "url", "text", stateDir)
    assert(nNew == 0L,
      "cadence clusterEpoch re-fingerprinted rows the stream already committed")
    assert(nClusters > 0)

    val assign = spark.read.parquet(Checkpoints.generationPath(spark, stateDir, "clusters").get)
      .select(col("id"), col("cluster_id"))
    val truth = PagesGen.truthPairs(spark, 6L, seed = 59L).toDF()
      .filter(col("expect_dup") &&
        col("kind").isin("mid_quote", "truncate_60", "truncate_30"))
    val joined = truth
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val missed = joined.filter(col("ca") =!= col("cb")).count()
    assert(missed == 0,
      s"$missed containment pairs unresolved after the batch cadence pass")
  }
}
