package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Structured Streaming path: the same windowed-agg transform driven through
  * readStream (MemoryStream) must agree with the batch run on the same rows.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Ev(id, new Timestamp(1700000000000L + minute * 60000L), user, typ, v)

  private val rows = Seq(
    ev(1, 0, 1, "click", 1.5), ev(2, 10, 1, "click", 2.5), ev(3, 20, 2, "view", 0.5),
    ev(4, 70, 1, "click", 3.0), ev(5, 80, 2, "view", 1.0), ev(6, 130, 3, "click", 7.25))

  test("streaming hourly agg (MemoryStream + watermark) matches batch on same rows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(rows)

    val agg = StreamOps.hourlyTypeAggStreaming(stream.toDF())
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hourly_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly_out")
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value_q"))
      .collect().map(_.toString).sorted

    val batch = StreamOps.hourlyTypeAgg(rows.toDF())
      .select(col("hour"), col("event_type"), col("n_events"), col("sum_value_q"))
      .collect().map(_.toString).sorted

    assert(streamed.sameElements(batch),
      s"streamed=${streamed.mkString(";")}\nbatch=${batch.mkString(";")}")
  }

  test("sessionize: 30-min gaps split sessions per user") {
    val stats = StreamOps.sessionStats(rows.toDF(), gapMinutes = 30)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // user 1: events at 0,10 | 70 → 2 sessions; user 2: 20 | 80 → 2; user 3: 130 → 1
    assert(stats.toSeq == Seq((1L, 2L, 3L), (2L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("streaming session_window sessionization agrees with batch session counts") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(rows)
    val q = StreamOps.sessionWindows(stream.toDF(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sessions_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_out")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.toSeq == Seq((1L, 2L, 3L), (2L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("streaming exact dedup keeps the first-seen page per content hash") {
    implicit val sqlCtx = spark.sqlContext
    case class Pg(url: String, ts: Timestamp, text: String)
    val stream = MemoryStream[(String, Timestamp, String)]
    val df = stream.toDF().toDF("url", "ts", "text")
    val q = StreamOps.streamingExactDedup(df, "url", "text", "ts")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("exact_out").start()
    val t = new Timestamp(1700000000000L)
    stream.addData(("u1", t, "same text"), ("u2", t, "same text"), ("u3", t, "other"))
    q.processAllAvailable()
    stream.addData(("u4", t, "same text"), ("u5", t, "third"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("exact_out").select("url").as[String].collect().toSet
    // one survivor per distinct text; u2/u4 are duplicates of u1's hash
    assert(kept.intersect(Set("u2", "u4")).isEmpty)
    assert(kept.contains("u3") && kept.contains("u5"))
    assert(kept.count(Set("u1", "u2", "u4")) == 1)
  }

  test("streamingExactDedup transform also runs on a plain batch frame") {
    val t = new Timestamp(1700000000000L)
    val df = Seq(("u1", t, "same"), ("u2", t, "same"), ("u3", t, "other"))
      .toDF("url", "ts", "text")
    val kept = StreamOps.streamingExactDedup(df, "url", "text", "ts")
      .select("url").as[String].collect().toSet
    assert(kept == Set("u1", "u3")) // batch twin: deterministic min-id survivor
  }

  test("streaming near-dup pairs: cross-micro-batch fast-path LSH with capped state") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = new Timestamp(1700000000000L)
    val stream = MemoryStream[(String, String, Timestamp)]
    val sigs = StreamOps.bandedSimhash(stream.toDF().toDF("url", "text", "ts"),
      "url", "text", "ts")
    val q = StreamOps.streamingNearDupPairs(sigs)
      .toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_out").start()
    val base = (1 to 40).map(i => s"token$i word$i").mkString(" ")
    stream.addData(("a", base, t0), ("x", "completely different content entirely unrelated", t0))
    q.processAllAvailable()
    // batch 2: an exact copy (hamming 0) and an unrelated doc
    stream.addData(("b", base, t0), ("y", (100 to 140).map(i => s"zz$i qq$i").mkString(" "), t0))
    q.processAllAvailable()
    // batch 3: at-least-once redelivery of an already-seen doc — must not
    // re-emit pairs or burn a state-capacity slot
    stream.addData(("a", base, t0))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_out")
      .select("id_a", "id_b").distinct().as[(String, String)].collect().toSet
    assert(pairs.contains(("a", "b")), s"cross-batch twin not detected: $pairs")
    assert(!pairs.exists(p => p._1 == "x" || p._2 == "x" || p._1 == "y" || p._2 == "y"))
    val abEmissions = spark.table("neardup_out")
      .filter($"id_a" === "a" && $"id_b" === "b").count()
    assert(abEmissions <= 4, // at most once per colliding band, never re-emitted
      s"redelivery re-emitted pairs: $abEmissions rows for (a,b)")
  }

  test("streaming containment candidates: prefix truncation discovered in-stream") {
    // the batch prefix-band channel, stream-shaped: a 30%-truncation shares
    // the original's leading shingles verbatim, so the pair surfaces as a
    // containment CANDIDATE at stream latency (to be confirmed by the
    // cadence batch verify) even though its SimHash distance would fail the
    // near-dup gate — while unrelated docs never pair
    implicit val sqlCtx = spark.sqlContext
    val t0 = new Timestamp(1700000000000L)
    val stream = MemoryStream[(String, String, Timestamp)]
    val q = StreamOps.streamingContainmentCandidates(
        stream.toDF().toDF("url", "text", "ts"), "url", "text", "ts")
      .toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("containment_out").start()
    val words = (1 to 200).map(i => s"tok$i word$i item$i").mkString(" ")
    val truncated = words.split(" ").take(180).mkString(" ") // ~30% gone
    stream.addData(("orig", words, t0),
      ("other", (500 to 700).map(i => s"zz$i qq$i yy$i").mkString(" "), t0))
    q.processAllAvailable()
    stream.addData(("trunc", truncated, t0)) // arrives a micro-batch later
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("containment_out")
      .select("id_a", "id_b").distinct().as[(String, String)].collect().toSet
    assert(pairs.contains(("orig", "trunc")), s"truncation candidate missed: $pairs")
    assert(!pairs.exists(p => p._1 == "other" || p._2 == "other"),
      s"unrelated doc paired: $pairs")
    // sanity: the pair is genuinely beyond the near-dup SimHash gate, i.e.
    // this channel found something streamingNearDupPairs cannot
    val h = spark.table("containment_out")
      .filter($"id_a" === "orig" && $"id_b" === "trunc")
      .select("hamming").as[Int].head()
    info(s"containment candidate at simhash hamming $h")
  }

  test("streaming near-dup state expires by watermark TTL; in-horizon twins still pair") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, Timestamp)]
    val sigs = StreamOps.bandedSimhash(stream.toDF().toDF("url", "text", "ts"),
      "url", "text", "ts", watermark = "10 minutes")
    val q = StreamOps.streamingNearDupPairs(sigs, stateTtlMs = 10L * 60 * 1000)
      .toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_ttl_out").start()
    def at(hours: Int) = new Timestamp(1700000000000L + hours * 3600L * 1000)
    def doc(i: Int) = (100 to 140).map(j => s"w${i}x$j tk${i}y$j").mkString(" ")
    def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum

    stream.addData(("a1", doc(1), at(0)), ("b1", doc(1), at(0)))
    q.processAllAvailable()
    val s1 = stateRows
    // each batch jumps one hour of event time — 6x the watermark+TTL
    // horizon — so earlier buckets must expire as the watermark passes them
    stream.addData(("a2", doc(2), at(1)), ("b2", doc(2), at(1)))
    q.processAllAvailable()
    stream.addData(("a3", doc(3), at(2)), ("b3", doc(3), at(2)))
    q.processAllAvailable()
    stream.addData(("a4", doc(4), at(3)), ("b4", doc(4), at(3)))
    q.processAllAvailable()
    val s4 = stateRows
    // a twin arriving INSIDE the live horizon still pairs across batches
    stream.addData(("a4twin", doc(4), at(3)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_ttl_out")
      .select("id_a", "id_b").distinct().as[(String, String)].collect().toSet
    assert(pairs.contains(("a1", "b1")) && pairs.contains(("a4", "b4")),
      s"same-batch twins missing: $pairs")
    assert(pairs.contains(("a4", "a4twin")), s"in-horizon cross-batch twin missing: $pairs")
    assert(s4 <= s1 * 2,
      s"state grew with stream lifetime instead of the watermark horizon: s1=$s1 s4=$s4")
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

  test("cadence recipe: streamed state batch-clusters the containment kinds " +
      "the streaming fast path can't see") {
    // the operator contract from streamingIngest's docstring, END-TO-END:
    // a continuously-arriving crawl commits signature epochs per micro-batch
    // (fast-path near-dup only sees SimHash-pigeonhole pairs), then a batch
    // clusterEpoch on a cadence over the SAME stateDir resolves the
    // containment / sub-Jaccard kinds (mid_quote, truncate_60/30) from the
    // persisted signatures WITHOUT re-fingerprinting anything
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

  test("mapGroupsWithState: running per-user counts accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamOps.UserEvent]
    val counts = StreamOps.runningUserCounts(stream.toDS())
    val q = counts.toDF().writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ucounts_out").start()

    stream.addData(StreamOps.UserEvent(1, new Timestamp(1L)), StreamOps.UserEvent(1, new Timestamp(2L)))
    q.processAllAvailable()
    stream.addData(StreamOps.UserEvent(1, new Timestamp(3L)), StreamOps.UserEvent(2, new Timestamp(4L)))
    q.processAllAvailable()
    q.stop()

    // update mode emits one row per touched key per batch — the LAST row per
    // user carries the accumulated state
    val last = spark.table("ucounts_out").groupBy("user_id")
      .agg(max("n_events").as("n")).as[(Long, Long)].collect().sortBy(_._1)
    assert(last.toSeq == Seq((1L, 3L), (2L, 1L)))
  }

  test("mapGroupsWithState: idle user state expires by event-time TTL") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamOps.UserEvent]
    // 1-minute TTL, zero-delay watermark: a user idle for >1 min of EVENT
    // time is flushed and dropped from state
    val counts = StreamOps.runningUserCounts(stream.toDS(),
      stateTtlMs = 60L * 1000, watermark = "0 seconds")
    val q = counts.toDF().writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ucounts_ttl_out").start()
    def at(min: Int) = new Timestamp(1700000000000L + min * 60L * 1000)

    stream.addData(StreamOps.UserEvent(1, at(0)), StreamOps.UserEvent(1, at(0)))
    q.processAllAvailable()
    // one hour of event time later: user 1's bucket is far past watermark+TTL
    stream.addData(StreamOps.UserEvent(2, at(60)))
    q.processAllAvailable()
    // next watermark advance fires user 1's timeout (final flush, remove)
    stream.addData(StreamOps.UserEvent(2, at(61)))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val last = spark.table("ucounts_ttl_out").groupBy("user_id")
      .agg(max("n_events").as("n")).as[(Long, Long)].collect().sortBy(_._1)
    assert(last.toSeq == Seq((1L, 2L), (2L, 2L)), s"counts wrong: ${last.toSeq}")
    assert(stateRows <= 1, s"idle user state not expired: $stateRows rows live")
  }
}
