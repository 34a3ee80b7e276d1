package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

import graft.state.Checkpoints
import graft.text.{ParagraphDedup, SpanDedup}

/** Cross-epoch sub-document dedup state: the `--para-dedup` /
  * `--span-dedup` first-occurrence elections hold ACROSS epochs, survive
  * crashed epochs bit-identically, and keep the at-scale plan shape (seen
  * side bucketed, batch side the only exchange).
  */
class SubDocStateSpec extends SparkTestBase {
  import spark.implicits._

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-subdoc").toString

  private def run(pages: Seq[(String, String)], state: String,
                  extra: Seq[String] = Nil): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-subdoc-pages")
    pages.toDF("url", "text").write.mode("overwrite").parquet(dir.toString)
    Main.run(spark, Main.parse(
      Seq("--pages", dir.toString, "--state", state) ++ extra).toOption.get)
  }

  private def storedHashes(state: String): Map[String, String] = {
    val rows = Checkpoints.readSignatures(spark, state)
      .select("id", "content_hash").collect()
    rows.map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def hashOf(text: String): String =
    Seq(text).toDF("t")
      .select(graft.fingerprint.Fingerprints.contentHash(col("t")))
      .head().getString(0)

  test("--para-dedup elects across epochs: epoch-2 copy of an epoch-1 paragraph drops") {
    val state = tempDir()
    run(Seq(
      ("http://e1.test/a", "Shared header paragraph here.\n\nUnique alpha body one."),
      ("http://e1.test/b", "Unique beta body two.")), state, Seq("--para-dedup"))
    // epoch 2: a NEW doc re-presents the epoch-1 header + its own body
    run(Seq(
      ("http://e2.test/c",
        "Shared header paragraph here.\n\nUnique gamma body three.")),
      state, Seq("--para-dedup"))
    val stored = storedHashes(state)
    assert(stored("http://e2.test/c") == hashOf("Unique gamma body three."),
      "the epoch-1 winner must defeat the epoch-2 copy")
    // and the epoch-1 docs are untouched (their own election already ran)
    assert(stored("http://e1.test/a") ==
      hashOf("Shared header paragraph here.\n\nUnique alpha body one."))
  }

  test("--span-dedup elects across epochs: a re-seen 3-sentence run drops") {
    val state = tempDir()
    val runSents = "First shared sentence lands. Second shared sentence follows. Third shared sentence closes."
    run(Seq(
      ("http://e1.test/a", s"Opening alpha thought here. $runSents Closing alpha remark stays.")),
      state, Seq("--span-dedup"))
    run(Seq(
      ("http://e2.test/b", s"Opening beta thought here. $runSents Closing beta remark stays.")),
      state, Seq("--span-dedup"))
    val stored = storedHashes(state)
    assert(stored("http://e2.test/b") ==
      hashOf("Opening beta thought here. Closing beta remark stays."),
      "the shared run must drop from the epoch-2 doc")
    assert(stored("http://e1.test/a") ==
      hashOf(s"Opening alpha thought here. $runSents Closing alpha remark stays."))
  }

  test("crashed-epoch orphans are invisible: re-run reproduces bit-identical text") {
    val state = tempDir()
    run(Seq(
      ("http://e1.test/a", "Shared paragraph stays once.\n\nAlpha body.")),
      state, Seq("--para-dedup"))
    // simulate epoch 2 crashing AFTER its hash append but BEFORE its
    // manifest line: plant orphan winners as the next line's part
    val e = Checkpoints.readManifest(spark, state).length
    Seq("deadbeef-orphan-hash").toDF("para_hash").write
      .parquet(s"${Checkpoints.generationPath(spark, state, "paras").get}/part=$e")
    // the real epoch 2 must neither see the orphan nor double-drop: its
    // batch re-presents BOTH the epoch-1 paragraph (drops) and a fresh one
    run(Seq(
      ("http://e2.test/b", "Shared paragraph stays once.\n\nBeta body.")),
      state, Seq("--para-dedup"))
    val stored = storedHashes(state)
    assert(stored("http://e2.test/b") == hashOf("Beta body."))
    // the orphan partition was overwritten by the real epoch's winners:
    // reading everything below epoch e+1 must not contain the orphan
    val all = Checkpoints.readTable(spark, state, "paras").get.as[String].collect()
    assert(!all.contains("deadbeef-orphan-hash"),
      "re-run must overwrite the crashed epoch's partition")
    assert(all.contains(hashOf("Beta body.")))
  }

  test("a crash during the FIRST append leaves seen() at None, not a throw") {
    val state = tempDir()
    // simulate the torn first write: the root exists but holds only the
    // writer's _temporary staging — no committed epoch= partition
    val root = java.nio.file.Paths.get(state, "paras")
    java.nio.file.Files.createDirectories(root.resolve("_temporary").resolve("0"))
    java.nio.file.Files.write(root.resolve("_temporary").resolve("0")
      .resolve("part-stub"), Array[Byte](1, 2, 3))
    assert(Checkpoints.readTable(spark, state, "paras").isEmpty)
    // and the idempotent re-run proceeds normally from there
    val out1 = run(Seq(("http://r.test/a",
      "Alpha beta gamma delta. Epsilon zeta eta theta.")), state,
      Seq("--para-dedup"))
    assert(out1.nonEmpty)
  }

  test("--force-rescan wipes the hash state: elections start fresh") {
    val state = tempDir()
    run(Seq(("http://e1.test/a", "Repeated paragraph body.\n\nAlpha tail.")),
      state, Seq("--para-dedup"))
    // rescan re-presents a doc containing the old paragraph; with stale
    // hash state it would drop, after the wipe it re-elects and survives
    run(Seq(("http://e1.test/a", "Repeated paragraph body.\n\nAlpha tail.")),
      state, Seq("--para-dedup", "--force-rescan"))
    val stored = storedHashes(state)
    assert(stored("http://e1.test/a") ==
      hashOf("Repeated paragraph body.\n\nAlpha tail."))
  }

  test("--force-rescan without the sub-doc flags still wipes the hash state") {
    val state = tempDir()
    run(Seq(("http://e1.test/a", "Sticky paragraph body.\n\nAlpha tail.")),
      state, Seq("--para-dedup"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(state, "paras")))
    // a rescan WITHOUT --para-dedup rebuilds the corpus state from scratch;
    // leaving the old winner hashes behind would poison a later incremental
    // epoch (its paragraphs anti-join hashes whose winning text the rescan
    // re-elected or discarded)
    run(Seq(("http://e1.test/a", "Sticky paragraph body.\n\nAlpha tail.")),
      state, Seq("--force-rescan"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(state, "paras")))
    // and a later incremental epoch re-elects cleanly
    run(Seq(("http://e2.test/b", "Sticky paragraph body.\n\nBeta tail.")),
      state, Seq("--para-dedup"))
    assert(storedHashes(state)("http://e2.test/b") ==
      hashOf("Sticky paragraph body.\n\nBeta tail."))
  }

  test("pure elections with a seen set: all occurrences of a seen hash lose") {
    val df = Seq(
      ("d1", "Seen paragraph text.\n\nFresh paragraph one."),
      ("d2", "Seen paragraph text.\n\nFresh paragraph one.\n\nFresh paragraph two."))
      .toDF("id", "text")
    val seen = Seq(hashOf("Seen paragraph text.")).toDF("para_hash")
    val out = ParagraphDedup.dedupParagraphs(df, "id", "text", seen = Some(seen))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "Fresh paragraph one.")
    assert(out(1).getString(1) == "Fresh paragraph two.")
    // winners = the fresh hashes only, each exactly once
    val w = ParagraphDedup.winners(df, "id", "text", seen = Some(seen))
      .as[String].collect().sorted
    assert(w === Array(hashOf("Fresh paragraph one."),
      hashOf("Fresh paragraph two.")).sorted)
  }

  test("span winners exclude seen hashes; seen spans lose everywhere") {
    val runSents = "Alpha one lands. Beta two follows. Gamma three closes."
    val df = Seq(
      ("d1", s"Unique opening here. $runSents"),
      ("d2", s"$runSents Unique closing here."))
      .toDF("id", "text")
    // precompute the shared run's span hash via winners on a one-doc frame
    val seedDf = Seq(("s", runSents)).toDF("id", "text")
    val seenH = SpanDedup.winners(seedDf, "id", "text").as[String].collect()
    assert(seenH.length == 1)
    val out = SpanDedup.dedupSpans(df, "id", "text",
      seen = Some(seenH.toSeq.toDF("h"))).orderBy("id").collect()
    assert(out(0).getString(1) == "Unique opening here.")
    assert(out(1).getString(1) == "Unique closing here.")
    val w = SpanDedup.winners(df, "id", "text", seen = Some(seenH.toSeq.toDF("h")))
      .as[String].collect()
    // every remaining span in d1/d2 straddles unique sentences → all fresh,
    // and none equals the seen hash
    assert(!w.contains(seenH.head))
    assert(w.distinct.length == w.length)
  }

  test("bucketed layout: seen side scans bucketed, only the batch exchanges") {
    val state = tempDir()
    val pages = Seq(
      ("http://e1.test/a", "Shared header paragraph here.\n\nAlpha body."),
      ("http://e1.test/b", "Beta body paragraph."))
    run(pages, state, Seq("--para-dedup", "--state-buckets", "8"))
    val seen = Checkpoints.readTable(spark, state, "paras").get
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = Seq(("http://e2.test/c",
        "Shared header paragraph here.\n\nGamma body.")).toDF("id", "text")
      val paras = ParagraphDedup.explodeParagraphs(batch, "id", "text")
      val fresh = paras.join(seen, Seq("para_hash"), "left_anti")
      val plan = fresh.queryExecution.executedPlan
      val exchanges = plan.collect { case ex: ShuffleExchangeExec => ex }
      assert(exchanges.length == 1,
        s"expected ONE exchange (batch side only), got ${exchanges.length}:\n$plan")
      val bucketScans = plan.collect {
        case f: FileSourceScanExec
            if f.outputPartitioning.isInstanceOf[HashPartitioning] => f
      }
      assert(bucketScans.nonEmpty, s"seen scan lost its bucket partitioning:\n$plan")
      assert(bucketScans.head.outputPartitioning
        .asInstanceOf[HashPartitioning].numPartitions == 8)
      assert(exchanges.head.outputPartitioning.numPartitions == 8,
        "batch must shuffle TO the seen table's bucket layout")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    // cross-epoch correctness still holds under the bucketed layout
    run(Seq(("http://e2.test/c",
      "Shared header paragraph here.\n\nGamma body.")), state,
      Seq("--para-dedup", "--state-buckets", "8"))
    assert(storedHashes(state)("http://e2.test/c") == hashOf("Gamma body."))
  }
}
