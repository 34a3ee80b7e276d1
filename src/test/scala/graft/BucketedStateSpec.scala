package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.pages.PagesGen
import graft.pipeline.DedupConfig
import graft.state.Checkpoints

/** Bucketed signatures layout (DedupConfig.stateBuckets): the resume
  * anti-join's 100-TB shuffle ledger. In the plain layout every epoch
  * shuffles BOTH sides of `new batch LEFT ANTI persisted state`, and the
  * state side is the one that grows with corpus age; bucketed-on-id state
  * carries HashPartitioning(id, N) out of the scan, so only the incoming
  * batch exchanges. These specs pin (1) behavioral equivalence with the
  * plain layout, (2) cross-session re-registration from the layout the
  * manifest records, (3) the single-exchange plan shape, (4) layout
  * stickiness.
  */
class BucketedStateSpec extends SparkTestBase {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft-bucketed").toString

  private val bucketed = DedupConfig(stateBuckets = 8)

  /** Files of a table's published generation, in all its parts. */
  private def genFiles(dir: String, table: String): Array[String] =
    new java.io.File(Checkpoints.generationPath(spark, dir, table).get)
      .listFiles().flatMap(p => Option(p.listFiles()).getOrElse(Array(p))).map(_.getName)

  test("bucketed epochs behave exactly like plain ones (resume + content)") {
    val plainDir = tempDir()
    val bucketDir = tempDir()
    val p1 = PagesGen.pages(spark, 6L, seed = 31L, tokensPerDoc = 60).toDF()
    val p2 = PagesGen.pages(spark, 9L, seed = 31L, tokensPerDoc = 60).toDF()

    val (a1, _) = Checkpoints.runEpoch(spark, p1, "url", "text", plainDir)
    val (a2, _) = Checkpoints.runEpoch(spark, p2, "url", "text", plainDir)
    val (b1, _) = Checkpoints.runEpoch(spark, p1, "url", "text", bucketDir, bucketed)
    val (b2, _) = Checkpoints.runEpoch(spark, p2, "url", "text", bucketDir, bucketed)
    assert((b1, b2) == (a1, a2),
      s"bucketed resume counts ($b1, $b2) diverge from plain ($a1, $a2)")

    def content(dir: String) =
      Checkpoints.readSignatures(spark, dir)
        .select("id", "content_hash", "simhash", "epoch")
        .as[(String, String, Long, Long)].collect().toSet
    assert(content(bucketDir) == content(plainDir),
      "bucketed layout changed the persisted signature content")

    // layout recorded; the physical files carry real bucket suffixes
    assert(Checkpoints.signatureBuckets(spark, bucketDir) == 8)
    assert(Checkpoints.signatureBuckets(spark, plainDir) == 0)
    val files = genFiles(bucketDir, "signatures").filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.matches("part-\\d+-.+_\\d{5}\\.c.*")),
      s"expected bucket-suffixed file names, got ${files.take(3).mkString(", ")}")
  }

  test("a session that never wrote the state re-registers it from the marker") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 5L, seed = 32L, tokensPerDoc = 60).toDF()
    Checkpoints.runEpoch(spark, pages, "url", "text", dir, bucketed)
    // simulate a fresh driver: the in-memory catalog of a new session has
    // no table entry — only the manifest and the parquet footers exist
    spark.sql(s"DROP TABLE IF EXISTS ${Checkpoints.sigTableName(spark, dir)}")
    val n = Checkpoints.liveSignatures(spark, dir).count()
    assert(n == 5L * PagesGen.variantKinds.length)
    // and the re-registered table still resumes correctly
    val (n2, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir, bucketed)
    assert(n2 == 0L, s"resume after re-registration must be a no-op, got $n2")
  }

  test("resume anti-join plan: only the incoming batch exchanges") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 6L, seed = 33L, tokensPerDoc = 60).toDF()
    Checkpoints.runEpoch(spark, pages, "url", "text", dir, bucketed)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the at-scale plan: no broadcast (state >> threshold on a real
      // corpus), no AQE so the compile-time plan is directly inspectable
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val state = Checkpoints.readSignatures(spark, dir)
      val unseen = pages.join(
        state.select(col("id").as("url")), Seq("url"), "left_anti")
      val plan = unseen.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1,
        s"expected ONE exchange (incoming side only), got ${exchanges.length}:\n$plan")
      val bucketScans = plan.collect {
        case f: FileSourceScanExec
            if f.outputPartitioning.isInstanceOf[HashPartitioning] => f
      }
      assert(bucketScans.nonEmpty, s"state scan lost its bucket partitioning:\n$plan")
      assert(bucketScans.head.outputPartitioning
        .asInstanceOf[HashPartitioning].numPartitions == 8)
      // and the exchange feeds the PAGES side, to the state's bucket count
      assert(exchanges.head.outputPartitioning.numPartitions == 8,
        "incoming side must shuffle TO the state's bucket layout, not vice versa")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("executed table shares the layout: liveSignatures is a ZERO-exchange join") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 6L, seed = 37L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, bucketed,
      action = "delete")
    val (nExec, nFail) = Checkpoints.executeEpoch(spark, dir, None, bucketed)
    assert(nExec > 0 && nFail == 0, s"setup: executed $nExec, failed $nFail")

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val live = Checkpoints.liveSignatures(spark, dir)
      val exchanges = live.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"live view must join bucket-aligned with zero exchange:\n" +
          live.queryExecution.executedPlan)
      // and it still computes the right thing
      val nSigs = Checkpoints.readSignatures(spark, dir).count()
      assert(live.count() == nSigs - nExec)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    // cross-session: drop BOTH catalog entries; the marker re-registers both
    spark.sql(s"DROP TABLE IF EXISTS ${Checkpoints.sigTableName(spark, dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${Checkpoints.execTableName(spark, dir)}")
    assert(Checkpoints.liveSignatures(spark, dir).count() > 0)
    // time travel still scopes bucketed-layout tombstones by epoch
    val asOf = Checkpoints.signaturesAsOf(spark, dir, 0L)
    assert(asOf.count() > 0)

    // compaction covers the executed table too, and the live view (with
    // its tombstone join over the compacted store) is unchanged
    val liveBefore = Checkpoints.liveSignatures(spark, dir)
      .select("id").as[String].collect().toSet
    val (_, nb, na) = Checkpoints.compactSignatures(spark, dir)
    // single-epoch store: already minimal, so compact must be a no-op in
    // count (the multi-epoch reduction property is pinned by the dedicated
    // compaction tests above)
    assert(na <= nb, s"compact grew the file count ($nb -> $na)")
    val execFiles = genFiles(dir, "executed").count(_.endsWith(".parquet"))
    assert(execFiles <= 8, s"executed table not compacted: $execFiles files")
    val liveAfter = Checkpoints.liveSignatures(spark, dir)
      .select("id").as[String].collect().toSet
    assert(liveAfter == liveBefore, "compaction changed the live view")
  }

  test("compaction: files collapse to one per bucket; rows, epochs, resume intact") {
    val dir = tempDir()
    val epochs = Seq(4L, 7L, 9L).map { n =>
      PagesGen.pages(spark, n, seed = 35L, tokensPerDoc = 60).toDF()
    }
    epochs.foreach(p => Checkpoints.runEpoch(spark, p, "url", "text", dir, bucketed))
    def files() = genFiles(dir, "signatures").count(_.endsWith(".parquet"))
    // one file per NON-EMPTY bucket per epoch (small epochs can leave a
    // bucket empty, so the pre-compact count is bounded, not exact)
    assert(files() > 8 && files() <= 3 * 8,
      s"expected one file per non-empty bucket per epoch, got ${files()}")
    val before = Checkpoints.readSignatures(spark, dir)
      .select("id", "content_hash", "epoch")
      .as[(String, String, Long)].collect().toSet
    val asOf1Before = Checkpoints.signaturesAsOf(spark, dir, 1L)
      .select("id").as[String].collect().toSet

    val (_, nb, na) = Checkpoints.compactSignatures(spark, dir)
    assert(na <= 8 && na < nb, s"compact reported ($nb, $na)")
    assert(files() == na)
    // exactly one file per non-empty bucket — the shuffle-free per-bucket
    // rewrite (a repeated bucket suffix means tasks mixed buckets again)
    val bucketIds = genFiles(dir, "signatures").filter(_.endsWith(".parquet"))
      .map(_.replaceAll(".*_(\\d{5})\\..*", "$1"))
    assert(bucketIds.distinct.length == bucketIds.length,
      s"multiple files for one bucket after compact: ${bucketIds.sorted.mkString(",")}")
    val after = Checkpoints.readSignatures(spark, dir)
      .select("id", "content_hash", "epoch")
      .as[(String, String, Long)].collect().toSet
    assert(after == before, "compaction changed the table content")
    // epoch column survives → time travel unaffected; epoch counter did not
    // advance; resume over the compacted store is still a no-op
    val asOf1After = Checkpoints.signaturesAsOf(spark, dir, 1L)
      .select("id").as[String].collect().toSet
    assert(asOf1After == asOf1Before, "compaction broke time travel")
    val (n3, _) = Checkpoints.runEpoch(spark, epochs.last, "url", "text", dir, bucketed)
    assert(n3 == 0L, s"resume after compaction must be a no-op, got $n3")
  }

  test("compaction: plain layout packs files; crash leftovers are swept") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 6L, seed = 36L, tokensPerDoc = 60).toDF()
    Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    Checkpoints.runEpoch(spark,
      PagesGen.pages(spark, 9L, seed = 36L, tokensPerDoc = 60).toDF(),
      "url", "text", dir)
    // a crashed compact leaves an unpublished generation beside the
    // published one: it must not break the next compact, which sweeps it
    val staleTmp = new java.io.File(Checkpoints.signaturesPath(dir) + "/gen=99")
    staleTmp.mkdirs()
    val before = Checkpoints.readSignatures(spark, dir)
      .select("id", "epoch").as[(String, Long)].collect().toSet
    val (_, nb, na) = Checkpoints.compactSignatures(spark, dir)
    assert(na < nb, s"compact did not reduce files ($nb -> $na)")
    assert(!staleTmp.exists(), "stale temp dir survived compaction")
    val after = Checkpoints.readSignatures(spark, dir)
      .select("id", "epoch").as[(String, Long)].collect().toSet
    assert(after == before)
  }

  test("point lookup prunes to the id's bucket (SelectedBucketsCount)") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 8L, seed = 38L, tokensPerDoc = 60).toDF()
    Checkpoints.runEpoch(spark, pages, "url", "text", dir, bucketed)
    val anyId = Checkpoints.readSignatures(spark, dir)
      .select("id").orderBy("id").limit(1).as[String].collect().head
    val hit = Checkpoints.readSignatures(spark, dir).filter(col("id").isin(anyId))
    assert(hit.count() == 1L)
    // the scan must read ONE bucket of eight, not the whole store: the
    // pruning bitmap (optionalBucketSet) drives file skipping whether or
    // not the plan keeps the bucketed output shape
    val scans = hit.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pruned = scans.head.optionalBucketSet
    assert(pruned.exists(_.cardinality() == 1),
      s"expected a 1-of-8 bucket pruning bitmap, got " +
        pruned.map(b => s"${b.cardinality()} bucket(s)").getOrElse("no bitmap"))
  }

  test("layout is sticky per state dir; forceRescan re-layouts") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 34L, tokensPerDoc = 60).toDF()
    // first write plain; a later bucketed config must NOT mix layouts
    Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    val more = PagesGen.pages(spark, 6L, seed = 34L, tokensPerDoc = 60).toDF()
    Checkpoints.runEpoch(spark, more, "url", "text", dir, bucketed)
    assert(Checkpoints.signatureBuckets(spark, dir) == 0,
      "appending must follow the dir's recorded layout, not the caller's config")
    // forceRescan is the documented re-layout path
    Checkpoints.runEpoch(spark, more, "url", "text", dir,
      bucketed.copy(forceRescan = true))
    assert(Checkpoints.signatureBuckets(spark, dir) == 8)
    val n = Checkpoints.readSignatures(spark, dir).count()
    assert(n == 6L * PagesGen.variantKinds.length)
  }
}
