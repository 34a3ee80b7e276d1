package graft

/** Driver-contract smoke: entry() returns rows; every oracleSql key has a
  * matching queries key; all queries run on sf0.001.
  */
class EntrySpec extends SparkTestBase {

  test("entry (flagship dedup pipeline) returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("id", "cluster_id", "is_representative", "kind"))
    assert(df.count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query impl: $missing")
  }

  test("all queries execute and return rows on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("CLI arg parsing: full flag set round-trips into a DedupConfig") {
    val parsed = Main.parse(Seq(
      "--pages", "/data/pages", "--state", "s3a://b/state",
      "--action", "delete", "--execute", "--backup-dir", "s3a://b/bak",
      "--fast-path", "--force-rescan", "--jaccard", "0.7", "--max-hamming", "8",
      "--id-col", "page_url", "--text-col", "body"))
    val a = parsed.toOption.get
    assert(a.pages == "/data/pages" && a.state == "s3a://b/state")
    assert(a.action == "delete" && a.execute && a.backupDir.contains("s3a://b/bak"))
    assert(a.fastPath && a.forceRescan)
    assert(a.idCol == "page_url" && a.textCol == "body")
    val cfg = Main.toConfig(a)
    assert(cfg.fastPath && cfg.forceRescan)
    assert(cfg.jaccardThreshold == 0.7 && cfg.simhashAcceptHamming == 8)
  }

  test("CLI arg parsing: rejections") {
    assert(Main.parse(Seq("--state", "/s")).isLeft)                       // missing --pages
    assert(Main.parse(Seq("--pages", "/p")).isLeft)                       // missing --state
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--action", "shred")).isLeft)                                       // bad action
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--jaccard", "1.5")).isLeft)                                        // out of range
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--max-hamming", "x")).isLeft)                                      // not an int
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--bogus")).isLeft)                                                 // unknown flag
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s")).isRight)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--extractor", "exotic")).isLeft)                                   // unknown strategy
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--preview-chars", "0")).isLeft)                                    // must be positive
    val withPreview = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--preview-chars", "120")).toOption.get
    assert(Main.toConfig(withPreview).previewChars == 120)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--state-buckets", "0")).isLeft)                                    // must be positive
    val withBuckets = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--state-buckets", "64")).toOption.get
    assert(Main.toConfig(withBuckets).stateBuckets == 64)
    val withDelta = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--delta-cluster")).toOption.get
    assert(Main.toConfig(withDelta).deltaCluster)
    val withTexts = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--texts-from", "/corpus")).toOption.get
    assert(withTexts.textsFrom.contains("/corpus"))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--texts-from")).isLeft)                                            // valueless
    // the sub-document elections are not batch-pure replayable
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--texts-from", "/corpus", "--para-dedup")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--texts-from", "/corpus", "--span-dedup")).isLeft)
    // ...but the per-row cleaning flags replay fine
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--texts-from", "/corpus", "--c4-clean", "--site-cap", "10")).isRight)
    // training-export mode: mix flags only make sense with the export
    val exp = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--n-shards", "8",
      "--mix-rates", "/r", "--mix-col", "source", "--mix-salt", "v2"))
      .toOption.get
    assert(exp.exportShards.contains("/out") && exp.nShards == 8 &&
      exp.mixRates.contains("/r") && exp.mixCol == "source" &&
      exp.mixSalt == "v2")
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--n-shards", "0")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-rates", "/r",
      "--mix-budgets", "/b")).isLeft)                 // mutually exclusive
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--mix-rates", "/r")).isLeft)                   // mix needs the export
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--para-dedup")).isLeft) // not replayable
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-budgets", "/b", "--mix-exact"))
      .exists(_.mixExact))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-rates", "/r", "--mix-exact")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-budgets", "/b", "--mix-exact",
      "--mix-headroom", "0.5")).exists(_.mixHeadroom.contains(0.5)))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-budgets", "/b", "--mix-exact",
      "--mix-headroom", "-1")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--mix-budgets", "/b",
      "--mix-headroom", "0.5")).isLeft)  // headroom is --mix-exact's knob
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--pack-len", "8192"))
      .exists(_.packLen.contains(8192)))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--pack-len", "8192")).isLeft)                   // packing needs the export
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--pack-len", "0")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--token-metric", "subword"))
      .exists(_.tokenMetric == "subword"))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--token-metric", "bogus")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--token-metric", "subword")).isLeft)  // export-scoped knob
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--export-format", "jsonl"))
      .exists(_.exportFormat == "jsonl"))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--export-format", "csv")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-format", "jsonl")).isLeft)   // export-scoped knob
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--export-format", "jsonl",
      "--pack-len", "64")).isLeft)           // plans need prunable parquet
    // --verify-export is standalone: needs neither --pages nor --state
    assert(Main.parse(Seq("--verify-export", "/out"))
      .exists(_.verifyExport.contains("/out")))
    // --mix-from unions separate corpora IN PLACE OF --pages, and the mix
    // key defaults to the corpus tag
    assert(Main.parse(Seq("--mix-from", "/srcs", "--state", "/s",
      "--export-shards", "/out")).exists(a =>
      a.mixFrom.contains("/srcs") && a.mixKeyCol == "source"))
    assert(Main.parse(Seq("--mix-from", "/srcs", "--state", "/s")).isLeft)
    assert(Main.parse(Seq("--mix-from", "/srcs", "--pages", "/p",
      "--state", "/s", "--export-shards", "/out")).isLeft)
    assert(Main.parse(Seq("--mix-from", "/srcs", "--state", "/s",
      "--export-shards", "/out", "--mix-col", "lang"))
      .exists(_.mixKeyCol == "lang"))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s"))
      .exists(_.mixKeyCol == "lang"))
    // --semdedup-tau applies the embedding verdict at export: needs its
    // embeddings table, an export target, and a tau in (0, 1]
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--embeddings", "/e",
      "--semdedup-tau", "0.8")).exists(a =>
      a.embeddings.contains("/e") && a.semdedupTau.contains(0.8)))
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--semdedup-tau", "0.8")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--embeddings", "/e")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--embeddings", "/e", "--semdedup-tau", "0.8")).isLeft)
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--embeddings", "/e",
      "--semdedup-tau", "1.5")).isLeft)
    // NaN passes naive range checks and would silently no-op the pass
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--export-shards", "/out", "--embeddings", "/e",
      "--semdedup-tau", "NaN")).isLeft)
    // maintenance modes need no --pages
    assert(Main.parse(Seq("--state", "/s", "--compact")).isRight)
    assert(Main.parse(Seq("--compact")).isLeft)                           // still needs --state
  }

  test("CLI end-to-end: extract-from html, cluster, execute, diagnose") {
    import graft.pages.PagesGen
    import graft.state.Checkpoints
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli").toString
    // pages parquet WITHOUT a usable text column: the CLI must derive it
    PagesGen.pages(spark, 4L, seed = 21L, tokensPerDoc = 100).toDF()
      .drop("text")
      .write.parquet(s"$tmp/pages")
    val a = Main.parse(Seq(
      "--pages", s"$tmp/pages", "--state", s"$tmp/state",
      "--extract-from", "html", "--action", "delete", "--execute")).toOption.get
    val out = Main.run(spark, a)
    assert(out.exists(_.contains("\"new_signatures\":" + 4 * PagesGen.variantKinds.length)))
    assert(out.exists(_.contains("\"failed\":0")))
    // derived-text clustering found real duplicates and executed them
    assert(Checkpoints.tombstones(spark, s"$tmp/state").count() > 0)
    val diag = Main.run(spark, Main.parse(Seq(
      "--state", s"$tmp/state", "--diagnose")).toOption.get)
    assert(diag.exists(_.contains("\"category\":\"signature_without_cluster\",\"n\":0")))
  }

  test("CLI --compact reports exactly the tables it rewrote, as its manifest line does") {
    import graft.pages.PagesGen
    import graft.state.Checkpoints
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli-compact").toString
    PagesGen.pages(spark, 2L, seed = 23L, tokensPerDoc = 80).toDF()
      .write.parquet(s"$tmp/pages")
    def compact(state: String, epochFlags: String*): (String, String) = {
      Main.run(spark, Main.parse(Seq("--pages", s"$tmp/pages", "--state", state) ++
        epochFlags).toOption.get)
      val out = Main.run(spark, Main.parse(Seq("--state", state, "--compact")).toOption.get)
      (out.mkString, Checkpoints.readManifest(spark, state).last)
    }
    // no executed table, no band index: only signatures are rewritten
    val (plain, plainLine) = compact(s"$tmp/plain")
    assert(plain.contains("\"compacted\":\"signatures\","), plain)
    assert(plainLine.contains("\"compacted\":\"signatures\","), plainLine)
    val (full, fullLine) = compact(s"$tmp/full", "--action", "delete", "--execute",
      "--delta-cluster")
    assert(full.contains("\"compacted\":\"signatures+executed+bands\""), full)
    assert(fullLine.contains("\"compacted\":\"signatures+executed+bands\""), fullLine)
  }

  test("CLI slice-fed epoch: --pages carries the slice, --texts-from the corpus") {
    import graft.pages.PagesGen
    import org.apache.spark.sql.functions.xxhash64
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli-slice").toString
    val all = PagesGen.pages(spark, 4L, seed = 22L, tokensPerDoc = 100).toDF()
    all.write.parquet(s"$tmp/corpus")
    all.filter(xxhash64(org.apache.spark.sql.functions.col("url")) % 2 === 0)
      .write.parquet(s"$tmp/seed")
    all.filter(xxhash64(org.apache.spark.sql.functions.col("url")) % 2 =!= 0)
      .write.parquet(s"$tmp/slice")
    Main.run(spark, Main.parse(Seq("--pages", s"$tmp/seed",
      "--state", s"$tmp/state", "--delta-cluster")).toOption.get)
    val out = Main.run(spark, Main.parse(Seq("--pages", s"$tmp/slice",
      "--state", s"$tmp/state", "--delta-cluster",
      "--texts-from", s"$tmp/corpus")).toOption.get)
    val nSlice = spark.read.parquet(s"$tmp/slice").count()
    assert(out.exists(_.contains("\"new_signatures\":" + nSlice)))
    // every corpus row is clustered even though the epoch only FED the slice
    val clustered = spark.read.parquet(graft.state.Checkpoints
      .generationPath(spark, s"$tmp/state", "clusters").get).count()
    assert(clustered == all.count())
  }

  test("PagesIO routing: paths, table names and namespaced catalog identifiers") {
    import graft.pages.{PagesGen, PagesIO}
    val tmp = java.nio.file.Files.createTempDirectory("graft-pagesio").toString
    PagesGen.pages(spark, 2L, seed = 31L, tokensPerDoc = 60).toDF()
      .write.parquet(s"$tmp/pages")
    // absolute path and file:// URI route to parquet
    assert(PagesIO.read(spark, s"$tmp/pages").count() > 0)
    assert(PagesIO.read(spark, s"file://$tmp/pages").count() > 0)
    // bare and NAMESPACED table identifiers route to the catalog (the
    // round-2 review case: `db.table` must not be read as a parquet path)
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    spark.sql("DROP TABLE IF EXISTS graftdb.pages_t")
    // the in-memory metastore forgets tables between JVMs but the warehouse
    // dir persists — clear the stale location so CREATE TABLE can land
    val loc = new java.io.File("spark-warehouse/graftdb.db/pages_t")
    if (loc.exists()) {
      java.nio.file.Files.walk(loc.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    PagesGen.pages(spark, 1L, seed = 32L, tokensPerDoc = 50).toDF()
      .write.mode("overwrite").saveAsTable("graftdb.pages_t")
    assert(PagesIO.read(spark, "graftdb.pages_t").count() > 0)
    // explicit format override beats the heuristic
    assert(PagesIO.read(spark, s"$tmp/pages", "parquet").count() > 0)
    intercept[Exception] { PagesIO.read(spark, s"$tmp/pages", "bogus") }
  }

  test("CLI arg parsing: containment cap + estimate-tier flags") {
    val a = Main.parse(Seq("--pages", "p", "--state", "s",
      "--containment-cap", "750")).toOption.get
    val cfg = Main.toConfig(a)
    assert(cfg.containmentMaxBucket == 750)
    assert(Main.parse(Seq("--state", "s", "--containment-cap", "x")).isLeft)
    assert(Main.parse(Seq("--pages", "p", "--state", "s",
      "--containment-cap", "-1")).isLeft) // validation runs inside parse
    // the estimate tier always runs: there is no flag to switch it off
    assert(Main.parse(Seq("--pages", "p", "--state", "s",
      "--no-estimate-tier")).isLeft)
    // defaults untouched when flags absent
    val d = Main.toConfig(Main.parse(Seq("--pages", "p", "--state", "s")).toOption.get)
    assert(d.containmentMaxBucket == graft.pipeline.DedupConfig().containmentMaxBucket)
  }

  test("CLI arg parsing: reliable checkpoints + pages format flags") {
    val a = Main.parse(Seq("--pages", "cat.db.pages", "--state", "/s",
      "--reliable", "--checkpoint-dir", "hdfs:///ckpt",
      "--pages-format", "table")).toOption.get
    assert(a.reliable && a.checkpointDir.contains("hdfs:///ckpt"))
    assert(a.pagesFormat == "table")
    val cfg = Main.toConfig(a)
    assert(cfg.reliableCheckpoints && cfg.checkpointDir == "hdfs:///ckpt")
    // --reliable without --checkpoint-dir resolves the <state>-relative
    // default at CONFIG time: the battery's Materializer is built from
    // this config before clusterEpoch would apply its own default
    val bare = Main.parse(Seq("--pages", "/p", "--state", "/st",
      "--reliable", "--scrub-pii")).toOption.get
    assert(Main.toConfig(bare).checkpointDir == "/st/_spark_checkpoints")
    assert(Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--pages-format", "orc")).isLeft)
  }

  test("CLI arg parsing: extractor seam + diagnose mode") {
    val a = Main.parse(Seq("--pages", "/p", "--state", "/s",
      "--extract-from", "html", "--extractor", "plaintext")).toOption.get
    assert(a.extractFrom.contains("html") && a.extractor == "plaintext")
    // diagnose needs only --state
    assert(Main.parse(Seq("--state", "/s", "--diagnose")).toOption.exists(_.diagnose))
    assert(Main.parse(Seq("--diagnose")).isLeft)
  }

  test("bench master-shape parsing: total cores drive shuffle width") {
    assert(Bench.coresOf("local[8]") == 8)
    assert(Bench.coresOf("local[32]") == 32)
    assert(Bench.coresOf("local-cluster[4,8,8192]") == 32) // n executors × c cores
    assert(Bench.coresOf("local-cluster[1,8,8192]") == 8)
    intercept[IllegalArgumentException] { Bench.coresOf("yarn") }
    intercept[IllegalArgumentException] { Bench.coresOf("local[*]") }
  }
}
