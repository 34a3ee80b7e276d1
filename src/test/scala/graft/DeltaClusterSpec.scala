package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}
import graft.state.Checkpoints

/** Delta-incremental clustering (DedupConfig.deltaCluster): near-pair
  * discovery runs only over the re-verify frontier while prior
  * connectivity enters union-find as assignment edges. These specs pin
  * COMPONENT EQUIVALENCE with the full re-cluster — same cluster
  * partition, same min-id labels, same kinds, same representatives — on
  * the planted corpus, including the executed-removal invalidation path.
  */
class DeltaClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft-delta").toString

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  /** A table's published generation. */
  private def table(dir: String, name: String) =
    spark.read.parquet(Checkpoints.generationPath(spark, dir, name).get)

  private def clustersOf(dir: String): Set[(String, String, Boolean, String)] =
    table(dir, "clusters")
      .select("id", "cluster_id", "is_representative", "kind")
      .as[(String, String, Boolean, String)].collect().toSet

  test("delta epoch ≡ full re-cluster: new docs join, labels/kinds/reps identical") {
    val base = tempDir()
    val all = PagesGen.pages(spark, 10L, seed = 41L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    // epoch 1 (full) builds the shared starting state
    Checkpoints.clusterEpoch(spark, half, "url", "text", base)
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    // epoch 2 over the full pages frame, once per mode
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir,
      DedupConfig(deltaCluster = true))
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "delta clustering diverged from the full re-cluster")
    all.unpersist()
  }

  test("forceRescan invalidates clusters + band index: rescan-then-delta matches full") {
    val dir = tempDir()
    val v1 = PagesGen.pages(spark, 8L, seed = 44L, tokensPerDoc = 120).toDF()
    Checkpoints.clusterEpoch(spark, v1, "url", "text", dir,
      DedupConfig(deltaCluster = true))
    // the store restarts over a DIFFERENT corpus (dropped + new docs) —
    // the pre-rescan clusters/bands describe signatures that no longer
    // exist and must not be spliced into the next delta epoch
    val v2 = PagesGen.pages(spark, 6L, seed = 45L, tokensPerDoc = 120).toDF()
    Checkpoints.runEpoch(spark, v2, "url", "text", dir,
      DedupConfig(forceRescan = true))
    val fsc = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fsc.exists(new org.apache.hadoop.fs.Path(Checkpoints.clustersPath(dir))),
      "rescan must drop the stale clusters table")
    assert(!fsc.exists(new org.apache.hadoop.fs.Path(Checkpoints.bandsPath(dir))),
      "rescan must drop the stale band index")
    // the next delta epoch finds no prior clusters → full path → identical
    // to a from-scratch full cluster over the same corpus
    Checkpoints.clusterEpoch(spark, v2.limit(0), "url", "text", dir,
      DedupConfig(deltaCluster = true))
    val fresh = tempDir()
    Checkpoints.clusterEpoch(spark, v2, "url", "text", fresh)
    assert(clustersOf(dir) == clustersOf(fresh),
      "rescan-then-delta must equal the from-scratch clustering")
  }

  test("executed removals invalidate their clusters; delta still matches full") {
    val base = tempDir()
    val all = PagesGen.pages(spark, 8L, seed = 42L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    // epoch 1 clusters and EXECUTES deletions — tombstones sever members,
    // so the affected clusters' assignment edges cannot be trusted
    Checkpoints.clusterEpoch(spark, half, "url", "text", base, action = "delete")
    val (nExec, nFail) = Checkpoints.executeEpoch(spark, base, None)
    assert(nExec > 0 && nFail == 0)
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir,
      DedupConfig(deltaCluster = true))
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "delta clustering diverged after executed removals")
    all.unpersist()
  }

  test("no-change delta epoch: zero new docs, clusters identical, frontier empty") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 6L, seed = 43L, tokensPerDoc = 120).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir)
    val before = clustersOf(dir)
    val (nNew, _) = Checkpoints.clusterEpoch(spark, pages, "url", "text", dir,
      DedupConfig(deltaCluster = true))
    assert(nNew == 0L)
    assert(clustersOf(dir) == before,
      "an empty delta epoch must reproduce the clusters table exactly")
  }

  test("fast-path delta epoch ≡ fast-path full re-cluster") {
    val base = tempDir()
    val fast = DedupConfig(fastPath = true)
    val all = PagesGen.pages(spark, 8L, seed = 45L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", base, fast)
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir, fast)
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir,
      fast.copy(deltaCluster = true))
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "fast-path delta clustering diverged from the fast-path full re-cluster")
    all.unpersist()
  }

  test("full and delta clustering run no count action, on a pure-full and a mixed state") {
    val all = PagesGen.pages(spark, 6L, seed = 17L, tokensPerDoc = 100).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    val rest = all.filter(xxhash64($"url") % 2 =!= 0)
    for (first <- Seq(DedupConfig(), DedupConfig(fastPath = true))) {
      val dir = tempDir()
      Checkpoints.runEpoch(spark, half, "url", "text", dir, first)
      Checkpoints.runEpoch(spark, rest, "url", "text", dir)
      val sigs = Checkpoints.liveSignatures(spark, dir)
      assert(sigs.filter($"n_shingles" === 0).isEmpty != first.fastPath)
      val index = Checkpoints.ensureBandIndex(spark, dir)
      val noAssigns = Seq.empty[(String, String)].toDF("sid_a", "sid_b")
      val (_, log) = withQueryLog {
        DedupPipeline.clusterSignatures(spark, sigs, None).collect()
        DedupPipeline.clusterSignaturesDelta(spark, sigs, rest.select("url"), noAssigns,
          None, index).collect()
      }
      assert(!log.actions.contains("count"), s"fastPath=${first.fastPath}: ${log.actions}")
    }
    all.unpersist()
  }

  test("band index: built, gap-repaired across non-delta epochs, rebuilt on knob change") {
    import graft.pipeline.DedupPipeline
    val dir = tempDir()
    val cfg = DedupConfig(deltaCluster = true)
    val p1 = PagesGen.pages(spark, 5L, seed = 47L, tokensPerDoc = 80).toDF()
    val p2 = PagesGen.pages(spark, 8L, seed = 47L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, p1, "url", "text", dir, cfg)
    // first delta epoch bootstraps the index over ALL committed epochs
    Checkpoints.clusterEpoch(spark, p2, "url", "text", dir, cfg)
    def indexRows(): Set[(String, Int, Long)] =
      table(dir, "bands")
        .as[(String, Int, Long)].collect().toSet
    def freshRows(): Set[(String, Int, Long)] =
      DedupPipeline.allChannelBandRows(Checkpoints.readSignatures(spark, dir))
        .as[(String, Int, Long)].collect().toSet
    assert(indexRows() == freshRows(),
      "index after bootstrap must equal freshly computed channel rows")

    // an interleaved NON-delta epoch leaves the index behind; the next
    // delta epoch's ensure call repairs exactly the gap
    val p3 = PagesGen.pages(spark, 11L, seed = 47L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, p3, "url", "text", dir) // full mode
    val p4 = PagesGen.pages(spark, 13L, seed = 47L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, p4, "url", "text", dir, cfg)
    assert(indexRows() == freshRows(),
      "gap repair must cover epochs committed while delta mode was off")

    // an index published under other channel knobs (written by other
    // code) invalidates the marker: full rebuild. The planted line also
    // predates recorded similarity values, which a later line must not
    // publish as an empty field.
    val lines = Checkpoints.readManifest(spark, dir)
    val planted = lines.last.replace(""""knobs":{"bands":21,""", """"knobs":{"bands":20,""")
      .replaceFirst(""","similarity":\{[^}]*\}""", "")
    assert(planted != lines.last, s"setup: no knobs to plant in ${lines.last}")
    assert(!planted.contains("similarity"), s"setup: similarity left in $planted")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(Checkpoints.manifestPath(dir)), true)
    try out.write((lines.init :+ planted).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val plantedGen = Checkpoints.generationPath(spark, dir, "bands")
    val idx = Checkpoints.ensureBandIndex(spark, dir)
    assert(Checkpoints.generationPath(spark, dir, "bands") != plantedGen,
      "knob change must rebuild the index into a new generation")
    assert(idx.count() == freshRows().size)
    assert(indexRows() == freshRows(),
      "knob change must rebuild the index under this code's channel shapes")
    val last = Checkpoints.readManifest(spark, dir).last
    assert(last.contains(""""knobs":{"bands":21,""") && !last.contains("similarity"), last)
  }

  test("delta epoch after a similarity change ≡ full re-cluster under the new values") {
    val base = tempDir()
    val all = PagesGen.pages(spark, 8L, seed = 55L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", base, DedupConfig(deltaCluster = true))
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    // stricter edge-shaping values: the base's merges made under the
    // defaults must not carry over into the delta epoch's clusters
    val strict = DedupConfig(jaccardThreshold = 0.99, simhashAcceptHamming = 0)
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir, strict)
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir,
      strict.copy(deltaCluster = true))
    val baseRows = clustersOf(base)
    val baseIds = baseRows.map(_._1)
    assert(clustersOf(fullDir).filter(r => baseIds.contains(r._1)) != baseRows,
      "setup: the stricter values must split some cluster of the base")
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "a delta epoch under changed similarity values kept the old merges")
    assert(Checkpoints.readManifest(spark, deltaDir).last
      .contains(""""similarity":{"jaccard_threshold":0.99,"""))
    all.unpersist()
  }

  test("compaction prunes tombstoned docs from the band index") {
    val dir = tempDir()
    val cfg = DedupConfig(deltaCluster = true)
    val pages = PagesGen.pages(spark, 6L, seed = 48L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, cfg, action = "delete")
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, cfg) // builds index
    val (nExec, _) = Checkpoints.executeEpoch(spark, dir, None)
    assert(nExec > 0)
    val tombIds = Checkpoints.tombstones(spark, dir).select("id")
      .as[String].collect().toSet
    val before = table(dir, "bands")
      .select("id").as[String].collect().toSet
    assert(tombIds.subsetOf(before), "setup: tombstoned ids were indexed")
    Checkpoints.compactSignatures(spark, dir)
    val after = table(dir, "bands")
      .select("id").as[String].collect().toSet
    assert(after.intersect(tombIds).isEmpty, "tombstoned ids must be pruned")
    assert(after == before.diff(tombIds), "live ids must survive compaction")
    // and the next delta epoch still works over the compacted index
    val more = PagesGen.pages(spark, 9L, seed = 48L, tokensPerDoc = 80).toDF()
    val (_, nc) = Checkpoints.clusterEpoch(spark, more, "url", "text", dir, cfg)
    assert(nc > 0)
  }

  test("delta composes with the bucketed state layout") {
    val base = tempDir()
    val cfg = DedupConfig(deltaCluster = true, stateBuckets = 8)
    val all = PagesGen.pages(spark, 8L, seed = 49L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", base, cfg)
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    // the full control keeps the (sticky) bucket layout but clusters fully
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir,
      DedupConfig(stateBuckets = 8))
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir, cfg)
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "delta clustering diverged from full under the bucketed layout")
    all.unpersist()
  }

  test("slice-fed delta epoch ≡ full-fed full re-cluster (textsOf side-channel)") {
    val base = tempDir()
    val cfg = DedupConfig(deltaCluster = true)
    val all = PagesGen.pages(spark, 8L, seed = 51L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    val slice = all.filter(xxhash64($"url") % 2 =!= 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", base, cfg)
    val fullDir = tempDir() + "/s"
    val sliceDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, sliceDir)
    // control: the whole corpus re-fed, full re-cluster
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir)
    // slice-fed: ONLY the new pages enter as input; the authoritative
    // table rides textsOf so the verify pass can fetch old-doc text for
    // frontier pairs — the 10^12-doc posture, where re-feeding the corpus
    // every epoch is not an option
    Checkpoints.clusterEpoch(spark, slice, "url", "text", sliceDir, cfg,
      textsOf = Some(all))
    assert(clustersOf(sliceDir) == clustersOf(fullDir),
      "slice-fed delta epoch diverged from the full-fed full re-cluster")
    all.unpersist()
  }

  test("epochs accrued between cluster passes (streamed cadence): delta still matches full") {
    // the streaming posture commits SIGNATURE epochs without clustering
    // (streamingIngest per micro-batch, or repeated runEpoch); the next
    // cadence clusterEpoch must re-verify EVERY never-clustered doc, not
    // just the one epoch its own runEpoch committed
    val base = tempDir()
    val cfg = DedupConfig(deltaCluster = true)
    val all = PagesGen.pages(spark, 9L, seed = 53L, tokensPerDoc = 120).toDF().cache()
    val third = all.filter(xxhash64($"url") % 3 === 0)
    val twoThirds = all.filter(xxhash64($"url") % 3 <= 1)
    Checkpoints.clusterEpoch(spark, third, "url", "text", base, cfg)
    // two un-clustered signature epochs accrue on the SAME state
    Checkpoints.runEpoch(spark, twoThirds, "url", "text", base, cfg)
    Checkpoints.runEpoch(spark, all, "url", "text", base, cfg)
    val fullDir = tempDir() + "/s"
    val deltaDir = tempDir() + "/s"
    copyDir(base, fullDir)
    copyDir(base, deltaDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", fullDir)
    Checkpoints.clusterEpoch(spark, all, "url", "text", deltaDir, cfg)
    assert(clustersOf(deltaDir) == clustersOf(fullDir),
      "delta clustering lost near edges for docs from accrued epochs")
    all.unpersist()
  }

  test("first epoch with deltaCluster set falls back to the full path") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 5L, seed = 44L, tokensPerDoc = 120).toDF()
    val (n, nc) = Checkpoints.clusterEpoch(spark, pages, "url", "text", dir,
      DedupConfig(deltaCluster = true))
    assert(n == 5L * PagesGen.variantKinds.length && nc > 0)
    // and the result matches a plain full first epoch
    val ref = tempDir()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", ref)
    assert(clustersOf(dir) == clustersOf(ref))
  }
}
