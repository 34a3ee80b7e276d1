package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pages.PagesGen
import graft.pipeline.DedupConfig
import graft.state.Checkpoints

/** Incremental-state contract (reference persistence layer,
  * image-deduper src/persistence/db.rs): anti-join resume idempotence,
  * force_rescan, quarantine routing, per-partition lineage.
  */
class StateSpec extends SparkTestBase {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft-state").toString

  /** A table's published generation. */
  private def table(dir: String, name: String) =
    spark.read.parquet(Checkpoints.generationPath(spark, dir, name).get)

  test("resume idempotence: second epoch over same pages appends nothing") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 10L, seed = 1L, tokensPerDoc = 80).toDF()
    val (n1, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    val (n2, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    val nk = PagesGen.variantKinds.length
    assert(n1 == 10L * nk, s"first epoch should fingerprint all ${10 * nk}, got $n1")
    assert(n2 == 0L, s"second epoch must be a no-op, got $n2")
  }

  test("incremental: new rows are picked up, old ones untouched") {
    val dir = tempDir()
    val p1 = PagesGen.pages(spark, 5L, seed = 2L, tokensPerDoc = 80).toDF()
    val p2 = PagesGen.pages(spark, 8L, seed = 2L, tokensPerDoc = 80).toDF()
    Checkpoints.runEpoch(spark, p1, "url", "text", dir)
    val (n2, _) = Checkpoints.runEpoch(spark, p2, "url", "text", dir)
    val nk = PagesGen.variantKinds.length
    assert(n2 == 3L * nk, s"3 new bases x $nk variants, got $n2")
    val sigs = spark.read.parquet(Checkpoints.signaturesPath(dir))
    assert(sigs.count() == 8L * nk)
    assert(sigs.select("id").distinct().count() == 8L * nk)
  }

  test("force_rescan reprocesses everything") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 3L, tokensPerDoc = 80).toDF()
    Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    val (n2, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir,
      DedupConfig(forceRescan = true))
    assert(n2 == 4L * PagesGen.variantKinds.length)
  }

  test("empty/null text rows are quarantined, not fingerprinted") {
    val dir = tempDir()
    val pages = Seq(
      ("u1", "real content here"), ("u2", ""), ("u3", null.asInstanceOf[String]))
      .toDF("url", "text")
    val (n, q) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    assert(n == 1L && q == 2L)
    val quarantined = spark.read.parquet(Checkpoints.quarantinePath(dir))
    assert(quarantined.select("id").as[String].collect().toSet == Set("u2", "u3"))
    // quarantined rows are skipped on resume (problematic skip-list semantics)
    val (n2, q2) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    assert(n2 == 0L && q2 == 0L)
  }

  test("clusterEpoch: incremental epochs converge to the single-shot clustering") {
    import graft.pipeline.DedupPipeline
    val dir = tempDir()
    val all = PagesGen.pages(spark, 10L, seed = 9L, tokensPerDoc = 120).toDF().cache()
    // epoch 1 sees an arbitrary half (splits dup groups across epochs),
    // epoch 2 sees everything — only the delta is fingerprinted
    val half = all.filter(xxhash64($"url") % 2 === 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", dir)
    val (nNew2, _) = Checkpoints.clusterEpoch(spark, all, "url", "text", dir)
    assert(nNew2 < all.count(), "second epoch must fingerprint only the delta")

    val incr = table(dir, "clusters")
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    val oneShot = DedupPipeline.run(spark, all, "url", "text", DedupConfig())
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    assert(incr == oneShot, "resumed clustering must equal single-shot clustering")

    // actions table: every duplicate points at a representative in ITS cluster
    val actions = table(dir, "actions")
    val bad = actions.join(
        table(dir, "clusters")
          .select($"id", $"cluster_id".as("c_dup")), "id")
      .join(table(dir, "clusters")
          .select($"id".as("original_id"), $"cluster_id".as("c_orig")), "original_id")
      .filter($"c_dup" =!= $"c_orig").count()
    assert(bad == 0)
  }

  test("clusterEpoch with DELTA-ONLY pages still links cross-epoch containment pairs") {
    // epoch 2 passes only the never-seen rows (what runEpoch's anti-join
    // invites callers to do): texts for epoch-1 docs are then absent from
    // the suffix-array side input, and those pairs must fall back to the
    // shingle-containment decision instead of being silently dropped.
    import graft.pipeline.DedupPipeline
    val dir = tempDir()
    val all = PagesGen.pages(spark, 8L, seed = 11L, tokensPerDoc = 120).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    val delta = all.filter(xxhash64($"url") % 2 =!= 0)
    Checkpoints.clusterEpoch(spark, half, "url", "text", dir)
    Checkpoints.clusterEpoch(spark, delta, "url", "text", dir)

    val incr = table(dir, "clusters")
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    val oneShot = DedupPipeline.run(spark, all, "url", "text", DedupConfig())
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    assert(incr == oneShot,
      "delta-only resume must converge to single-shot clustering via the containment fallback")
  }

  test("state layer speaks Hadoop FileSystem URIs (file://), not driver-local paths") {
    val dir = "file://" + tempDir()
    val nk = PagesGen.variantKinds.length
    val pages = PagesGen.pages(spark, 3L, seed = 5L, tokensPerDoc = 80).toDF()
    val (n1, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    val (n2, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    assert(n1 == 3L * nk && n2 == 0L)
    // the manifest lives at the URI and reads back through Hadoop FS
    val manifest = Checkpoints.readManifest(spark, dir)
    assert(manifest.size == 2 && manifest.head.contains(s""""new_signatures":$n1"""))
  }

  test("executeEpoch: idempotent executor with validate-exists, tombstones and backup") {
    val dir = tempDir()
    val backup = tempDir() + "/backup"
    val pages = PagesGen.pages(spark, 6L, seed = 7L, tokensPerDoc = 100).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")

    val nPlanned = table(dir, "actions").count()
    val (nExec, nFail) = Checkpoints.executeEpoch(spark, dir, Some(backup))
    assert(nExec == nPlanned && nFail == 0, s"all $nPlanned planned should execute")

    // idempotence: a second run finds nothing pending
    val (nExec2, nFail2) = Checkpoints.executeEpoch(spark, dir, Some(backup))
    assert(nExec2 == 0 && nFail2 == 0)

    // tombstones (derived from the executed table — the single commit
    // point): exactly the executed delete ids; live view excludes them
    val tombs = Checkpoints.tombstones(spark, dir)
    assert(tombs.count() == nExec)
    val live = Checkpoints.liveSignatures(spark, dir)
    assert(live.count() ==
      spark.read.parquet(Checkpoints.signaturesPath(dir)).count() - nExec)
    assert(live.join(tombs.select("id"), Seq("id"), "left_semi").count() == 0)

    // backup-before-remove: every vacated signature row was backed up once
    val backedUp = spark.read.parquet(backup)
    assert(backedUp.count() == nExec)

    // every representative survives (an executor must never delete originals)
    val reps = table(dir, "clusters")
      .filter($"is_representative").select("id")
    assert(reps.join(tombs.select("id"), Seq("id"), "left_semi").count() == 0)
  }

  test("executeEpoch: vanished ids fail with an error, others still execute") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 8L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "move")
    // simulate state loss: rewrite signatures without one planned duplicate
    val victim = table(dir, "actions")
      .select("id").orderBy("id").limit(1).as[String].collect().head
    val pruned = spark.read.parquet(Checkpoints.signaturesPath(dir))
      .filter($"id" =!= victim).cache()
    pruned.count()
    pruned.withColumn("part", lit(0)).write.mode("overwrite").partitionBy("part")
      .parquet(Checkpoints.generationPath(spark, dir, "signatures").get)
    val (nExec, nFail) = Checkpoints.executeEpoch(spark, dir, None)
    assert(nFail == 1 && nExec > 0)
    val failed = spark.read.parquet(Checkpoints.executedPath(dir)).filter(!$"success")
    assert(failed.select("id").as[String].collect().toSeq == Seq(victim))
    assert(failed.select("error").as[String].collect().head == "missing_id")

    // bounded retries: re-running must NOT re-attempt (and re-append) the
    // permanently-failed row — the pending anti-join keys on plan identity,
    // success or failure alike, so the executed table stays one row per row
    val (nExec2, nFail2) = Checkpoints.executeEpoch(spark, dir, None)
    assert(nExec2 == 0 && nFail2 == 0, "unchanged plan must not retry failures")
    val executed = spark.read.parquet(Checkpoints.executedPath(dir))
    assert(executed.groupBy("id").count().filter($"count" > 1).count() == 0,
      "executed table accumulated duplicate rows across retries")
  }

  test("time travel: signaturesAsOf reads each epoch's exact snapshot") {
    val dir = tempDir()
    val nk = PagesGen.variantKinds.length
    // epoch 0: 4 bases; epoch 1: 2 more bases; then execute deletes
    val p1 = PagesGen.pages(spark, 4L, seed = 9L, tokensPerDoc = 100).toDF()
    val p2 = PagesGen.pages(spark, 6L, seed = 9L, tokensPerDoc = 100).toDF()
    Checkpoints.runEpoch(spark, p1, "url", "text", dir)
    Checkpoints.clusterEpoch(spark, p2, "url", "text", dir, action = "delete")
    val (nExec, _) = Checkpoints.executeEpoch(spark, dir)
    assert(nExec > 0)

    // epoch 0 snapshot: exactly the first commit, NO tombstones (the
    // execution was stamped with epoch 1)
    val asOf0 = Checkpoints.signaturesAsOf(spark, dir, 0L)
    assert(asOf0.count() == 4L * nk, s"epoch-0 snapshot wrong: ${asOf0.count()}")
    // latest snapshot ≡ live view (rows and ids)
    val asOf1 = Checkpoints.signaturesAsOf(spark, dir, 1L)
    val live = Checkpoints.liveSignatures(spark, dir)
    assert(asOf1.count() == live.count())
    assert(asOf1.select("id").except(live.select("id")).count() == 0)
    // snapshots never resurrect the future: epoch-0 read contains no
    // epoch-1 id
    val epoch1Ids = spark.read.parquet(Checkpoints.signaturesPath(dir))
      .filter($"epoch" === 1L).select("id")
    assert(asOf0.select("id").intersect(epoch1Ids).count() == 0)
  }

  test("state lock: a second writer fails cleanly; stale leases are broken") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 2L, seed = 23L, tokensPerDoc = 60).toDF()
    // simulate a racing writer holding the lease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(Checkpoints.lockPath(dir))
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] {
      Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    }
    assert(e.getMessage.contains("locked by another writer"))
    assert(fs.exists(lock), "loser must not delete the winner's lease")
    // a crashed holder's stale lease (old mtime) is broken and the epoch runs
    fs.setTimes(lock, System.currentTimeMillis() - 60L * 60 * 1000, -1)
    val (n, _) = Checkpoints.runEpoch(spark, pages, "url", "text", dir)
    assert(n == 2L * PagesGen.variantKinds.length)
    assert(!fs.exists(lock), "lease must be released after a successful epoch")
  }

  test("state lock: a fresh lease created inside the takeover window survives") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 2L, seed = 23L, tokensPerDoc = 60).toDF()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(Checkpoints.lockPath(dir))
    fs.mkdirs(lock.getParent)
    // a crashed holder's stale lease is on disk…
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 60L * 60 * 1000, -1)
    // …and between OUR staleness check and the takeover, a racing writer
    // breaks it and a third writer creates a FRESH lease at the same path
    Checkpoints.lockTakeoverTestHook = () => {
      fs.delete(lock, false)
      fs.create(lock, false).close()
    }
    try {
      val e = intercept[IllegalStateException] {
        Checkpoints.runEpoch(spark, pages, "url", "text", dir)
      }
      assert(e.getMessage.contains("locked by another writer"))
      assert(fs.exists(lock),
        "the fresh lease created inside the takeover window was destroyed")
      // the fresh lease must still be LIVE (recent mtime), not a broken relic
      val age = System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
      assert(age < 60L * 1000, s"surviving lock is not the fresh lease (age ${age}ms)")
    } finally Checkpoints.lockTakeoverTestHook = () => ()
  }

  test("executeEpoch with reliable checkpoints yields identical results") {
    def run(cfg: DedupConfig): org.apache.spark.sql.DataFrame = {
      val dir = tempDir()
      val pages = PagesGen.pages(spark, 4L, seed = 31L, tokensPerDoc = 80).toDF()
      Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, cfg, action = "delete")
      Checkpoints.executeEpoch(spark, dir, None, cfg)
      spark.read.parquet(Checkpoints.executedPath(dir))
    }
    val local = run(DedupConfig())
    val reliable = run(DedupConfig(reliableCheckpoints = true))
    assert(reliable.count() == local.count() && local.count() > 0)
    assert(reliable.select("id", "original_id", "action", "success")
      .except(local.select("id", "original_id", "action", "success")).count() == 0,
      "reliable-mode executor produced different results")
  }

  test("executeEpoch retries transient failures but not validation failures") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 3L, seed = 37L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")
    val plan = table(dir, "actions")
    val two = plan.select("id", "original_id", "action").limit(2).collect()
    // a first run publishes the executed table; then simulate its outcome
    // instead: row 0 failed TRANSIENTLY (an FS hiccup from a side-effecting
    // executor), row 1 failed PERMANENTLY (validation)
    Checkpoints.executeEpoch(spark, dir, None)
    Seq(
      (two(0).getString(0), two(0).getString(1), two(0).getString(2),
        false, false, "io_error_transient", 0L),
      (two(1).getString(0), two(1).getString(1), two(1).getString(2),
        false, false, "missing_id", 0L))
      .toDF("id", "original_id", "action", "dry_run", "success", "error", "epoch")
      .withColumn("part", lit(0)).write.mode("overwrite").partitionBy("part")
      .parquet(Checkpoints.generationPath(spark, dir, "executed").get)
    Checkpoints.executeEpoch(spark, dir, None)
    val ex = spark.read.parquet(Checkpoints.executedPath(dir))
    // the transient row was re-attempted (ids are live, so it now succeeds)…
    assert(ex.filter(col("id") === two(0).getString(0) && col("success")).count() == 1,
      "transiently failed action was not retried")
    // …the validation failure was NOT re-attempted (still its single row)
    assert(ex.filter(col("id") === two(1).getString(0)).count() == 1,
      "permanent validation failure was retried")
  }

  test("signaturesAsOf applies an epoch-0 tombstone at every later snapshot") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 3L, seed = 41L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")
    Checkpoints.executeEpoch(spark, dir)
    val someId = spark.read.parquet(Checkpoints.signaturesPath(dir))
      .select("id").orderBy("id").limit(1).collect()(0).getString(0)
    // the published executed table holds an epoch-0 tombstone for someId
    // next to a failed row
    Seq((someId, "orig-x", "delete", false, true, null.asInstanceOf[String], 0L),
        ("no-such-id", "orig-y", "delete", false, false, "missing_id", 0L))
      .toDF("id", "original_id", "action", "dry_run", "success", "error", "epoch")
      .withColumn("part", lit(0)).write.mode("overwrite").partitionBy("part")
      .parquet(Checkpoints.generationPath(spark, dir, "executed").get)
    // deleted rows must not resurrect in any snapshot at or after the epoch
    val asOf0 = Checkpoints.signaturesAsOf(spark, dir, 0L)
    assert(asOf0.filter(col("id") === someId).count() == 0,
      "epoch-0 tombstone resurrected in the epoch-0 snapshot")
    assert(Checkpoints.signaturesAsOf(spark, dir, 99L)
      .filter(col("id") === someId).count() == 0)
  }

  test("preview surface: clusterEpoch writes one representative snippet per cluster") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 3L, seed = 43L, tokensPerDoc = 80).toDF()
    val (_, nClusters) = Checkpoints.clusterEpoch(spark, pages, "url", "text", dir,
      DedupConfig(previewChars = 40))
    val previews = table(dir, "previews")
    assert(previews.count() == nClusters, "one preview row per cluster")
    assert(previews.select("cluster_id").distinct().count() == nClusters)
    // snippet respects the cap and comes from the representative's text
    assert(previews.filter(length(col("preview")) > 40).count() == 0)
    val reps = table(dir, "clusters")
      .filter(col("is_representative")).select("id")
    assert(previews.select(col("representative_id").as("id"))
      .except(reps).count() == 0)
    // opt-in posture: the default config writes no previews table
    val dir2 = tempDir()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir2)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Checkpoints.previewsPath(dir2))))
    // slice-fed posture without textsOf: the contract stays one row per
    // cluster — representatives whose text was not among this epoch's
    // inputs carry a null preview instead of silently vanishing
    val slice = PagesGen.pages(spark, 2L, seed = 97L, tokensPerDoc = 80).toDF()
    val (_, n2) = Checkpoints.clusterEpoch(spark, slice, "url", "text", dir,
      DedupConfig(previewChars = 40))
    val p2 = table(dir, "previews")
    assert(p2.count() == n2, "one preview row per cluster, slice-fed too")
    assert(p2.filter(col("preview").isNull).count() > 0,
      "old representatives (text not in the slice) must keep a null-preview row")
  }

  test("diagnose stays drift-free after execute + re-cluster (live-view diff)") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 29L, tokensPerDoc = 80).toDF().cache()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")
    Checkpoints.executeEpoch(spark, dir, None)
    // re-cluster AFTER executing: clusters now cover only the live view, so
    // diffing RAW signatures against clusters would count every tombstoned
    // row as drift — the live-view diff must stay all-zero
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")
    val d = Checkpoints.diagnose(spark, dir).as[(String, Long)].collect().toMap
    assert(d("tombstoned") > 0L)
    assert(d("live_signatures") == d("signatures") - d("tombstoned"))
    assert(d("signature_without_cluster") == 0L,
      "tombstoned rows must not be reported as unclustered drift")
    assert(d("cluster_without_signature") == 0L)
  }

  test("mixed fast/full epochs: no empty-shingle mass-merge; simhash tier covers fast rows") {
    import graft.pipeline.DedupConfig
    val dir = tempDir()
    val all = PagesGen.pages(spark, 6L, seed = 17L, tokensPerDoc = 100).toDF().cache()
    val half = all.filter(xxhash64($"url") % 2 === 0)
    val rest = all.filter(xxhash64($"url") % 2 =!= 0)
    // epoch 1 persists shingle-less fast-path signatures; epoch 2 runs the
    // FULL path over the mixed state (it must not re-fingerprint, must not
    // band empty arrays, and must still link fast rows via simhash)
    Checkpoints.clusterEpoch(spark, half, "url", "text", dir, DedupConfig(fastPath = true))
    Checkpoints.clusterEpoch(spark, rest, "url", "text", dir)
    val assign = table(dir, "clusters")
      .select($"id", $"cluster_id").cache()
    val truth = PagesGen.truthPairs(spark, 6L, seed = 17L).toDF()
    def joined(t: org.apache.spark.sql.DataFrame) = t
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    // the empty-array mass-merge would collapse everything into one cluster
    val falseMerges = joined(truth.filter(!$"expect_dup")).filter($"ca" === $"cb").count()
    assert(falseMerges == 0, s"$falseMerges unrelated pairs merged in mixed-mode state")
    assert(assign.select("cluster_id").distinct().count() > 6)
    // identity + surface-noise dups still link even when the two sides were
    // fingerprinted by different modes
    val t = joined(truth.filter($"kind".isin("exact_copy", "ws_noise")))
    assert(t.filter($"ca" === $"cb").count() == t.count())
  }

  test("diagnose reports consistent totals and zero cross-table drift") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 13L, tokensPerDoc = 80).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir, action = "delete")
    Checkpoints.executeEpoch(spark, dir, None)
    val d = Checkpoints.diagnose(spark, dir)
      .as[(String, Long)].collect().toMap
    val nk = PagesGen.variantKinds.length
    assert(d("signatures") == 4L * nk && d("clusters") == 4L * nk)
    assert(d("signature_without_cluster") == 0L)
    assert(d("cluster_without_signature") == 0L)
    assert(d("tombstoned") > 0L && d("quarantined") == 0L)
    assert(d("uncommitted_generations") == 0L)
  }

  test("per-partition lineage per epoch lives on the signature rows, with no metrics table") {
    val dir = tempDir()
    Checkpoints.runEpoch(spark,
      PagesGen.pages(spark, 6L, seed = 4L, tokensPerDoc = 80).toDF(), "url", "text", dir)
    Checkpoints.clusterEpoch(spark,
      PagesGen.pages(spark, 9L, seed = 4L, tokensPerDoc = 80).toDF(), "url", "text", dir)
    val lineage = table(dir, "signatures")
      .groupBy("epoch", "part_id").agg(count(lit(1)).as("n_rows"))
      .groupBy("epoch").agg(sum("n_rows")).as[(Long, Long)].collect().toMap
    val lines = Checkpoints.readManifest(spark, dir)
    val NewRows = """"epoch":(\d+),"new_signatures":(\d+)""".r
    val logged = lines.flatMap(NewRows.findFirstMatchIn(_))
      .map(m => m.group(1).toLong -> m.group(2).toLong).toMap
    val nk = PagesGen.variantKinds.length
    assert(logged == Map(0L -> 6L * nk, 1L -> 3L * nk))
    assert(lineage == logged)
    assert(!new java.io.File(s"$dir/metrics").exists())
    assert(!lines.exists(_.contains("\"metrics\"")), lines.mkString("\n"))
  }

  test("state lock: a finished holder does not release a lease taken over mid-epoch") {
    val dir = tempDir()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(Checkpoints.lockPath(dir))
    Checkpoints.withStateLock(spark, dir) {
      // simulate a takeover during an epoch that outlived staleMs: a newer
      // writer broke our stale-looking lease and holds its own at the path
      fs.delete(lock, false)
      fs.create(lock, false).close()
    }
    assert(fs.exists(lock),
      "the finishing holder deleted the successor writer's live lease")
    fs.delete(lock, false)
    // and when the lease is still its own, release works as always
    Checkpoints.withStateLock(spark, dir) { () }
    assert(!fs.exists(lock), "own lease must be released on exit")
  }

  test("forceRescan restarts the executed and quarantine tables with the store") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 4L, seed = 31L, tokensPerDoc = 80).toDF()
    // a doc with unusable text → quarantined in epoch 1
    val bad = pages.orderBy("url").limit(1)
      .withColumn("url", concat(col("url"), lit("#bad")))
      .withColumn("text", lit(""))
    Checkpoints.clusterEpoch(spark, pages.unionByName(bad), "url", "text", dir,
      action = "delete")
    Checkpoints.executeEpoch(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(Checkpoints.executedPath(dir))))
    val totalSigs = spark.read.parquet(Checkpoints.signaturesPath(dir)).count()
    assert(Checkpoints.liveSignatures(spark, dir).count() < totalSigs,
      "executed deletes should tombstone some rows before the rescan")
    // the rescan restarts the WHOLE store: the formerly-bad doc now has
    // text, no pre-rescan tombstone may suppress a re-minted id, and the
    // old skip list must not survive
    val fixed = pages.orderBy("url").limit(1)
      .withColumn("url", concat(col("url"), lit("#bad")))
      .withColumn("text", lit("now perfectly fine text"))
    val (n, q) = Checkpoints.runEpoch(spark, pages.unionByName(fixed), "url", "text",
      dir, DedupConfig(forceRescan = true))
    assert(q == 0L, s"nothing to quarantine after the fix, got $q")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Checkpoints.executedPath(dir))),
      "pre-rescan executed table survived the store restart")
    val live = Checkpoints.liveSignatures(spark, dir)
    assert(live.count() == n, "rescan store must carry no tombstones")
    assert(live.filter(col("id").endsWith("#bad")).count() == 1,
      "the re-minted formerly-quarantined id must be live after the rescan")
  }

  test("executeEpoch settles a null-original plan row after one run") {
    val dir = tempDir()
    val pages = PagesGen.pages(spark, 2L, seed = 7L, tokensPerDoc = 60).toDF()
    Checkpoints.clusterEpoch(spark, pages, "url", "text", dir)
    val someId = spark.read.parquet(Checkpoints.signaturesPath(dir))
      .select("id").orderBy("id").first().getString(0)
    // a plan row for a representative-less cluster: original_id is null
    // (Actions.plan surfaces these as error rows). Plain equi-join keys
    // would never match its settled row — it would re-execute forever.
    Seq((someId, Option.empty[String], "delete", false, false,
        Option.empty[String]))
      .toDF("id", "original_id", "action", "dry_run", "success", "error")
      .withColumn("part", lit(0)).write.mode("overwrite").partitionBy("part")
      .parquet(Checkpoints.generationPath(spark, dir, "actions").get)
    val (ok1, fail1) = Checkpoints.executeEpoch(spark, dir)
    assert(ok1 == 0L && fail1 == 1L, s"first run must fail it once: $ok1/$fail1")
    val (ok2, fail2) = Checkpoints.executeEpoch(spark, dir)
    assert(ok2 == 0L && fail2 == 0L,
      s"null-original row must be settled, not re-executed: $ok2/$fail2")
    assert(spark.read.parquet(Checkpoints.executedPath(dir)).count() == 1L,
      "exactly one executed row for the one plan identity")
  }
}
