package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.cluster.Clustering
import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}

/** The recall fixture (north_rule: dup-pair recall ≥ 0.99 at the reference
  * shingle/signature config) + union-find partition properties + precision
  * guard — SURVEY.md §5.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val numBase = 30L
  private lazy val pages = PagesGen.pages(spark, numBase, seed = 42L, tokensPerDoc = 240)
    .toDF().cache()
  private lazy val truth = PagesGen.truthPairs(spark, numBase, seed = 42L).toDF().cache()
  private lazy val clusters =
    DedupPipeline.run(spark, pages, "url", "text", DedupConfig()).cache()

  test("every url gets exactly one cluster (partition property)") {
    assert(clusters.count() == numBase * PagesGen.variantKinds.length)
    assert(clusters.groupBy("id").count().filter($"count" > 1).count() == 0)
  }

  test("dup-pair recall >= 0.99 on planted ground truth") {
    val assign = clusters.select($"id", $"cluster_id")
    val joined = truth.filter($"expect_dup")
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val total = joined.count()
    val hit = joined.filter($"ca" === $"cb").count()
    val recall = hit.toDouble / total
    val misses = joined.filter($"ca" =!= $"cb").groupBy("kind").count().collect()
    info(s"recall = $recall ($hit/$total); misses by kind: ${misses.mkString(",")}")
    assert(recall >= 0.99, s"recall $recall < 0.99; misses: ${misses.mkString(",")}")
  }

  test("precision guard: unrelated variants never join their base cluster") {
    val assign = clusters.select($"id", $"cluster_id")
    val joined = truth.filter(!$"expect_dup")
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val falseMerges = joined.filter($"ca" === $"cb").count()
    assert(falseMerges == 0, s"$falseMerges unrelated pairs wrongly clustered")
  }

  test("exact copies share content_hash and cluster; kind=exact") {
    val sigs = DedupPipeline.signatures(pages, "url", "text", DedupConfig())
    val exactGroups = sigs.groupBy("content_hash").count().filter($"count" > 1).count()
    assert(exactGroups >= numBase) // every base has an exact_copy variant
    val kinds = clusters.filter($"id".endsWith("/exact_copy")).select("kind")
      .distinct().as[String].collect().toSet
    assert(kinds == Set("exact"))
  }

  test("exactly one representative per cluster, chosen by (longest, url) priority") {
    val reps = clusters.filter($"is_representative")
    assert(reps.count() == clusters.select("cluster_id").distinct().count())
    assert(reps.groupBy("cluster_id").count().filter($"count" =!= 1).count() == 0)
  }

  test("exactEdges links members to the group min; singleton hashes emit nothing") {
    val sigs = Seq(
      ("u3", "h1"), ("u1", "h1"), ("u2", "h1"), // group min u1
      ("u5", "h2"), ("u4", "h2"),               // group min u4
      ("u6", "h3")                              // singleton: no edge
    ).toDF("id", "content_hash")
    val edges = Clustering.exactEdges(sigs, "id", "content_hash")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("u3", "u1"), ("u2", "u1"), ("u5", "u4")))
    // the caller-supplied-aggregate form is the same operator
    val roots = sigs.groupBy("content_hash")
      .agg(min($"id").as("root"), count(lit(1)).as("hash_n"))
    val edges2 = Clustering.exactEdgesFrom(sigs, roots, "id", "content_hash")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges2 == edges)
  }

  test("DedupConfig rejects fastPathBands = 0 with a clear message") {
    val e = intercept[IllegalArgumentException](DedupConfig(fastPathBands = 0))
    assert(e.getMessage.contains("fastPathBands must be > 0"))
  }

  test("union-find: chain a-b, b-c, c-d collapses to one cluster") {
    // z's only edge is a self-loop: it labels itself
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("z", "z")).toDF("a", "b")
    val m = unionFindBothPaths(edges)._1.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("a", "b", "c", "d").map(m) == Set("a"))
    assert(Set("x", "y").map(m) == Set("x"))
    assert(m("z") == "z" && m.size == 7)
  }

  test("union-find: an empty edge set yields no rows and runs no contraction round") {
    for (edges <- Seq(Seq.empty[(String, String)].toDF("a", "b"),
                      Seq.empty[(Long, Long)].toDF("a", "b"))) {
      val (rows, Seq(local, loop)) = unionFindBothPaths(edges)
      assert(rows.isEmpty)
      // cap 0 finishes an empty edge set locally too: no round-pair's
      // checkpoint runs, and no round past uf_round_0 is observed
      assert(loop.actions == local.actions)
      assert(!(local.observations ++ loop.observations).contains("uf_round_1"))
    }
  }

  test("union-find: 100-link chain (worst-case diameter) converges in O(log n) rounds") {
    // a truncation/edit chain A~B~C~… is realistic web-dedup topology; the
    // O(diameter) propagation this replaced would need >100 rounds here.
    // log2(101) ≈ 6.7 — star contraction must finish within ~2x that.
    val n = 100
    val edges = (0 until n).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("a", "b")
    val uf = unionFindBothPaths(edges, maxIters = 14)._1
    assert(uf.length == n + 1)
    assert(uf.forall(_.getString(1) == "v000"))
  }

  test("union-find: binary-tree and dense-clique components resolve to their min") {
    // tree: children 2i+1, 2i+2 of i for i<15 (31 nodes); clique on 5 nodes
    val tree = (0 until 15).flatMap(i => Seq((i.toLong, 2L * i + 1), (i.toLong, 2L * i + 2)))
    val clique = for (i <- 100 to 104; j <- (i + 1) to 104) yield (i.toLong, j.toLong)
    // 200's only edge is a self-loop: it labels itself
    val edges = (tree ++ clique :+ ((200L, 200L))).toDF("a", "b")
    val m = unionFindBothPaths(edges)._1.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 31L).forall(m(_) == 0L))
    assert((100L to 104L).forall(m(_) == 100L))
    assert(m(200L) == 200L && m.size == 37)
  }

  test("duplicate-free corpus: every doc is its own unique singleton cluster") {
    val unique = (0 until 8).map(i =>
      (s"u$i", Seq.tabulate(40)(j => s"tok${i * 1000 + j * 7}").mkString(" ")))
      .toDF("url", "text")
    val c = DedupPipeline.run(spark, unique, "url", "text", DedupConfig())
    assert(c.count() == 8)
    assert(c.filter($"kind" =!= "unique").count() == 0)
    assert(c.filter(!$"is_representative").count() == 0)
    assert(c.filter($"id" =!= $"cluster_id").count() == 0)
  }

  test("all-identical corpus: one exact cluster, one representative, no LSH blowup") {
    val same = (0 until 50).map(i => (f"u$i%03d", "exactly the same text content here"))
      .toDF("url", "text")
    val c = DedupPipeline.run(spark, same, "url", "text", DedupConfig()).cache()
    assert(c.count() == 50)
    assert(c.select("cluster_id").distinct().count() == 1)
    assert(c.filter($"is_representative").count() == 1)
    assert(c.select("kind").distinct().as[String].collect().toSeq == Seq("exact"))
  }

  test("fastPath (X4): clusters exact_copy + ws_noise, never merges unrelated") {
    val fast = DedupPipeline.run(spark, pages, "url", "text",
      DedupConfig(fastPath = true)).cache()
    assert(fast.count() == numBase * PagesGen.variantKinds.length)
    val assign = fast.select($"id", $"cluster_id")
    def recallOf(kinds: Seq[String]): Double = {
      val j = truth.filter($"kind".isin(kinds: _*))
        .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
        .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
      j.filter($"ca" === $"cb").count().toDouble / j.count()
    }
    // the fast tier's contract: identity + surface-noise dups are caught
    assert(recallOf(Seq("exact_copy", "ws_noise")) == 1.0)
    // precision guard still holds in fast mode
    val falseMerges = truth.filter(!$"expect_dup")
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
      .filter($"ca" === $"cb").count()
    assert(falseMerges == 0)
    fast.unpersist()
  }

  test("mid_quote (middle-of-document containment) pairs are caught via anchor bands") {
    // sub-Jaccard (s ≈ 0.25) AND not a prefix: neither the minhash tier
    // (P ≈ 0.74) nor the prefix band can reliably find these — the
    // offset-invariant winnowed anchor bands are load-bearing here.
    val assign = clusters.select($"id", $"cluster_id")
    val t = truth.filter($"kind" === "mid_quote")
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val total = t.count()
    val hit = t.filter($"ca" === $"cb").count()
    assert(total == numBase)
    assert(hit.toDouble / total >= 0.95, s"mid-quote recall $hit/$total")
  }

  test("truncate_60 containment pairs are caught (suffix/containment pass)") {
    val assign = clusters.select($"id", $"cluster_id")
    val t = truth.filter($"kind" === "truncate_60")
      .join(assign.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(assign.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val total = t.count()
    val hit = t.filter($"ca" === $"cb").count()
    assert(hit.toDouble / total >= 0.95, s"containment recall $hit/$total")
  }

  test("reliable-checkpoint mode yields byte-identical clusters (preemption-safe path)") {
    // every localCheckpoint site routes through reliable checkpoint():
    // blocks land in checkpointDir (they survive executor loss on a real
    // cluster), and the result must not move by a byte
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val reliable = DedupPipeline.run(spark, pages, "url", "text",
      DedupConfig(reliableCheckpoints = true, checkpointDir = ckpt))
    val base = clusters.select("id", "cluster_id", "is_representative", "kind")
      .as[(String, String, Boolean, String)].collect().toSet
    val rel = reliable.select("id", "cluster_id", "is_representative", "kind")
      .as[(String, String, Boolean, String)].collect().toSet
    assert(rel == base, "reliable mode changed the clustering output")
    // the checkpoints actually went to the reliable dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "no reliable checkpoint files were written")
  }

  test("SA verify slice keeps its explicit fixed-width pair-key exchange (plan shape)") {
    // The suffix-array pass is byte-light but CPU-dense; without an exchange
    // carrying an EXPLICIT numPartitions, AQE's byte-based coalescing packs
    // the slice into one or two tasks and the pass serializes into a
    // stage-tail straggler (BASELINE.md round 5b: 21.7 s of CPU in one task
    // at 220k pages). This pins the plan shape so a refactor cannot silently
    // lose the repartition: the optimized plan of nearEdges-with-texts must
    // contain a RepartitionByExpression over (id_a, id_b) with a DEFINED
    // partition count — the variant AQE is contractually not allowed to
    // coalesce (REPARTITION_BY_NUM).
    val cfg = DedupConfig()
    val sigs = DedupPipeline.signatures(pages, "url", "text", cfg)
    val edges = DedupPipeline.nearEdges(spark, sigs, cfg,
      texts = Some(DedupPipeline.normTexts(pages, "url", "text", cfg)))
    val reparts = edges.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
          if r.optNumPartitions.isDefined =>
        r.partitionExpressions.flatMap(_.references.map(_.name)).toSet
    }
    assert(reparts.exists(cols => cols == Set("id_a", "id_b")),
      s"no fixed-width (id_a, id_b) repartition in the optimized plan: $reparts")
  }
  test("id dictionary encode plan: one exchange, range-partitioned (plan shape)") {
    // RangePartitioning(sid) already satisfies the dedup aggregate's
    // distribution, so the encode must not add a hashpartitioning exchange.
    // AQE off so the compile-time plan is the one inspected.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val ids = spark.range(100).select(($"id" % 37).cast("string"))
      val plan = DedupPipeline.idDictionaryPlan(ids).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, s"expected ONE exchange, got ${exchanges.length}:\n$plan")
      assert(exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning],
        s"the exchange must range-partition the ids:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("withRepresentatives: the salted two-phase election equals the single-window top-1") {
    // clusters of very different sizes incl. one far above the salt count,
    // plus ties on the first order column so the id tiebreak matters
    val rows = for (i <- 0 until 900) yield {
      val cluster = if (i < 700) "mega" else s"c${i % 13}"
      (f"id-$i%04d", cluster, (i % 7).toLong)
    }
    val df = rows.toDF("id", "cluster_id", "order_len")
    val orderCols = Seq($"order_len".desc, $"id".asc)
    val got = Clustering.withRepresentatives(df, orderCols, salts = 8)
      .filter($"is_representative").select("cluster_id", "id")
      .as[(String, String)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy(orderCols: _*)
    val expected = df.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select("cluster_id", "id")
      .as[(String, String)].collect().toMap
    assert(got == expected,
      "salted election must elect exactly the single-window winners")
    // exactly one representative per cluster, none lost on the mega group
    assert(got.size == expected.size && got.contains("mega"))
  }
  private def ladderSigs(texts: Seq[(String, String)], cfg: DedupConfig) =
    texts.toDF("id", "text")
      .select(col("id"),
        graft.fingerprint.Fingerprints.docSignature(col("text"),
          cfg.shingleK, cfg.numPerms, cfg.maxShingles).as("ds"))
      .select(col("id"), col("ds.minhash").as("minhash"),
        col("ds.simhash").as("simhash"), col("ds.shingles").as("shingles"))

  test("prefix ladder: a truncation SHORTER than m shingles still collides with its parent") {
    val cfg = DedupConfig()
    val parent = (1 to 200).map(i => s"tok$i").mkString(" ")
    // first 8 tokens -> 6 three-shingles: under prefixBandShingles (8),
    // at/above the half level (4) — invisible to the single-level channel,
    // caught by the ladder's half-length band
    val child = (1 to 8).map(i => s"tok$i").mkString(" ")
    val rows = DedupPipeline.fullBandRows(
      ladderSigs(Seq(("parent", parent), ("child", child)), cfg), cfg)
    val shared = rows
      .filter(col("band") >= cfg.bands && col("band") =!= cfg.bands + 1)
      .groupBy("band", "band_hash").agg(collect_set("id").as("ids"))
      .filter(array_contains(col("ids"), "parent") &&
        array_contains(col("ids"), "child"))
      .select("band").as[Int].collect()
    assert(shared.nonEmpty,
      "a short prefix truncation must share a prefix-ladder bucket with its parent")
    assert(shared.contains(cfg.bands + 2),
      s"the HALF-length level must be the catching bucket, got bands ${shared.toSeq}")
  }

  test("fullBandRows fails loudly on a minhash/banding config mismatch") {
    val cfg = DedupConfig()
    val sigs = ladderSigs(Seq(
      ("a", (1 to 60).map(i => s"w$i").mkString(" ")),
      ("b", (1 to 60).map(i => s"x$i").mkString(" "))), cfg)
    // simulate a store written under a smaller numPerms: arrays shorter
    // than bands*rowsPerBand — slicing past them would silently hash
    // identical empty-band keys for every high band
    val mangled = sigs.withColumn("minhash", slice(col("minhash"), 1, 10))
    val e = intercept[Throwable] {
      DedupPipeline.fullBandRows(mangled, cfg).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(e).exists(m => m.contains("forceRescan")),
      s"expected the loud banding-config message, got: ${chain(e).mkString(" | ")}")
  }

  test("fullBandRows accepts minhash arrays LONGER than bands*rowsPerBand") {
    // numPerms > bands*rowsPerBand is the documented forward-compat path
    // (DedupConfig.numPerms scaladoc: persisted state may carry extra
    // permutations to support denser re-banding later); slice() past a
    // longer array is lossless, so banding must NOT raise — and the band
    // hashes must equal those of an exact-width array, since only the
    // first bands*rowsPerBand slots are read.
    val cfg = DedupConfig()
    val wide = cfg.copy(numPerms = cfg.bands * cfg.rowsPerBand + 8)
    val texts = Seq(
      ("a", (1 to 60).map(i => s"w$i").mkString(" ")),
      ("b", (1 to 60).map(i => s"x$i").mkString(" ")))
    val wideRows = DedupPipeline.fullBandRows(ladderSigs(texts, wide), cfg)
      .select("id", "band", "band_hash").collect().toSet
    val exactRows = DedupPipeline.fullBandRows(ladderSigs(texts, cfg), cfg)
      .select("id", "band", "band_hash").collect().toSet
    assert(wideRows == exactRows,
      "a longer minhash array must band identically to the exact-width array")
  }
}
