package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann

class AnnSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = {
    // deterministic synthetic vectors: 3 tight clusters in 8-d
    val rows = for (i <- 0 until 60) yield {
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == c) 1.0f else 0.05f)
      val jitter = Array.tabulate(8) { d =>
        val h = graft.fingerprint.HashKernels.avalanche(i * 31L + d)
        (java.lang.Long.remainderUnsigned(h, 100).toInt - 50) / 2000.0f
      }
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }.toSeq)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  test("annInvariants is a cross-implementation check: injected faults flip real rows") {
    // the per-vector booleans must come from the independent SQL recheck,
    // not from trusting the operator's own columns — prove it by tampering
    // with a correct ANN output in four distinct ways and asserting the
    // corresponding boolean flips on the affected vector's row
    def invariants(tamper: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      SparkEntry.annInvariants(spark, vecs,
        e => tamper(Ann.lshKnn(e, "vec_id", "embedding", k = 3, nPlanes = 48, bands = 16)),
        recallBound = 0.5, recallCol = "recall_ok").cache()

    val clean = invariants(identity)
    assert(clean.filter(!col("ranks_valid") || !col("per_id_le_k") ||
      !col("cos_bounded") || !col("recall_ok")).count() == 0)

    // (1) perturbed cosine: reported cos disagrees with the recompute
    val badCos = invariants(df => df.withColumn("cos",
      when(col("id") === 0L && col("rank") === 1, col("cos") * 0.5 - 0.1)
        .otherwise(col("cos"))))
    assert(badCos.filter(col("id") === 0L && !col("cos_bounded")).count() == 1)
    assert(badCos.filter(col("id") =!= 0L && !col("cos_bounded")).count() == 0)

    // (2) swapped ranks: the window re-rank disagrees
    val badRank = invariants(df => df.withColumn("rank",
      when(col("id") === 1L, lit(4) - col("rank")).otherwise(col("rank")))) // reverse 1..3
    assert(badRank.filter(col("id") === 1L && !col("ranks_valid")).count() == 1)

    // (3) duplicated output row: neighbor count exceeds k (and the doubled
    // dot sum breaks the cosine recompute)
    val dup = invariants(df => df.union(df.filter(col("id") === 2L)))
    assert(dup.filter(col("id") === 2L &&
      (!col("per_id_le_k") || !col("cos_bounded"))).count() == 1)

    // (4) phantom neighbor id: its rows vanish in the raw-vector join and
    // the surviving rank sequence has a hole
    val phantom = invariants(df => df.withColumn("nbr_id",
      when(col("id") === 3L && col("rank") === 2, lit(999999L))
        .otherwise(col("nbr_id"))))
    assert(phantom.filter(col("id") === 3L && !col("ranks_valid")).count() == 1)
  }

  test("brute-force knn: neighbors come from the same cluster") {
    val knn = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 3)
    assert(knn.count() == 60 * 3)
    val wrong = knn.filter(pmod(col("id"), lit(3)) =!= pmod(col("nbr_id"), lit(3))).count()
    assert(wrong == 0, s"$wrong cross-cluster neighbors")
  }

  test("knn is deterministic across runs") {
    val a = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 2)
      .collect().map(_.toString).sorted
    val b = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 2)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("lsh knn recall vs brute force >= 0.9 on clustered data") {
    val bf = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshKnn(vecs, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    info(s"lsh-vs-bf recall = $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivf knn recall vs brute force >= 0.9 on clustered data") {
    val bf = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfKnn(vecs, "vec_id", "embedding", k = 3, nCells = 6, nProbe = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    info(s"ivf-vs-bf recall = $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivf knn is deterministic across runs") {
    val a = Ann.ivfKnn(vecs, "vec_id", "embedding", k = 2, nCells = 6, nProbe = 2)
      .collect().map(_.toString).sorted
    val b = Ann.ivfKnn(vecs, "vec_id", "embedding", k = 2, nCells = 6, nProbe = 2)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  /** 10x corpus for the scale-path recall gates (VERDICT r1 done-criterion). */
  private lazy val vecs10x = {
    val rows = for (i <- 0 until 600) yield {
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == c) 1.0f else 0.05f)
      val jitter = Array.tabulate(8) { d =>
        val h = graft.fingerprint.HashKernels.avalanche(i * 131L + d)
        (java.lang.Long.remainderUnsigned(h, 100).toInt - 50) / 2000.0f
      }
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }.toSeq)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  test("lsh knn recall vs brute force >= 0.95 at 10x corpus") {
    val bf = Ann.bruteForceKnn(vecs10x, vecs10x, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshKnn(vecs10x, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    info(s"lsh-vs-bf recall @10x = $recall")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("ivf knn with auto sqrt(n) cells: recall >= 0.95 at 10x corpus") {
    val bf = Ann.bruteForceKnn(vecs10x, vecs10x, "vec_id", "embedding", k = 3)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfKnn(vecs10x, "vec_id", "embedding", k = 3, nProbe = 8)
      .select("id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    info(s"ivf-vs-bf recall @10x (auto cells) = $recall")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("ivf maxListSize cap bounds inverted lists (recall degrades, never blows up)") {
    val capped = Ann.ivfKnn(vecs10x, "vec_id", "embedding", k = 3,
      nCells = 4, nProbe = 2, maxListSize = 50)
    // every surviving list has <= 50 members -> each id sees <= 100 candidates
    assert(capped.groupBy("id").count().agg(max("count")).first().getLong(0) <= 3)
    assert(capped.count() > 0)
  }

  /** Hard regime for the probe dial: 60 small clusters in 16-d with strong
    * jitter — √600 ≈ 25 cells cannot isolate 60 clusters, so true
    * neighbors regularly live in a NON-nearest cell and recall genuinely
    * climbs with nProbe (on the easy 3-cluster fixture the curve saturates
    * at the first point and teaches nothing).
    */
  private lazy val vecsHard = {
    val rows = for (i <- 0 until 600) yield {
      val c = i % 60
      val base = Array.tabulate(16) { d =>
        val h = graft.fingerprint.HashKernels.avalanche(c * 7919L + d)
        (java.lang.Long.remainderUnsigned(h, 1000).toInt - 500) / 500.0f
      }
      val jitter = Array.tabulate(16) { d =>
        val h = graft.fingerprint.HashKernels.avalanche(i * 104729L + d)
        (java.lang.Long.remainderUnsigned(h, 1000).toInt - 500) / 900.0f
      }
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }.toSeq)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  /** Recall of [[Ann.ivfQuery]] at each nProbe against the exact
    * brute-force kNN, every point read from ONE built index.
    */
  private def ivfRecallCurve(vecs: org.apache.spark.sql.DataFrame, k: Int,
                             nProbes: Seq[Int]): Seq[(Int, Double)] = {
    val idx = Ann.ivfIndex(vecs, "vec_id", "embedding")
    val exact = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k)
      .select("id", "nbr_id").cache()
    val exactN = exact.count().toDouble
    nProbes.map { p =>
      val hit = Ann.ivfQuery(idx, k, p).select("id", "nbr_id")
        .join(exact, Seq("id", "nbr_id"), "left_semi").count()
      p -> hit / exactN
    }
  }

  test("ivf recall-vs-nProbe curve is non-decreasing and climbs to >= 0.95") {
    val curve = ivfRecallCurve(vecsHard, k = 3, nProbes = Seq(2, 4, 8, 12, 16))
    info(s"ivf recall curve @10x hard regime: ${curve.mkString(", ")}")
    // probing MORE cells can only add candidates: recall never drops
    curve.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra - 1e-9, s"recall dropped from nProbe=$pa ($ra) to $pb ($rb)")
    }
    // the regime is actually hard: the cheapest point must NOT already be
    // at ceiling, or the curve teaches nothing
    assert(curve.head._2 < 0.97, s"regime too easy: ${curve.head}")
    assert(curve.last._2 >= 0.95, s"even nProbe=16 below 0.95: ${curve.last}")
  }

  test("embedding near-dups: identical vectors score 1.0") {
    val dup = Seq((100L, Seq(1f, 2f, 3f, 4f)), (101L, Seq(1f, 2f, 3f, 4f)),
      (102L, Seq(-1f, 2f, -3f, 4f))).toDF("vec_id", "embedding")
    val pairs = Ann.embeddingNearDups(dup, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((100L, 101L, 1.0)))
  }

  test("zero vector gets cosine 0, no crash") {
    val z = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val pairs = Ann.embeddingNearDups(z, "vec_id", "embedding", -1.0).collect()
    assert(pairs.length == 1 && pairs(0).getDouble(2) == 0.0)
  }

  test("semdedup: one keeper per semantic component, farthest-from-centroid rule") {
    // plant exact duplicates of vectors 0 and 1 under fresh ids: the recall
    // floor (cos=1 pairs can never split) must hold end-to-end
    val dups = vecs.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + 1000L)
    val corpus = vecs.union(dups).cache()
    val out = Ann.semDeDup(corpus, "vec_id", "embedding", tau = 0.9, nCells = 3)
      .cache()
    assert(out.count() === 62)
    // the 3 planted clusters are tight (within-cluster cos ≈ 0.99) and far
    // apart (cross cos ≈ 0.15): at τ=0.9 components can FRAGMENT when a
    // planted cluster straddles a cell boundary (the paper's documented
    // cross-cell miss) but can never MERGE across planted clusters — so
    // the component count sits in [3, 6] and every component is PURE
    val nComps = out.select("sem_cluster").distinct().count()
    assert(nComps >= 3 && nComps <= 6, s"components: $nComps")
    assert(out.filter(col("keep")).count() === nComps) // one keeper each
    val planted = when(col("id") >= 1000L, (col("id") - 1000L) % 3)
      .otherwise(col("id") % 3)
    val impure = out.withColumn("p", planted).groupBy("sem_cluster")
      .agg(countDistinct(col("p")).as("np")).filter(col("np") > 1).count()
    assert(impure === 0, "a semantic component merged across planted clusters")
    // keeper rule: the kept member minimizes (centroid_cos, id)
    val viol = out.groupBy("sem_cluster").agg(
        min(struct(col("centroid_cos"), col("id"))).getField("id").as("want"),
        first(col("kept_by")).as("got"))
      .filter(col("want") =!= col("got")).count()
    assert(viol === 0)
    // exact duplicates share a component, always
    val c0 = out.filter(col("id").isin(0L, 1000L))
      .select("sem_cluster").distinct().count()
    val c1 = out.filter(col("id").isin(1L, 1001L))
      .select("sem_cluster").distinct().count()
    assert(c0 === 1 && c1 === 1)
    // the verdict is partition-layout independent (hash seeds, quantized
    // arithmetic and the keeper window are all deterministic)
    val again = Ann.semDeDup(corpus.repartition(7), "vec_id", "embedding",
      tau = 0.9, nCells = 3).collect().map(_.toString).sorted
    assert(again.sameElements(out.collect().map(_.toString).sorted))
  }

  test("semdedup: zero tau-edges leave everyone a singleton keeper") {
    val ortho = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Ann.semDeDup(ortho, "vec_id", "embedding", tau = 0.5, nCells = 2)
    assert(out.count() === 4)
    assert(out.filter(col("keep")).count() === 4)
    assert(out.filter(col("sem_cluster") =!= col("id")).count() === 0)
  }

  test("semdedup invariants respect the list cap and exempt zero-norm duplicates") {
    val allCols = Seq("covered", "one_keep", "keeper_farthest",
      "dropped_connected", "edges_within_cluster", "exact_dups_coclustered")
    def bad(df: org.apache.spark.sql.DataFrame) =
      df.filter(allCols.map(c => !col(c)).reduce(_ || _)).count()
    // a triggered cap (5 of ~20 per cell pair, the rest are singleton
    // keeps by spec) must still read as a fully valid run
    val capped = Ann.semDeDup(vecs, "vec_id", "embedding", tau = 0.9,
      nCells = 3, maxListSize = 5).localCheckpoint()
    assert(capped.count() === 60)
    assert(bad(SparkEntry.semDedupInvariants(spark, vecs, _ => capped,
      tau = 0.9, maxListSize = 5)) === 0)
    // identical ZERO vectors have pairCos 0 and legitimately stay apart;
    // identical nonzero vectors still must co-cluster with one keeper
    val z = Seq((1L, Seq(0f, 0f, 0f, 0f)), (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(1f, 0f, 0f, 0f)), (4L, Seq(1f, 0f, 0f, 0f)),
      (5L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val outZ = Ann.semDeDup(z, "vec_id", "embedding", tau = 0.95, nCells = 2)
      .localCheckpoint()
    assert(bad(SparkEntry.semDedupInvariants(spark, z, _ => outZ, tau = 0.95)) === 0)
    assert(outZ.filter(col("id").isin(3L, 4L))
      .select("sem_cluster").distinct().count() === 1)
    assert(outZ.filter(col("id").isin(3L, 4L) && col("keep")).count() === 1)
    assert(outZ.filter(col("id").isin(1L, 2L) && col("keep")).count() === 2)
  }

  test("semdedup invariants are cross-implementation: injected faults flip real rows") {
    import org.apache.spark.sql.DataFrame
    val clean = Ann.semDeDup(vecs, "vec_id", "embedding", tau = 0.9, nCells = 3)
      .localCheckpoint()
    def inv(tamper: DataFrame => DataFrame) =
      SparkEntry.semDedupInvariants(spark, vecs, _ => tamper(clean), tau = 0.9)
        .cache()
    val allCols = Seq("covered", "one_keep", "keeper_farthest",
      "dropped_connected", "edges_within_cluster", "exact_dups_coclustered")
    val ok = inv(identity)
    assert(ok.filter(allCols.map(c => !col(c)).reduce(_ || _)).count() === 0)

    // a dropped member of a multi-member component, and its keeper
    val dropped = clean.filter(!col("keep")).select("id", "sem_cluster", "kept_by")
      .orderBy("id").first()
    val (dId, dComp) = (dropped.getLong(0), dropped.getLong(1))

    // (1) flipped keep bit: the component now keeps two → one_keep flips
    // for its members, and the flipped row's verdict is self-inconsistent
    val twoKeeps = inv(df => df.withColumn("keep",
      when(col("id") === dId, lit(true)).otherwise(col("keep"))))
    assert(twoKeeps.filter(col("id") === dId &&
      (!col("one_keep") || !col("covered"))).count() === 1)

    // (2) a member reassigned to a phantom component: its τ-edges now
    // cross components → edges_within_cluster flips on that row
    val moved = inv(df => df.withColumn("sem_cluster",
      when(col("id") === dId, lit(999999L)).otherwise(col("sem_cluster"))))
    assert(moved.filter(col("id") === dId && !col("edges_within_cluster"))
      .count() === 1)

    // (3) a vector dropped from the verdict entirely: covered flips for it
    val gone = inv(df => df.filter(col("id") =!= dId))
    assert(gone.filter(col("id") === dId && !col("covered")).count() === 1)
    assert(gone.filter(col("id") =!= dId && !col("covered")).count() === 0)

    // (4) a phantom row under an id not in the corpus: the per-id joins
    // cannot see it, so the global anti-join flips covered EVERYWHERE
    val phantomRow = inv(df => df.union(
      df.filter(col("id") === dId).withColumn("id", lit(777777L))))
    assert(phantomRow.filter(!col("covered")).count() === ok.count())

    // (5) kept_by pointing at a non-keeper: the keeper-rule recheck flips
    // for the whole component (countDistinct(kept_by) breaks)
    val badRef = inv(df => df.withColumn("kept_by",
      when(col("id") === dId, col("id")).otherwise(col("kept_by"))))
    assert(badRef.filter(col("id") === dId &&
      (!col("one_keep") || !col("covered"))).count() === 1)
    assert(dComp >= 0L) // silence unused warning paths on tiny fixtures
  }
  test("qdot: dimension mismatch and null elements surface as NULL, matching the combinator form") {
    val df = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),        // clean: 4+10+18 = 32
      (2L, Seq(1L, 2L, 3L), Seq(4L, 5L)),            // truncated vector
      (3L, Seq[Long](), Seq(4L, 5L)),                // empty vs non-empty
      (4L, Seq[Long](), Seq[Long]()))                // both empty: legit 0
      .toDF("row_id", "a", "b")
      // a null element inside an otherwise aligned pair
      .union(Seq((5L, Seq(1L, 2L), Seq(7L, 8L))).toDF("row_id", "a", "b")
        .withColumn("a", array(lit(1L), lit(null).cast("long"))))
    val got = df.select(col("row_id"), Ann.qdot(col("a"), col("b")).as("q"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("combinator"))
      .orderBy("row_id")
      .collect()
    got.foreach { r =>
      val q = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      val c = if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))
      assert(q == c, s"row ${r.getLong(0)}: qdot $q != combinator $c")
    }
    assert(got(0).getLong(1) == 32L)
    assert(got(1).isNullAt(1), "a truncated vector must surface as NULL, not a partial sum")
    assert(got(2).isNullAt(1))
    assert(got(3).getLong(1) == 0L)
    assert(got(4).isNullAt(1), "a null element must surface as NULL")
  }
}
