package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>) — the similarity-search leg of a training-data pipeline.
  *
  * Two paths:
  *  - brute-force cosine top-k (correctness baseline; O(n²) — fine for a
  *    query set × corpus where one side broadcasts);
  *  - random-hyperplane LSH buckets (the scale path: same banding/bucketing
  *    skeleton as text MinHash-LSH, so the salting machinery in graft.lsh
  *    applies unchanged).
  *
  * Scores use quantized integer dot products (element → round(x*1000) as
  * long): integer sums are exact and order-independent, which makes results
  * bit-stable across engines/partitionings — floating-point reduction order
  * never changes a rank.
  */
object Ann {

  /** Quantize an array<float|double> to array<long> at 3 decimal places. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors — fused expression
    * (see [[QDotLong]]); same value as the higher-order-function form but
    * allocation-free at n² pair volume.
    */
  def qdot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.shim
    shim.toColumn(QDotLong(shim.toExpression(a), shim.toExpression(b)))
  }

  /** Quantized L2 norm (double, deterministic: sqrt of an exact long). */
  def qnorm(a: Column): Column = sqrt(qdot(a, a).cast("double"))

  /** Pairwise cosine from per-row precomputed (qv, norm): norms are computed
    * once per ROW before the join, never per pair — at n² pairs that is the
    * difference between O(n·d) and O(n²·d) norm work.
    */
  private def pairCos(nl: Column, nr: Column, dot: Column): Column =
    round(when(nl === 0.0 || nr === 0.0, lit(0.0))
      .otherwise(dot.cast("double") / (nl * nr)), 6)

  /** Brute-force cosine top-k: for each left row, the k nearest right rows.
    * The right side is broadcast when it fits (Catalyst decides via AQE;
    * callers can hint). Output: (id, nbr_id, cos, rank).
    */
  def bruteForceKnn(left: DataFrame, right: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // the left side is hash-partitioned by id BEFORE the pair join: the
    // broadcast nested-loop join preserves the streamed side's
    // partitioning, so the top-k window's ClusteredDistribution(id) is
    // already satisfied and NO exchange runs over the n² scored pairs —
    // the n-row pre-join exchange replaces what was the operator's
    // dominant shuffle (measured: the post-join hashpartitioning(id)
    // exchange carried every scored pair). The right side is explicitly
    // broadcast: it is the q-side of a kNN (bounded by construction), and
    // without the hint a planner statistics miss could flip the build
    // side and re-key the output by nbr_id, putting the big exchange back.
    // PINNED count, as in PairScoring: AQE would coalesce these n
    // byte-light rows into the one or two tasks running the whole n²-pair
    // dot+window pass (at sf0.1 the job fell 4.5 s → sub-second spread).
    val l = left.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("nl", qnorm(col("qv")))
      .repartition(left.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
    val r = right.select(col(idCol).as("nbr_id"), quantize(col(vecCol)).as("qw"))
      .withColumn("nr", qnorm(col("qw")))
    val scored = l.join(broadcast(r), col("id") =!= col("nbr_id"))
      .withColumn("cos", pairCos(col("nl"), col("nr"), qdot(col("qv"), col("qw"))))
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "nbr_id", "cos", "rank")
  }

  /** Sign-random-projection (SimHash-for-vectors) bucket key: `nPlanes`
    * deterministic pseudo-random hyperplanes; bit i = sign(v · h_i).
    * Hyperplane components are derived from the avalanche mixer — no
    * stored model, reproducible everywhere.
    */
  def hyperplaneSignature(v: Column, nPlanes: Int, seed: Long): Column = {
    // the require lives HERE, not only in bandedSignatures: 1L << p wraps
    // at p = 64 (aliasing plane 0) and a direct caller would get silently
    // corrupted signatures
    require(nPlanes >= 1 && nPlanes <= 64, "nPlanes must be in [1, 64]")
    val bits = (0 until nPlanes).map { p =>
      // h_i components: deterministic in {-1,0,1}-ish via hashed index sign
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => {
          val h = xxhash64(lit(seed), lit(p), i)
          x.cast("double") * when(pmod(h, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
        }),
        lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** (id, band, band_hash) banding of hyperplane signatures — ids ONLY:
    * vectors must never ride through a band explode or pair shuffle.
    */
  private def bandedSignatures(vecs: DataFrame, idCol: String, vecCol: String,
                               nPlanes: Int, bands: Int, seed: Long): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    require(nPlanes <= 64, "at most 64 hyperplanes per signature")
    // degenerate vectors (all-zero, empty, any null element) all map to
    // signature 0 — one guaranteed cross-band mega-bucket. A zero/null
    // vector also has no meaningful cosine (the scorers treat norm 0 as
    // similarity 0), so excluding it from banding loses nothing: it could
    // never verify as similar anyway. qdot(v,v) is NULL for null elements
    // and 0 for zero/empty vectors; the > 0 filter drops both.
    vecs.filter(qdot(quantize(col(vecCol)), quantize(col(vecCol))) > 0)
      .select(col(idCol).as("id"),
        hyperplaneSignature(col(vecCol), nPlanes, seed).as("sig"))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_hash",
        graft.lsh.LSH.slicedBandHash("sig", "band", nPlanes / bands))
      .select("id", "band", "band_hash")
  }

  /** Per-row (id → quantized vector, norm) side table for post-pair scoring. */
  private def scoringTable(vecs: DataFrame, idCol: String, vecCol: String,
                           idAs: String, qvAs: String, nAs: String): DataFrame =
    vecs.select(col(idCol).as(idAs), quantize(col(vecCol)).as(qvAs))
      .withColumn(nAs, qnorm(col(qvAs)))

  /** LSH-bucketed ANN: candidate pairs share a hyperplane-signature band;
    * exact cosine is computed only within buckets.
    *
    * Scale shape (the same pruning `DedupPipeline.nearEdges` uses for
    * shingles): the band explode, self-join and cross-band `distinct` all
    * run on bare (id, nbr_id) — the quantized vectors re-join ONLY for
    * scoring the surviving distinct pairs, so no array column ever enters
    * a pair shuffle.
    */
  def lshKnn(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
             nPlanes: Int = 16, bands: Int = 4, seed: Long = 42L,
             maxBucketSize: Int = 100000): DataFrame = {
    // HARD INPUT-SIZE CEILING: the hyperplane signature space gives only
    // 2^(nPlanes/bands) bucket values per band (16 at the 16/4 default),
    // so the AVERAGE bucket holds ~n / 2^(nPlanes/bands) rows. Once the
    // corpus pushes every bucket of every band past `maxBucketSize`, the
    // cap drops ALL of a vector's bands simultaneously (the drop log's
    // "members remain covered by their other bands" does not hold for
    // this geometry — all bands share the one signature) and kNN recall
    // collapses toward 0 for exactly the densest regions. Size the knobs
    // so 2^(nPlanes/bands) · maxBucketSize comfortably exceeds n: either
    // raise nPlanes/bands (more, finer buckets) or pass a maxBucketSize
    // scaled to corpus size (candidatePairs logs every dropped bucket, so
    // a triggered cap is visible in the run log).
    val exploded = bandedSignatures(vecs, idCol, vecCol, nPlanes, bands, seed)
    // the DEFENDED pair generator — salted hot buckets, size caps, logged
    // drops — not a raw band self-join: one unsalted join task per bucket
    // goes quadratic at corpus scale. Same machinery as
    // [[embeddingNearDupsLsh]] and the shingle path; kNN needs DIRECTED
    // pairs, so the unordered output is mirrored (slim ids only).
    val undirected = graft.lsh.LSH.candidatePairs(exploded, "id",
      maxBucketSize = maxBucketSize)
    val pairs = undirected.select(col("id_a").as("id"), col("id_b").as("nbr_id"))
      .union(undirected.select(col("id_b").as("id"), col("id_a").as("nbr_id")))
    val qa = scoringTable(vecs, idCol, vecCol, "id", "qv", "nl")
    val qb = scoringTable(vecs, idCol, vecCol, "nbr_id", "qw", "nr")
    val scored = pairs.join(qa, "id").join(qb, "nbr_id")
      .withColumn("cos", pairCos(col("nl"), col("nr"), qdot(col("qv"), col("qw"))))
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "nbr_id", "cos", "rank")
  }

  /** IVF (inverted-file) ANN — the second scale path besides [[lshKnn]].
    *
    * Coarse quantizer: the `nCells` vectors with the smallest xxhash64(id)
    * serve as cell centroids — a deterministic hash-based sample (no trained
    * model to ship, reproducible on any cluster; a k-means refinement drops
    * in behind the same cell-id column). Every vector joins its nearest
    * centroid's inverted list; a query probes its `nProbe` nearest cells and
    * exact cosine runs only within those lists. Centroids are broadcast —
    * nCells is small by construction — so building lists and probing are
    * each ONE narrow shuffle on cell id.
    *
    * Scale knobs: `nCells <= 0` (the default) auto-sizes to ≈√n, which
    * balances assignment cost (n·√n dot products, shuffle-free) against
    * probe cost (n·nProbe·(n/√n) comparisons) — a FIXED cell count would
    * leave inverted lists of n/const and make the probe join Θ(n²) at any
    * corpus size. Lists are additionally hard-capped at `maxListSize`
    * members (deterministic hash-ranked); overflow is dropped with an
    * explicit logged count, mirroring `LSH.candidatePairs.maxBucketSize` —
    * never a silent quadratic blowup on a skewed cell.
    *
    * Coarse quantizer quality: the hash-sampled seeds are refined by
    * `kmeansIters` distributed Lloyd rounds (assign → per-cell mean).
    * Each round is one broadcast assignment plus ONE partial+final
    * aggregation on cell id; centroid sums run over integer-valued
    * doubles (quantized coordinates), which float addition represents
    * EXACTLY below 2^53 — so the means are reduction-order-independent
    * and the whole index stays bit-deterministic across partitionings.
    */
  def ivfKnn(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
             nCells: Int = 0, nProbe: Int = 4, maxListSize: Int = 100000,
             kmeansIters: Int = 2,
             mat: graft.state.Materializer = graft.state.Materializer.local): DataFrame = {
    val idx = ivfIndex(vecs, idCol, vecCol, nCells, maxListSize, kmeansIters, mat)
    ivfQuery(idx, k, nProbe)
  }

  /** The built IVF index: `ranked` = every vector's cells ranked by
    * centroid cosine (probe side), `lists` = capped inverted lists.
    */
  final case class IvfIndex(ranked: DataFrame, lists: DataFrame)

  /** Build the IVF index once — [[ivfQuery]] can then be evaluated at any
    * `nProbe` without re-running k-means or the assignment (the recall
    * curve and nProbe calibration depend on this split).
    */
  def ivfIndex(vecs: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 0, maxListSize: Int = 100000,
               kmeansIters: Int = 2,
               mat: graft.state.Materializer = graft.state.Materializer.local): IvfIndex = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val base = vecs.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("nrm", qnorm(col("qv")))
    val cells =
      if (nCells > 0) nCells
      else math.max(4, math.ceil(math.sqrt(vecs.count().toDouble)).toInt)

    // seeds: deterministic hash-based sample, numbered 0..cells-1 (the
    // window runs on ≤ cells rows — a tiny frame)
    val seedW = Window.orderBy(xxhash64(col("id")), col("id"))
    var cents = base.orderBy(xxhash64(col("id")), col("id")).limit(cells)
      .withColumn("cell", row_number().over(seedW).cast("long") - 1)
      .select(col("cell"), col("qv").as("cqv"))

    // nearest-centroid assignment: broadcast the (small) centroid table,
    // rank cells per vector by exact quantized cosine
    def assign(cs: DataFrame): DataFrame = {
      val scored = base.crossJoin(broadcast(
          cs.withColumn("cnrm", qnorm(col("cqv")))))
        .withColumn("csim", pairCos(col("nrm"), col("cnrm"), qdot(col("qv"), col("cqv"))))
      val byVec = Window.partitionBy("id").orderBy(col("csim").desc, col("cell").asc)
      scored.withColumn("crank", row_number().over(byVec))
    }

    for (_ <- 1 to math.max(0, kmeansIters)) {
      cents = assign(cents).filter(col("crank") === 1)
        .select(col("cell"), col("qv").cast("array<double>").as("qvd"))
        .groupBy("cell")
        .agg(Summarizer.sum(array_to_vector(col("qvd"))).as("sv"),
          count(lit(1)).as("cn"))
        .select(col("cell"),
          transform(vector_to_array(col("sv")),
            x => round(x / col("cn")).cast("long")).as("cqv"))
      cents = mat(cents) // cut lineage: later rounds must not replay earlier ones
    }

    // lazy checkpoint the FINAL assignment: both the inverted lists and the
    // probe side derive from it, and without this the n x cells broadcast
    // assignment would re-run for each (the drop-count job below
    // materializes it once)
    // slim the checkpointed columns to what downstream reads (ivfQuery
    // probes, inverted lists, semDeDup): the raw assign() rows also carry
    // the joined centroid vector cqv/cnrm per (vector, cell) row — at
    // n x cells rows that is a multi-TB redundant copy of the centroid
    // table in checkpoint blocks, read by nobody
    val ranked = mat(assign(cents)
      .select("id", "qv", "nrm", "cell", "csim", "crank"), eager = false)
    val listsAll = ranked.filter(col("crank") === 1)
      .select(col("cell"), col("id").as("nbr_id"),
        col("qv").as("qw"), col("nrm").as("nr"))
    // hard cap per inverted list (deterministic hash order, so the kept
    // subset is reproducible across partitionings); drops are logged
    val lw = Window.partitionBy("cell")
      .orderBy(xxhash64(col("nbr_id")), col("nbr_id"))
    val listsRanked = listsAll.withColumn("lrank", row_number().over(lw))
    val nDropped = listsRanked.filter(col("lrank") > maxListSize).count()
    if (nDropped > 0)
      System.err.println(
        s"[ivf] dropped $nDropped member(s) beyond $maxListSize per inverted list: " +
          "skewed cells; recall for those members degrades, never task memory")
    val lists = listsRanked.filter(col("lrank") <= maxListSize).drop("lrank")
    IvfIndex(ranked, lists)
  }

  /** Query a built index: probe each vector's `nProbe` nearest cells. */
  def ivfQuery(idx: IvfIndex, k: Int, nProbe: Int): DataFrame = {
    val probes = idx.ranked.filter(col("crank") <= nProbe)
      .select(col("id"), col("qv"), col("nrm").as("nl"), col("cell"))
    val scored = probes.join(idx.lists, "cell")
      .filter(col("id") =!= col("nbr_id"))
      .withColumn("cos", pairCos(col("nl"), col("nr"), qdot(col("qv"), col("qw"))))
      .select("id", "nbr_id", "cos") // each nbr lives in exactly one list → no dup pairs
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "nbr_id", "cos", "rank")
  }

  /** Measured recall-vs-nProbe curve against the exact brute-force oracle
    * (ascending nProbe → non-decreasing recall: probes only grow). The
    * index is built ONCE; each point reuses it. This is the operator's
    * probe-cost dial: recall buys linearly more probe work.
    */
  def ivfRecallCurve(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                     nProbes: Seq[Int], nCells: Int = 0,
                     maxListSize: Int = 100000, kmeansIters: Int = 2,
                     mat: graft.state.Materializer = graft.state.Materializer.local)
      : Seq[(Int, Double)] = {
    val idx = ivfIndex(vecs, idCol, vecCol, nCells, maxListSize, kmeansIters, mat)
    // materialize the O(n²) oracle ONCE: it is re-read by the denominator
    // count plus every curve point's semi-join — a live plan would re-run
    // the full cross join + window per probe candidate
    val exact = mat(bruteForceKnn(vecs, vecs, idCol, vecCol, k)
      .select(col("id"), col("nbr_id")))
    val exactN = exact.count().toDouble
    nProbes.sorted.map { p =>
      val hit = ivfQuery(idx, k, p).select(col("id"), col("nbr_id"))
        .join(exact, Seq("id", "nbr_id"), "left_semi").count()
      p -> (if (exactN == 0) 1.0 else hit / exactN)
    }
  }

  /** Smallest candidate nProbe whose MEASURED recall meets `target` (falls
    * back to the largest candidate, logged, when none does) — the
    * auto-derivation an operator runs once on a corpus sample instead of
    * hand-picking the probe count. Returns the choice plus the full curve
    * so the trade is visible.
    */
  def nProbeForRecall(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                      target: Double, candidates: Seq[Int] = Seq(4, 8, 12, 16),
                      nCells: Int = 0, maxListSize: Int = 100000,
                      kmeansIters: Int = 2,
                      mat: graft.state.Materializer = graft.state.Materializer.local)
      : (Int, Seq[(Int, Double)]) = {
    require(candidates.nonEmpty, "need at least one candidate nProbe")
    // every index knob forwards: calibrating on a default-configured index
    // and deploying with different centroids/caps is exactly the
    // hand-tuning error this helper exists to prevent
    val curve = ivfRecallCurve(vecs, idCol, vecCol, k, candidates, nCells,
      maxListSize, kmeansIters, mat = mat)
    curve.find(_._2 >= target) match {
      case Some((p, _)) => (p, curve)
      case None =>
        System.err.println(
          s"[ivf] no candidate nProbe reaches recall $target " +
            s"(curve: ${curve.mkString(", ")}); using ${curve.last._1}")
        (curve.last._1, curve)
    }
  }

  /** Embedding-cosine near-duplicate pairs via hyperplane LSH buckets — the
    * SCALE path for the embedding leg of the dedup suite. Candidate pairs
    * come from `graft.lsh.LSH.candidatePairs` over banded signatures (ids
    * only — salting defuses hot buckets, mega-buckets are capped with
    * logged drops, exactly as for text MinHash); vectors re-join for
    * scoring the distinct survivors. Recall is the banding collision
    * probability (1-(1-p^r)^b with p = 1-θ/π), so defaults (32 planes,
    * 8 bands × 4 bits) target HIGH thresholds (≥0.8 → recall ≥0.98); use
    * [[embeddingNearDups]] as the exact oracle at test scale.
    */
  def embeddingNearDupsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nPlanes: Int = 32, bands: Int = 8,
                           seed: Long = 42L): DataFrame = {
    val exploded = bandedSignatures(vecs, idCol, vecCol, nPlanes, bands, seed)
    val pairs = graft.lsh.LSH.candidatePairs(exploded, "id")
    val qa = scoringTable(vecs, idCol, vecCol, "id_a", "qv", "na")
    val qb = scoringTable(vecs, idCol, vecCol, "id_b", "qw", "nb")
    pairs.join(qa, "id_a").join(qb, "id_b")
      .withColumn("cos", pairCos(col("na"), col("nb"), qdot(col("qv"), col("qw"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding-cosine near-duplicate pairs, exact all-pairs: unordered pairs
    * above a cosine threshold. O(n²) BY DESIGN — this is the correctness
    * baseline/oracle that [[embeddingNearDupsLsh]] is validated against at
    * test scale; it must never be the production path at corpus scale.
    */
  def embeddingNearDups(vecs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val l = vecs.select(col(idCol).as("id_a"), quantize(col(vecCol)).as("qv"))
      .withColumn("na", qnorm(col("qv")))
    val r = vecs.select(col(idCol).as("id_b"), quantize(col(vecCol)).as("qw"))
      .withColumn("nb", qnorm(col("qw")))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cos", pairCos(col("na"), col("nb"), qdot(col("qv"), col("qw"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    * deduplication over embeddings, the diversity-preserving leg the
    * lexical passes (MinHash/SimHash/suffix-array) cannot see: two
    * documents phrased completely differently but meaning the same thing
    * share no shingles, yet their embeddings are near-parallel.
    *
    * The paper's recipe, re-expressed on the pieces this engine already
    * has: (1) coarse-cluster the corpus — here the [[ivfIndex]] k-means
    * (deterministic hash-sampled seeds + Lloyd rounds, bit-stable across
    * partitionings); (2) within each cluster only, mark pairs with cosine
    * ≥ `tau` as semantic duplicates; (3) resolve the duplicate components
    * with the SAME distributed union-find the text pipeline uses; (4) keep
    * exactly ONE member per component — the member FARTHEST from its cell
    * centroid (the paper's keeper choice: extreme points preserve corpus
    * diversity; ties break on id asc so the verdict is total).
    *
    * Output, one row per input vector:
    * (id, cell, centroid_cos, sem_cluster, kept_by, keep) — singletons
    * (no ≥tau neighbor in their cell) keep themselves.
    *
    * Scale shape: pairing is CONFINED to cells (Θ(n²/k) per cell instead
    * of n², and k auto-sizes to √n), each inverted list is hard-capped at
    * `maxListSize` members with logged drops (a capped-out member can
    * only become a singleton keep — never a crash, never a quadratic
    * task); the pair join runs on bare (cell, id) with vectors re-joined
    * per surviving pair for scoring; the union-find iterates on dense
    * codes. Approximation contract (the paper's own): duplicates split
    * across DIFFERENT cells are missed — recall grows with fewer, larger
    * cells, cost with the square of cell size.
    */
  def semDeDup(vecs: DataFrame, idCol: String, vecCol: String, tau: Double,
               nCells: Int = 0, maxListSize: Int = 100000, kmeansIters: Int = 2,
               mat: graft.state.Materializer = graft.state.Materializer.local)
      : DataFrame = {
    val idx = ivfIndex(vecs, idCol, vecCol, nCells, maxListSize, kmeansIters, mat)
    // cell assignment + centroid similarity (pairCos already rounds to 6dp,
    // so the keeper ordering is bit-stable across engines/partitionings)
    val assign = idx.ranked.filter(col("crank") === 1)
      .select(col("id"), col("cell"), col("csim").as("centroid_cos"))
    // within-cell unordered candidate pairs on SLIM ids; quantized vectors
    // re-join (from the already-built lists) only to score survivors
    val members = idx.lists.select(col("cell"), col("nbr_id"))
    val pairs = members.select(col("cell"), col("nbr_id").as("id_a"))
      .join(members.select(col("cell"), col("nbr_id").as("id_b")), "cell")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val edges = graft.cluster.PairScoring
      .withSides(pairs, idx.lists.select(col("nbr_id").as("id"), col("qw"), col("nr")))
      .withColumn("cos", pairCos(col("nr_a"), col("nr_b"), qdot(col("qw_a"), col("qw_b"))))
      .filter(col("cos") >= tau)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val comp = graft.cluster.Clustering.clusters(
        vecs.sparkSession, assign.select("id"), "id", edges, mat = mat)
      .withColumnRenamed("cluster_id", "sem_cluster")
    // keeper = farthest-from-centroid member (centroid_cos asc, id asc):
    // one window pass labels every member with its component's keeper
    val w = Window.partitionBy("sem_cluster")
      .orderBy(col("centroid_cos").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    assign.join(comp, "id")
      .withColumn("kept_by", first(col("id")).over(w))
      .withColumn("keep", col("id") === col("kept_by"))
      .select("id", "cell", "centroid_cos", "sem_cluster", "kept_by", "keep")
  }
}
