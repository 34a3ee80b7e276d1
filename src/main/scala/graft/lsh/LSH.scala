package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

import graft.fingerprint.BandKeys

/** LSH candidate-pair generation — the scalable realization of the
  * reference's all-pairs `is_similar` θ-join
  * (image-deduper `src/processing/types.rs:47-58`, threshold
  * `src/config.rs:51,105`). Instead of O(n²) comparisons, MinHash
  * signatures are banded; only rows sharing a (band, band_hash) bucket are
  * compared. Hot buckets (boilerplate mega-buckets) are defused by salted
  * replication so no single task sees a quadratic bucket, and buckets above
  * a hard cap are dropped with an explicit logged count (no silent
  * truncation) — SURVEY.md §4 custom-work item 1.
  */
object LSH {

  /** Per-band 64-bit bucket hashes: band b = xxhash64(b, minhash[b*r .. b*r+r)).
    * Pure built-ins → codegen, no shuffle.
    */
  def bandHashes(minhash: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(minhash, b * lit(rowsPerBand) + 1, lit(rowsPerBand))))

  /** Bucket value for slice `bandCol` of a 64-bit fingerprint column cut
    * into `width`-bit slices — the ONE implementation shared by the batch
    * fast path and the ANN hyperplane banding, so the two stay
    * bit-identical by construction.
    */
  def slicedBandHash(sigCol: String, bandCol: String, width: Int): Column = {
    require(width >= 1 && width <= 64, s"slice width $width out of range")
    val mask = if (width == 64) -1L else (1L << width) - 1
    expr(s"shiftright($sigCol, $bandCol * $width) & $mask")
  }

  /** Prefix-band bucket hash: one 64-bit hash over the document's first
    * `m` shingle hashes (document order — [[graft.fingerprint.DocSignature]]
    * preserves first occurrence). A prefix truncation shares the original's
    * leading shingles verbatim, so truncated near-dups collide here with
    * P = 1 independent of their Jaccard — the asymmetric-containment
    * discovery channel that dense minhash banding can only approximate.
    * Boilerplate-shared prefixes make hot buckets; the salted hot path in
    * [[candidatePairs]] absorbs them.
    *
    * The P = 1 guarantee requires the SHORTER side to still carry ≥ `m`
    * shingles: a doc with fewer hashes its full shorter array, which can
    * never equal an m-prefix hash. The pipeline therefore bands this
    * channel at TWO lengths (m and m/2 — `fullBandRows`), pushing the
    * floor down to m/2 shingles; below that a truncation is only
    * discoverable by the anchor/minhash channels. The pipeline's keys come
    * from the fused [[bandKeys]] kernel; this combinator form is the
    * specification BandKeysSpec pins it against.
    */
  def prefixBandHash(shingles: Column, m: Int): Column =
    xxhash64(slice(shingles, 1, m))

  /** Every discovery-channel bucket key of a row as
    * array<struct<band, band_hash>>, from one fused kernel
    * ([[graft.fingerprint.BandKeys]]): the `bands` minhash bands of
    * [[bandHashes]] (band b), the [[prefixBandHash]] ladder at
    * `prefixShingles` (band `bands`) and max(2, `prefixShingles` / 2)
    * (band `bands` + 2), and one key per adjacent pair of winnowed anchors
    * (band `bands` + 1). Anchors are the shingles ≡ 0 (mod
    * `anchorModulus`) — selection is CONTENT-DEFINED, so two documents
    * sharing a long enough region select the same shingles inside it
    * wherever it sits (winnowing/MOSS-style fingerprints), and the
    * adjacent-pair key is the offset-invariant channel for
    * middle-of-document quotes that prefix banding cannot see and dense
    * minhash banding only reaches at its induced (low) Jaccard. A doc with
    * fewer than 2 anchors has no anchor keys.
    */
  def bandKeys(minhash: Column, shingles: Column, bands: Int, rowsPerBand: Int,
               prefixShingles: Int, anchorModulus: Int): Column =
    shim.toColumn(BandKeys(shim.toExpression(minhash), shim.toExpression(shingles),
      bands, rowsPerBand, prefixShingles, anchorModulus))

  /** Explode a signatures frame into (id, [carry...], band, band_hash).
    * Column pruning matters at scale: callers must pass only the columns the
    * pair stage needs (id + simhash), never text or shingle arrays.
    */
  def explodeBands(sigs: DataFrame, idCol: String, minhashCol: String,
                   bands: Int, rowsPerBand: Int, carry: Seq[String] = Nil): DataFrame = {
    val cols = (idCol +: carry).map(col) :+
      posexplode(bandHashes(col(minhashCol), bands, rowsPerBand)).as(Seq("band", "band_hash"))
    sigs.select(cols: _*)
  }

  /** Candidate pairs from banded signatures.
    *
    * Output columns: `<id>_a, <id>_b [, <carry>_a, <carry>_b ...]`, with
    * `id_a < id_b`, distinct across bands.
    *
    * @param hotThreshold  buckets larger than this use salted replication
    * @param saltFactor    salt partitions for hot buckets
    * @param maxBucketSize buckets larger than this are dropped entirely
    *                      (boilerplate black holes); the drop is logged
    * @param bucketCap     optional per-ROW cap expression overriding
    *                      `maxBucketSize` — may reference `band` /
    *                      `band_hash` / `bucket_n`, enabling per-channel
    *                      caps (the containment bands skip the Hamming
    *                      prune, so they need a tighter boilerplate cap)
    * @param prune         applied to each path's raw pair stream BEFORE the
    *                      cross-band distinct — the hook for cheap pair
    *                      filters (e.g. SimHash Hamming) that shrink both
    *                      the row count and the byte width of the distinct
    *                      shuffle. The input additionally carries the
    *                      colliding `band` index so a filter can exempt
    *                      designated band families (containment channels
    *                      must not be gated on global similarity). Must
    *                      keep `<id>_a`/`<id>_b`, must DROP `band`, and
    *                      must only add pair-functional columns (same value
    *                      for every band copy of a pair), or distinct
    *                      semantics break.
    */
  def candidatePairs(exploded: DataFrame, idCol: String,
                     hotThreshold: Int = 200,
                     saltFactor: Int = 16,
                     maxBucketSize: Int = 100000,
                     carry: Seq[String] = Nil,
                     mat: graft.state.Materializer = graft.state.Materializer.local,
                     prune: DataFrame => DataFrame = _.drop("band"),
                     bucketCap: Option[Column] = None,
                     combine: DataFrame => DataFrame = _.distinct()): DataFrame = {
    val bucketKey = Seq("band", "band_hash")
    val cap = bucketCap.getOrElse(lit(maxBucketSize))
    // only COLLIDING buckets matter (singletons yield no pairs) — filtering
    // size-1 buckets out before the join keeps this frame small (collisions
    // only, not O(docs×bands)) so caching it is safe at any scale, and the
    // inner join below then doubles as the singleton filter on the big side.
    // The coverage-loss audit rides the same aggregation as observe metrics
    // (CollectMetrics executes while the cache fills inside the pair job) —
    // no separate audit action on the driver's critical path.
    val dropObs = org.apache.spark.sql.Observation()
    val sizes = exploded.groupBy(bucketKey.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .observe(dropObs, coalesce(
        sum(when(col("bucket_n") > cap, 1L).otherwise(0L)),
        lit(0L)).as("dropped"))
      .filter(col("bucket_n") > 1)
      .cache()

    // EAGERLY materialize the collision rows ONCE: the cold and hot paths
    // both read this frame, and a lazy persist raced its fill across the
    // two concurrently-submitted self-join subqueries (tasks of one stage
    // blocking on the other's block computation) while dragging the
    // explode + size-join lineage into both stages' plans. The checkpoint
    // keeps the size-join's (band, band_hash) output partitioning and
    // ordering, so the self-joins' SMJ sorts start from co-located sorted
    // runs. Contains only colliding-bucket rows (≤ cap), far smaller than
    // the exploded table; blocks spill rather than OOM on dup-heavy
    // corpora.
    val tagged = mat(exploded.join(sizes, bucketKey)
      .filter(col("bucket_n") <= cap))

    // the ONE side-projection shape (cold and hot paths both build their
    // join sides through it, hot appending its salt columns via `extra` —
    // a change to the side shape happens in exactly one place)
    def sides(df: DataFrame, extraL: Seq[Column], extraR: Seq[Column])
        : (DataFrame, DataFrame) = {
      val l = df.select(
        (idCol +: carry).map(c => col(c).as(c + "_a")) ++
          bucketKey.map(c => col(c).as(c + "_la")) ++ extraL: _*)
      val r = df.select(
        (idCol +: carry).map(c => col(c).as(c + "_b")) ++
          bucketKey.map(c => col(c).as(c + "_rb")) ++ extraR: _*)
      (l, r)
    }
    val outCols = (idCol +: carry).flatMap(c => Seq(col(c + "_a"), col(c + "_b"))) :+
      col("band_la").as("band")

    // cold path: plain within-bucket self-join; AQE handles residual skew
    val coldPairs = {
      val (l, r) = sides(tagged.filter(col("bucket_n") <= hotThreshold), Nil, Nil)
      prune(l.join(r,
          col("band_la") === col("band_rb") && col("band_hash_la") === col("band_hash_rb") &&
            col(idCol + "_a") < col(idCol + "_b"))
        .select(outCols: _*))
    }

    // hot path: right side keyed by its own salt g = hash(id) % s; left side
    // replicated to every salt j. Join on (bucket, j == g) yields each
    // unordered pair exactly once while splitting the bucket across the
    // salt keys, so no single task materializes a quadratic bucket.
    //
    // The salt count is ADAPTIVE per bucket: ceil(bucket_n / hotThreshold)
    // keys, capped at saltFactor. A fixed count both over-replicates
    // barely-hot buckets (the left side ships saltFactor copies of rows a
    // 2-way split would balance) and under-splits mega-buckets (a cap-size
    // bucket at a fixed 16 leaves bucket²/16 pairs in one cell); the
    // adaptive count bounds each salt cell's pair output at roughly
    // bucket_n x hotThreshold — LINEAR in bucket size — until the
    // saltFactor cap. Both join sides are EXPLICITLY repartitioned by
    // their (bucket, salt) keys with a pinned partition count: the salted
    // cells are byte-light but their join output is compute-dense, and
    // AQE's byte-based coalescing would merge them back into the one
    // straggler task the salt exists to prevent (compute density is
    // invisible to AQE — same opt-out as the pipeline's suffix-array
    // repartition; measured on the skew corpus: a 4.6 s hot-join straggler
    // at p50 0.8 s from exactly this coalescing).
    val hotPairs = {
      val hot = tagged.filter(col("bucket_n") > hotThreshold)
        .withColumn("nsalt", least(lit(saltFactor.toLong),
          ceil(col("bucket_n") / lit(hotThreshold))).cast("long"))
        .withColumn("salt", pmod(xxhash64(col(idCol)), col("nsalt")))
      val parts = exploded.sparkSession.sessionState.conf.numShufflePartitions
      val (l0, r0) = sides(hot, Seq(col("nsalt")), Seq(col("salt")))
      val l = l0.withColumn("j", explode(sequence(lit(0L), col("nsalt") - 1)))
        .drop("nsalt")
        .repartition(parts, col("band_la"), col("band_hash_la"), col("j"))
      val r = r0.repartition(parts, col("band_rb"), col("band_hash_rb"), col("salt"))
      prune(l.join(r,
          col("band_la") === col("band_rb") && col("band_hash_la") === col("band_hash_rb") &&
            col("j") === col("salt") && col(idCol + "_a") < col(idCol + "_b"))
        .select(outCols: _*))
    }

    // combine (default distinct): the same pair collides in several bands.
    // Callers whose prune emits per-CHANNEL columns (not pair-functional)
    // pass a groupBy-based combine that folds them (e.g. max of a
    // containment-channel flag) — same single exchange as distinct.
    // Eagerly materialize the (bounded) pair set so the collision-side
    // caches can be released right away instead of leaking across runs.
    val result = mat(combine(coldPairs.union(hotPairs)))

    // coverage-loss audit: read the observe metrics collected during the
    // pair job's cache fill (zero extra jobs). The fill always runs: the
    // observation is this call's own, so no earlier call's cached plan
    // can match `sizes`
    val nDropped = graft.state.Observed.long(dropObs)
    if (nDropped > 0) {
      // explicit, logged coverage loss — never silent
      System.err.println(
        s"[lsh] dropped $nDropped bucket(s) over their cap " +
          s"(base $maxBucketSize${if (bucketCap.isDefined) ", per-band overrides" else ""}): " +
          "boilerplate mega-buckets; members remain covered by their other bands")
    }
    sizes.unpersist()
    result
  }
}
