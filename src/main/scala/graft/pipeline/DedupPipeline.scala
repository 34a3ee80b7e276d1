package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.{Clustering, PairScoring}
import graft.fingerprint.Fingerprints
import graft.lsh.LSH
import graft.state.{Materializer, Observed}

/** Job configuration — the analog of the reference `Config`
  * (image-deduper `src/config.rs:37-126`): `simhashAcceptHamming` plays
  * `phash_threshold` (`config.rs:51,105`), `forceRescan` plays
  * `force_rescan` (`config.rs:81`).
  *
  * The constructor takes only the values a caller sets. Like the
  * reference, whose fingerprint shape is hard-coded (a 64-bit mean-threshold
  * aHash over an 8×8 downsample, `processing/core.rs:37-104`), the
  * fingerprint, banding and scaling values are fixed members, each with
  * the reason for its value:
  *
  *  - `shingleK` = 3, `maxShingles` = 8192: the shingle set the verify
  *    tiers compare exactly;
  *  - `bands` × `rowsPerBand` = 21 × 2, `numPerms` = 42: exactly the slots
  *    banding consumes (see [[Fingerprints.DefaultBands]] for the measured
  *    recall/cost trade-off); verify uses exact shingles, never the
  *    minhash, so more permutations than the band matrix reads are waste in
  *    the signature hot stage;
  *  - `simhashMaxHamming` = 28: the Hamming prefilter on minhash-band
  *    pairs (unrelated docs sit at 32 ± 4);
  *  - `containmentThreshold` = 0.9 over at most `saMaxChars` = 20000
  *    normalized chars: the suffix-array containment accept;
  *  - `hotBucketThreshold` = 200, `saltFactor` = 16, `maxBucketSize` =
  *    100000: the salted pair generation's skew guards ([[LSH]]);
  *  - `maxUnionFindIters` = 25: the union-find round bound;
  *  - `prefixBandShingles` = 8 and `anchorModulus` = 6: the two
  *    containment channels. Winnowed anchor bands select ~1/modulus of
  *    each doc's shingles content-defined and bucket adjacent selected
  *    pairs — the offset-invariant channel for MIDDLE-of-document quotes
  *    (prefix banding sees only truncations; minhash banding reaches a 25%
  *    quote only at its induced Jaccard ≈ 0.25, P ≈ 0.74);
  *  - `fastPathBands` = 4: the fast tier's 16-bit SimHash slices (see
  *    `fastPath`).
  *
  * The channel-shape values are recorded with the persisted band index
  * (`Checkpoints`), so an index written under other values is rebuilt.
  */
case class DedupConfig(
    simhashAcceptHamming: Int = 12,
    jaccardThreshold: Double = 0.5,
    // tighter cap for the CONTAINMENT channels (prefix + anchor bands):
    // those bands are exempt from the Hamming prefilter by design, so a
    // boilerplate prefix shared by b docs pairs quadratically (b²/2 rows
    // reach the verify join) — and the SAME family usually collides in
    // ~|prefix|/modulus anchor buckets at once, multiplying the
    // pre-distinct volume by ~10×. A real quote rarely spans >10³ docs —
    // a containment bucket beyond this cap is boilerplate, not quotation,
    // and is dropped (logged) before it can go quadratic. At the default,
    // the worst surviving family contributes ≤ ~2M pairs per channel
    // (measured: a family parked just under a 5000 cap cost 27× the whole
    // pipeline; at 2000 the same corpus runs at full speed).
    containmentMaxBucket: Int = 2000,
    forceRescan: Boolean = false,
    // fault-tolerant materialization (north_rule resumability; the
    // reference's crash-resumable commits, persistence/db.rs:64-92): route
    // every lineage-cutting checkpoint through RELIABLE `checkpoint()` to
    // `checkpointDir` instead of executor-local blocks, so executor
    // preemption cannot kill a multi-hour run. Costs one distributed-FS
    // write per materialization point (benched: `dedup_pipeline_reliable`).
    reliableCheckpoints: Boolean = false,
    checkpointDir: String = "",
    // the reference's ultra-fast mode (`ultra_fast_phash`,
    // src/processing/core.rs:158-199): skip shingles/MinHash entirely and
    // cluster on content_hash + SimHash alone — the cheap speed/quality
    // dial a 100 TB operator reaches for first. Banding is fastPathBands
    // equal slices of the 64-bit SimHash; by pigeonhole, any pair within
    // Hamming fastPathBands-1 is GUARANTEED to collide in some band, so
    // accepting at exactly fastPathBands-1 makes the fast tier exact w.r.t.
    // its own (narrower) similarity predicate. Catches exact copies,
    // whitespace/case noise and tiny edits; misses paraphrase-level and
    // containment dups by design.
    fastPath: Boolean = false,
    // the reference's thumbnail surface (`generate_thumbnails`/size,
    // config.rs:54,106), re-imagined for text: when > 0, clusterEpoch also
    // writes a `previews` table with the first N normalized chars of each
    // cluster REPRESENTATIVE, so an operator reviewing a planned actions
    // table can eyeball what every cluster is without fetching pages. 0
    // (default) writes nothing — same opt-in posture as the reference.
    previewChars: Int = 0,
    // physical layout of the persisted signatures table (Checkpoints): when
    // > 0, the state is written as a Spark BUCKETED table on `id` with this
    // many buckets. The resume primitive (J1) anti-joins the ENTIRE
    // persisted state against every new batch, every epoch — and the state
    // side is the one that grows with corpus age. Plain parquet shuffles
    // BOTH sides per epoch (at the 10^12-doc posture that is re-shuffling
    // the whole corpus-to-date each night); the bucketed layout carries
    // HashPartitioning(id, N) out of the scan, so only the incoming batch
    // exchanges. Pinned by BucketedStateSpec's plan-shape test. The layout
    // is a sticky property of the state dir (recorded on the manifest line
    // of the first write; the sub-document tables follow it too); changing
    // it later requires forceRescan. 0 (default)
    // keeps plain parquet — right for small states where a broadcast
    // anti-join wins anyway. Size N so one bucket ≈ 100-300 MB at the
    // target corpus (e.g. 4096 buckets per PB-scale signature table).
    stateBuckets: Int = 0,
    // delta-incremental clustering (Checkpoints.clusterEpoch): near-pair
    // discovery + verify run only over the re-verify frontier — docs new
    // this epoch, members of clusters invalidated by executed removals,
    // and their bucket mates — while the prior epoch's connectivity enters
    // union-find as assignment edges. Epoch clustering cost then scales
    // with the DELTA, not the corpus: at the 10^12-doc posture a full
    // re-cluster re-bands and re-pairs the whole corpus nightly, which is
    // exactly the cost curve an append-mostly crawl cannot afford.
    // Component-equivalent to the full re-cluster (DeltaClusterSpec). An
    // epoch whose edge-shaping values (jaccardThreshold,
    // simhashAcceptHamming, containmentMaxBucket, fastPath) differ from the
    // ones the prior clusters were built with re-clusters fully instead, as
    // does the first epoch (nothing to delta from).
    deltaCluster: Boolean = false,
    // slice-keyed state prune (state/SlicePrune.scala): when > 0, the
    // resume anti-join filters the persisted-state scan through a Bloom
    // sketch of the INCOMING slice's ids before the join — the state side
    // (the one that grows with corpus age) shrinks from O(corpus) to
    // O(slice + fp·corpus) rows entering the exchange/sort, at the cost
    // of one extra slice-key aggregation per epoch. Result is
    // byte-identical at any fpp (false positives only pass extra rows
    // into the exact join; false negatives are impossible). 0 (default)
    // keeps the plain anti-join — right when slice ≈ corpus (bootstrap)
    // or the state is still broadcast-sized.
    stateBloomFpp: Double = 0.0,
    // sketch sizing: upper bound on DISTINCT slice ids. Oversizing wastes
    // sketch bytes; undersizing degrades fpp (cost), never correctness.
    // ~1.2 bytes/key at 1% fpp.
    stateBloomExpected: Long = 4000000L) {
  require(stateBuckets >= 0, "stateBuckets must be >= 0")
  require(stateBloomFpp >= 0 && stateBloomFpp < 1,
    s"stateBloomFpp must be in [0,1), got $stateBloomFpp")
  require(stateBloomExpected > 0, "stateBloomExpected must be > 0")
  val shingleK = 3
  val bands = Fingerprints.DefaultBands
  val rowsPerBand = Fingerprints.DefaultRowsPerBand
  val numPerms = bands * rowsPerBand
  val maxShingles = 8192
  val simhashMaxHamming = 28
  val containmentThreshold = 0.9
  val saMaxChars = 20000
  val hotBucketThreshold = 200
  val saltFactor = 16
  val maxBucketSize = 100000
  val maxUnionFindIters = 25
  val prefixBandShingles = 8
  val anchorModulus = 6
  val fastPathBands = 4

  /** The materialization strategy this config asks for. Reliable mode
    * requires `checkpointDir` (an HDFS/S3A/file URI); see [[checkpointsIn]].
    */
  def materializer(spark: SparkSession): graft.state.Materializer =
    if (reliableCheckpoints) graft.state.Materializer.reliable(spark, checkpointDir)
    else graft.state.Materializer.local

  /** This config with reliable mode's unset `checkpointDir` defaulted to
    * `<stateDir>/_spark_checkpoints`: beside the state tables, on the same
    * filesystem, one tree to clean up.
    */
  def checkpointsIn(stateDir: String): DedupConfig =
    if (reliableCheckpoints && checkpointDir.isEmpty)
      copy(checkpointDir = s"$stateDir/_spark_checkpoints")
    else this
}

/** End-to-end near-duplicate detection + clustering over a pages-shaped
  * frame — the flagship query (SURVEY.md §3.3):
  *
  * pages → signatures → LSH bands → salted candidate pairs → simhash
  * prefilter → exact-Jaccard + containment verify → (∪ exact edges) →
  * union-find → clusters → representative election.
  */
object DedupPipeline {

  /** Gate into the suffix-array slice — the engine's most expensive
    * per-pair kernel. A TRUE containment dup's shingle-set containment is
    * ≈1.0 (subset ± k-gram boundary effects; still ≥0.85 with a few
    * percent edits), while a shared-boilerplate-prefix pair tops out
    * around |prefix|/min(|doc|) ≈ 0.4–0.6 — so 0.75 separates them
    * cleanly. Measured on the skew corpus (10% shared-prefix family,
    * 44k pages): gate 0.5 spent ~200 s building suffix arrays for pairs
    * the SA then rejected; 0.75 cuts that to ~7 s at identical output.
    */
  private val ContainmentGate = 0.75

  /** Representative selection within a cluster: the longest text, then the
    * smallest id.
    */
  private val RepresentativeOrder = Seq(col("order_len").desc, col("id").asc)

  /** Per-row fingerprint stage (no shuffle; pure projection).
    * Input must have (id, text [, warc_ts]). Output:
    * (id, content_hash, simhash, minhash, shingles, n_shingles [, carried]).
    */
  def signatures(pages: DataFrame, idCol: String, textCol: String,
                 cfg: DedupConfig, carry: Seq[String] = Nil): DataFrame = {
    // fast path: content_hash + token-level SimHash only; the shingle loop
    // and the minhash permutation matrix never run. Schema stays identical
    // (empty arrays) so the state tables and the cluster tail are shared;
    // a later FULL-path epoch over mixed state covers the shingle-less rows
    // at exact+simhash precision (nearEdges excludes them from minhash
    // banding; clusterFromParts adds a simhash-tier pass when any exist —
    // it never re-fingerprints, by the resume contract).
    if (cfg.fastPath)
      return pages.select(
        (col(idCol).as("id") +: carry.map(col)) ++ Seq(
          Fingerprints.contentHash(col(textCol)).as("content_hash"),
          Fingerprints.simhash(col(textCol)).as("simhash"),
          array().cast("array<long>").as("shingles"),
          array().cast("array<long>").as("minhash"),
          lit(0).as("n_shingles")): _*)
    // fused one-pass kernel (DocSignature): byte-compatible with the
    // combinator path but ~10× cheaper — the hot stage at 100 TB
    pages.select(
      (col(idCol).as("id") +: carry.map(col)) ++ Seq(
        Fingerprints.contentHash(col(textCol)).as("content_hash"),
        Fingerprints.docSignature(col(textCol), cfg.shingleK, cfg.numPerms,
          cfg.maxShingles).as("ds")): _*)
      .select(
        (col("id") +: carry.map(col)) ++ Seq(
          col("content_hash"),
          col("ds.simhash").as("simhash"),
          col("ds.shingles").as("shingles"),
          col("ds.minhash").as("minhash"),
          size(col("ds.shingles")).as("n_shingles")): _*)
  }

  /** All discovery-channel band rows for SHINGLED signatures — minhash
    * bands [0, bands), the two-level prefix ladder (bands and bands+2) and
    * the winnowed anchor bands (bands+1): (id, simhash, band, band_hash).
    * One projection: the fused [[LSH.bandKeys]] kernel emits every key of
    * a row in one pass and one `inline` turns them into rows. One shared
    * definition so pair generation ([[nearEdges]]) and the persisted band
    * index the delta-cluster frontier reads ([[allChannelBandRows]])
    * always agree on the bucket space — a channel added here is
    * automatically part of both.
    *
    * The prefix ladder: P=1 for prefix truncations holds only while the
    * truncated side still carries >= m shingles (a shorter doc hashes its
    * full shorter array — never equal to an m-prefix hash); the
    * half-length level pushes the floor down to m/2 shingles (~m/2+k-1
    * tokens). Below that a doc is under this channel's floor
    * (exact/minhash/anchor still see it). Keys are computed per ROW, so the
    * wide shingle array never enters the banding shuffle; distinct band ids
    * keep the bucket spaces disjoint, and the downstream pair distinct
    * absorbs pairs colliding in several bands.
    */
  private[graft] def fullBandRows(banded: DataFrame, cfg: DedupConfig): DataFrame = {
    // resume-path guard: persisted minhash arrays must carry at least
    // bands*rowsPerBand slots. A band past a SHORTER stored array reads
    // no slots, so every old row would hash IDENTICAL empty-band keys
    // for the high bands — one mega-bucket per band, dropped at the cap
    // (silent recall loss mislogged as boilerplate) or a quadratic pair
    // storm below it. LONGER arrays are fine (the kernel reads exactly the
    // first bands*rowsPerBand slots), so only a too-short array fails.
    // Fail loudly; the check rides codegen, zero extra jobs.
    val expectedSlots = cfg.bands * cfg.rowsPerBand
    val guardedMinhash = when(
      col("minhash").isNull || size(col("minhash")) === 0 ||
        size(col("minhash")) >= expectedSlots, col("minhash"))
      .otherwise(raise_error(concat(
        lit("state minhash carries "), size(col("minhash")).cast("string"),
        lit(s" slots but bands*rowsPerBand = $expectedSlots — the store " +
          "was written under a different banding config; run forceRescan " +
          "to re-fingerprint"))))
    banded.select(col("id"), col("simhash"),
      inline(LSH.bandKeys(guardedMinhash, col("shingles"), cfg.bands, cfg.rowsPerBand,
        cfg.prefixBandShingles, cfg.anchorModulus)))
  }

  /** The fast tier's band rows: `fastPathBands` equal slices of the 64-bit
    * SimHash, (id, simhash, band, band_hash) with band in [0, fastPathBands).
    */
  private def simhashSliceRows(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(col("id"), col("simhash"))
      .withColumn("band", explode(sequence(lit(0), lit(cfg.fastPathBands - 1))))
      .withColumn("band_hash",
        LSH.slicedBandHash("simhash", "band", 64 / cfg.fastPathBands))

  /** All-channel band rows of a signatures frame: full channels for
    * shingled rows, plus the fast-tier SimHash slices for EVERY row,
    * offset past every full channel (band >= 1000) so the bucket spaces
    * stay disjoint. The persisted band index
    * ([[graft.state.Checkpoints.ensureBandIndex]]) is built from it; band
    * hashes are pure functions of the signature columns, never of the id,
    * so rows computed in string-id space and dictionary-code space agree.
    */
  private[graft] def allChannelBandRows(df: DataFrame): DataFrame = {
    // the channel shapes are fixed members, equal in every config
    val cfg = DedupConfig()
    val full = fullBandRows(df.filter(size(col("shingles")) > 0), cfg)
      .select("id", "band", "band_hash")
    val fast = simhashSliceRows(df, cfg)
      .withColumn("band", col("band") + lit(1000))
      .select("id", "band", "band_hash")
    full.unionByName(fast)
  }

  /** Candidate pairs → verified near-dup edges.
    *
    * The verify stage re-joins the (pruned) signature table twice to fetch
    * shingle sets only for surviving candidates — the expensive columns
    * never travel through the band explode/self-join.
    *
    * @param texts optional (id, norm_text) frame enabling the authoritative
    *              suffix-array substring pass on the ambiguous slice; when
    *              absent, shingle-set containment decides alone (weaker:
    *              can over-accept reordered-block pairs).
    */
  def nearEdges(spark: SparkSession, sigs: DataFrame, cfg: DedupConfig,
                texts: Option[DataFrame] = None,
                mat: Materializer = Materializer.local): DataFrame = {
    // Rows without shingles cannot be banded or verified: they are
    // fast-path-persisted state (fastPath stores empty arrays). Empty
    // arrays must NEVER enter banding — they'd share constant band keys
    // and ShingleOverlap on two empty sets reads as jaccard 1.0, mass-
    // merging every fast-path row. Genuine empty TEXT never reaches here
    // (quarantined upstream; and even "" yields one whole-doc shingle);
    // clusterFromParts routes the excluded rows through the simhash tier.
    val banded = sigs.filter(size(col("shingles")) > 0)
    val exploded = fullBandRows(banded, cfg)
    // cheap prefilter pushed INSIDE pair generation: 64-bit SimHash Hamming
    // (reference PHash::is_similar, processing/types.rs:47-58) runs on each
    // bucket self-join's output BEFORE the cross-band distinct, so the pair
    // shuffle carries (id_a, id_b, hamming) = 24 bytes instead of two full
    // simhashes, and non-dup band collisions never enter the shuffle at all.
    // hamming is a pure function of the pair, so distinct semantics are
    // unchanged.
    val withHamming = LSH.candidatePairs(exploded, "id",
      hotThreshold = cfg.hotBucketThreshold,
      saltFactor = cfg.saltFactor,
      maxBucketSize = cfg.maxBucketSize,
      carry = Seq("simhash"),
      mat = mat,
      // containment-channel pairs (prefix/anchor bands, index >= bands) are
      // EXEMPT from the Hamming prefilter: a small quote inside a large doc
      // has low global similarity by construction — gating it on SimHash
      // distance would defeat the asymmetric channel's purpose.
      prune = df => df
        .withColumn("hamming", Fingerprints.hamming(col("simhash_a"), col("simhash_b")))
        .filter(col("band") >= cfg.bands || col("hamming") <= cfg.simhashMaxHamming)
        // remember WHICH channel family surfaced the pair: containment-
        // channel pairs are exempt from the estimate tier below (their
        // global similarity is low by construction). Not pair-functional
        // (the same pair may surface from both families), so the combine
        // folds it with max() instead of relying on distinct.
        .withColumn("cont_chan", col("band") >= cfg.bands)
        .select("id_a", "id_b", "hamming", "cont_chan"),
      // ...which is exactly why those channels get a TIGHTER bucket cap: a
      // prefix shared by b docs pairs b²/2 rows straight into the verify
      // join, so past containmentMaxBucket it is boilerplate and dropped
      bucketCap = Some(
        when(col("band") >= cfg.bands, lit(cfg.containmentMaxBucket))
          .otherwise(lit(cfg.maxBucketSize))),
      combine = df => df.groupBy("id_a", "id_b", "hamming")
        .agg(max(col("cont_chan")).as("cont_chan")))

    // verify, tier 1 (cheap, signature-only): a pair is a near-dup edge if —
    //  - SimHash Hamming ≤ accept threshold (the reference's PRIMARY
    //    predicate, phash_threshold ≙ config.rs:51,105 — unrelated docs sit
    //    at hamming ≈ 32 ± 4, so ≤12 is a ~5σ acceptance), or
    //  - exact shingle Jaccard ≥ threshold (the MinHash/enhanced-hash path).
    //
    // Hamming-accepted pairs are split out BEFORE the shingle fetch: their
    // Jaccard is never consulted, and the shingle arrays (~2 KB/row, the
    // widest thing in the verify stage) are by far the dominant shuffle
    // bytes — on a dup-heavy corpus most true pairs accept at this tier,
    // so the wide re-join only serves the genuinely ambiguous slice.
    val acceptedByHamming = withHamming
      .filter(col("hamming") <= cfg.simhashAcceptHamming)
      .select("id_a", "id_b")
    val needCheck = withHamming.filter(col("hamming") > cfg.simhashAcceptHamming)

    // verify, tier 1.5 (MinHash ESTIMATE, signature-only): before fetching
    // the wide shingle arrays (~1.6 KB/side — the dominant verify shuffle
    // bytes), re-join only the 42-slot minhash + n_shingles (~350 B/side)
    // and reject pairs whose estimated Jaccard AND estimated containment
    // both sit ≥3σ below their accept thresholds. Estimated containment
    // comes from the identity m = J(a+b)/(1+J) with the persisted set
    // sizes, so asymmetric true pairs (truncations/quotes, J≈0.3 but
    // C≈1.0) survive even when discovered only by a minhash band.
    // Containment-channel pairs skip the tier entirely. What it kills is
    // the band-collision noise a boilerplate-prefix family produces:
    // J≈0.17 pairs collide in some minhash band with P≈0.5 at the
    // recall-first 21×2 banding, and every one of them previously paid
    // the full shingle fetch only to fail the exact tiers (~95% of that
    // volume is rejected here from signatures alone).
    val estJGate = math.max(0.0,
      cfg.jaccardThreshold - 3 * math.sqrt(
        cfg.jaccardThreshold * (1 - cfg.jaccardThreshold) / cfg.numPerms))
    // containment slack: a flat 0.2 floor (MORE conservative than 3 sigma
    // at production perm counts, so fewer false rejects than the sigma
    // bound promises) with the delta-method 3-sigma term taking over for
    // small numPerms, where 0.2 alone would under-cover the estimator
    // spread -- the gate is never tighter than either bound
    val estCGate = math.max(0.0, ContainmentGate - math.max(0.2,
      3 * math.sqrt(
        ContainmentGate * (1 - ContainmentGate) / cfg.numPerms)))
    // set size derived from the array (not the optional n_shingles column:
    // the resume path's state projection doesn't carry it)
    val mhDf = banded.select(col("id"), col("minhash"),
      size(col("shingles")).as("n_shingles"))
    val est = Fingerprints.minhashJaccardEst(col("mh_a"), col("mh_b"))
    val needShingles = needCheck
      .join(mhDf.select(col("id").as("id_a"), col("minhash").as("mh_a"),
        col("n_shingles").as("n_a")), "id_a")
      .join(mhDf.select(col("id").as("id_b"), col("minhash").as("mh_b"),
        col("n_shingles").as("n_b")), "id_b")
      .withColumn("est", est)
      .withColumn("est_c",
        col("est") * (col("n_a") + col("n_b")) /
          ((col("est") + 1.0) * least(col("n_a"), col("n_b"))))
      .filter(col("cont_chan") ||
        col("est") >= lit(estJGate) || col("est_c") >= lit(estCGate))
      .select("id_a", "id_b")

    val shinglesDf = banded.select(col("id"), col("shingles"))
    // LAZY checkpoint: scored feeds BOTH the cheap-accept branch and the
    // ambiguous/SA branch of the edge union — without it each branch
    // re-runs the two wide shingle-fetch joins and the ShingleOverlap
    // kernel (the verify stage's dominant bytes and CPU). The first
    // materializing action computes it once; the sibling branch reads
    // blocks.
    val scored = mat(needShingles
      .join(shinglesDf.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(shinglesDf.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("ov", Fingerprints.shingleOverlap(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        col("ov.jaccard").as("jaccard"), col("ov.containment").as("containment")),
      eager = false)
    val cheapAccept = col("jaccard") >= cfg.jaccardThreshold
    val accepted = acceptedByHamming
      .union(scored.filter(cheapAccept).select("id_a", "id_b"))

    // verify, tier 2 (asymmetric near-dups: truncation / quotation):
    // shingle-set containment GATES the candidate; the authoritative check
    // is the suffix-array substring pass (north_rule) — LCS/min(len) over
    // normalized text, fetched ONLY for this ambiguous slice so text bytes
    // never travel through the band explode / self-join / tier-1 verify.
    val ambiguous = scored
      .filter(!cheapAccept && col("containment") >= ContainmentGate)
      .select("id_a", "id_b", "containment")
    val saAccepted = texts match {
      case Some(t) =>
        // LEFT joins: on the resume path callers may legitimately pass only
        // a delta of texts (runEpoch's anti-join) while stateSigs span all
        // epochs. A pair with a missing side must NOT be silently dropped —
        // it falls back to the shingle-containment decision (the same rule
        // as the texts=None path), so resumed clustering converges to the
        // single-shot result instead of silently losing containment edges.
        PairScoring.withSides(ambiguous, t.select("id", "norm_text"), how = "left")
          // decision form, not the LCS value: the filter only thresholds the
          // score, and the O(n+m) window scan is ~15× cheaper per pair than
          // the generalized-SA build (decision-equivalence property-gated in
          // SuffixArraySpec).
          .filter(
            when(col("norm_text_a").isNotNull && col("norm_text_b").isNotNull,
              Fingerprints.saContainmentAtLeast(col("norm_text_a"), col("norm_text_b"),
                cfg.containmentThreshold))
            .otherwise(col("containment") >= cfg.containmentThreshold))
          .select("id_a", "id_b")
      case None => // signature-only fallback: shingle containment decides
        scored.filter(!cheapAccept && col("containment") >= cfg.containmentThreshold)
          .select("id_a", "id_b")
    }

    accepted.union(saAccepted)
      .select(col("id_a").as("a"), col("id_b").as("b"))
  }

  /** Fast-path candidate pairs → edges: band the 64-bit SimHash into
    * `fastPathBands` equal slices (pigeonhole: Hamming ≤ bands-1 ⇒ some
    * band matches exactly), pair within buckets via the same salted/capped
    * machinery as the full path, accept at Hamming ≤ bands-1. No
    * shingles, no Jaccard, no suffix array — one banding shuffle + one
    * pair distinct.
    */
  def nearEdgesFast(sigs: DataFrame, cfg: DedupConfig,
                    mat: Materializer = Materializer.local): DataFrame = {
    LSH.candidatePairs(simhashSliceRows(sigs, cfg), "id",
      hotThreshold = cfg.hotBucketThreshold,
      saltFactor = cfg.saltFactor,
      maxBucketSize = cfg.maxBucketSize,
      carry = Seq("simhash"),
      mat = mat,
      prune = df => df
        .filter(Fingerprints.hamming(col("simhash_a"), col("simhash_b"))
          <= cfg.fastPathBands - 1)
        .select("id_a", "id_b"))
      .select(col("id_a").as("a"), col("id_b").as("b"))
  }

  /** Normalized-text side table for the suffix-array verify pass: capped at
    * `saMaxChars` (tiered-cost analog of the reference's size-tiered
    * downscale, `file_processing.rs:134-156`).
    */
  def normTexts(pages: DataFrame, idCol: String, textCol: String,
                cfg: DedupConfig): DataFrame =
    pages.select(col(idCol).as("id"),
      substring(Fingerprints.normalized(col(textCol)), 1, cfg.saMaxChars).as("norm_text"))

  /** Order-preserving id dictionary: original id → dense long code.
    * Range partitioning + in-partition sort + in-partition dedup, then
    * monotonically_increasing_id (monotone in partition index × offset)
    * makes codes order-isomorphic to the original ids, so every min-id
    * convention downstream (exact-group rep, union-find label,
    * representative tiebreak) is preserved exactly. ONE shuffle of the id
    * column: range partitioning co-locates equal ids, so the global
    * hash-distinct a naive `distinct().sort()` would pay (a second full
    * exchange) is replaced by a narrow in-partition dedup. Materialized
    * once — codes must never be re-derived under a different partitioning.
    */
  def idDictionary(ids: DataFrame): DataFrame =
    // persist, NOT checkpoint: a checkpoint (even lazy) forces `toRdd`,
    // which runs the range exchange's boundary-sampling job as its own
    // driver action — a persist defers everything into the pipeline's first
    // materializing action (the LSH pair job, whose DAG contains the
    // dictionary), cutting one blocking round-trip. All consumers share the
    // one cached plan; an evicted/lost block recomputes DETERMINISTICALLY
    // (range boundaries live in the partitioner object, the in-partition
    // sort and monotonically_increasing_id are partition-deterministic), so
    // codes can never diverge across uses. Callers unpersist after the
    // clusters table is materialized.
    idDictionaryPlan(ids).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The encode plan before materialization — split out so PipelineSpec can
    * pin the single-exchange claim (one range-partitioning exchange; the
    * dedup aggregate must NOT add a hashpartitioning exchange).
    */
  private[graft] def idDictionaryPlan(ids: DataFrame): DataFrame =
    ids.toDF("sid")
      .repartitionByRange(col("sid"))
      // no exchange here: RangePartitioning(sid) already satisfies the
      // aggregate's ClusteredDistribution(sid) — equal ids are co-located
      .dropDuplicates("sid")
      // the hash agg scrambles in-partition order; restore it narrowly
      .sortWithinPartitions("sid")
      .withColumn("id", monotonically_increasing_id())
      // LOUD guard on the 33-bit per-partition record space: past 2^33
      // rows in ONE range partition, monotonically_increasing_id spills
      // into the NEXT partition's code space — codes collide and the
      // order isomorphism (hence every downstream min-id convention)
      // breaks SILENTLY. The id's embedded partition field must equal the
      // physical partition; checked per row (a shift + compare riding the
      // same projection — no extra exchange or job, the single-exchange
      // plan contract above holds). The two stacked projections must not
      // collapse (CollapseProject refuses: the guard reads the
      // nondeterministic id twice), so the counter advances exactly once
      // per row.
      .withColumn("id",
        when(shiftright(col("id"), 33) === spark_partition_id().cast("long"),
          col("id"))
          .otherwise(raise_error(lit(
            "id dictionary overflow: a range partition holds >= 2^33 ids, " +
              "so dictionary codes would collide; raise " +
              "spark.sql.shuffle.partitions for this corpus size"))))

  /** Full run: returns the clusters table
    * (id, cluster_id, is_representative, kind) — kind ∈ {exact, near, unique}.
    *
    * Stage order is exact-first (the production web-dedup shape): the cheap
    * content-hash pass runs over a SLIM projection (id, hash, len — ~100 B/
    * row), and only ONE representative per content_hash is ever
    * fingerprinted or banded. This (a) keeps the wide shingle/minhash rows
    * out of the exact-stage shuffles, and (b) removes identical-text LSH
    * mega-buckets (the empty page, parked-domain boilerplate — they collide
    * in ALL bands and pair quadratically) by construction; exact-group
    * members reconnect to their rep (= group min id, matching
    * exactEdgesFrom's root) through union-find.
    *
    * All internal stages run on 8-byte dictionary codes, not url strings:
    * the pair/verify/union-find shuffles are the byte-volume hot spots at
    * web scale, and a ~50 B url on every pair row roughly triples them.
    * Original ids are restored on the final (small) clusters table only.
    *
    * Input ids (`idCol`) must be unique: the cluster tail elects a
    * representative by id, so a repeated id yields repeated output rows,
    * each flagged like the others.
    */
  def run(spark: SparkSession, pages: DataFrame, idCol: String, textCol: String,
          cfg: DedupConfig = DedupConfig(),
          rowObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {

    val mat = cfg.materializer(spark)
    val dict = idDictionary(pages.select(col(idCol)))
    val keyed = pages.select(col(idCol).as("sid"), col(textCol).as("__text"))
      .join(dict, "sid").select("id", "__text")

    // slim exact-identity pass: nothing wider than the hash is shuffled.
    // MATERIALIZED (not cached): the extract+hash subtree is the pipeline's
    // most expensive per-row kernel, and a lazily-cached plan replays it
    // into every downstream stage's lineage — under AQE the pair job's
    // concurrently-submitted exchange/broadcast subqueries each carry (and
    // race to fill) the whole scan→extract plan, and every stage pays the
    // giant plan's codegen + task-binary cost even on a cache hit. The
    // eager checkpoint runs extraction exactly once as one clean job and
    // truncates every consumer's plan to a checkpoint scan (guide §3.3:
    // materializing an intermediate truncates the plan). It does not
    // improve the optimizer's size estimate: the checkpoint keeps the
    // estimate of the plan it cut.
    val slim = mat(keyed.select(
      col("id"),
      length(col("__text")).as("order_len"),
      Fingerprints.contentHash(col("__text")).as("content_hash")))

    // ONE aggregation serves both downstream needs: the representative
    // (min id ≡ exactEdgesFrom root) per content_hash that enters the near-dup
    // stage, and the per-hash multiplicity the kind labeling reads later —
    // computing them separately would run the same exchange twice
    val hashGroups = hashGroupsOf(slim)
    val nearPages = keyed
      .join(hashGroups.select("id"), Seq("id"), "left_semi")
    // fingerprint pass over the reps, MATERIALIZED for the same plan-
    // truncation reason as slim: nearEdges consumes repSigs in ~10 places
    // (banding ×2 channels, estimate-tier joins ×2, shingle fetch ×2), and
    // each previously dragged the scan→extract→semi-join→DocSignature
    // subtree into its stage. norm_text rides the SAME pass (carry) so the
    // suffix-array verify slice never re-extracts the corpus — the second
    // extraction pass this job pays is the exact-first design's minimum
    // (reps are unknowable before the hash pass).
    val sigsAll =
      if (cfg.fastPath) mat(signatures(nearPages, "id", "__text", cfg))
      else mat(signatures(
        nearPages.select(col("id"), col("__text"),
          substring(Fingerprints.normalized(col("__text")), 1, cfg.saMaxChars)
            .as("norm_text")),
        "id", "__text", cfg, carry = Seq("norm_text")))
    val repSigs = if (cfg.fastPath) sigsAll else sigsAll.drop("norm_text")

    val coded = clusterFromParts(spark, slim, hashGroups, repSigs,
      texts = if (cfg.fastPath) None
              else Some(sigsAll.select("id", "norm_text")),
      cfg, mat,
      // fresh signatures are all fast-path rows or all shingled
      fastRows = cfg.fastPath)
    val result = decode(coded, dict, mat, rowObs)
    hashGroups.unpersist()
    dict.unpersist()
    result
  }

  /** (content_hash, id = group-min rep, hash_n) — one shared aggregation
    * for rep selection AND kind labeling; cached because both the near-dup
    * head and the cluster tail read it.
    */
  private def hashGroupsOf(slim: DataFrame): DataFrame =
    slim.groupBy("content_hash")
      .agg(min(col("id")).as("id"), count(lit(1)).as("hash_n"))
      .cache()

  /** The shared resume-path prologue — dictionary-code the signature table
    * and derive the (dict, slim, hashGroups, repSigs) quartet every
    * clustering variant consumes, plus whether the state holds fast-path
    * (shingle-less) rows. ONE definition: [[clusterSignatures]] and
    * [[clusterSignaturesDelta]] must key, cache and prune identically, or
    * a fix to one silently diverges the other.
    *
    * The fast-row answer rides slim's materialization as an observe metric
    * over the narrow n_shingles column — no probe job, and no scan of the
    * wide shingle column; repSigs is NOT cached (in index mode the wide
    * columns are read exactly once, and a corpus-wide cache fill of
    * KB-scale shingle rows was the delta epoch's single biggest fixed
    * cost — ~8 s at the 220k tier, measured).
    */
  private def codedParts(stateSigs: DataFrame, mat: Materializer)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Boolean) = {
    val dict = idDictionary(stateSigs.select(col("id")))
    val keyed = stateSigs
      .select(col("id").as("sid"), col("order_len"), col("content_hash"),
        col("n_shingles"), col("simhash"), col("minhash"), col("shingles"))
      .join(dict, "sid")
    // MATERIALIZED (not cached) for the same plan-truncation reason as
    // run()'s slim: every consumer (hash groups, kind join, exact edges)
    // previously dragged the state-scan + dictionary-join subtree into its
    // stage plan, and the delta path's many broadcast subqueries raced to
    // fill the lazy cache. One clean slim pass (3 narrow columns),
    // evaluated once; consumers read a truncated plan (the size estimate
    // stays that of the plan it cut).
    val fastObs = org.apache.spark.sql.Observation()
    val slim = mat(keyed.select("id", "order_len", "content_hash", "n_shingles")
      .observe(fastObs,
        coalesce(max((col("n_shingles") === 0).cast("long")), lit(0L)).as("fast_rows"))
      .drop("n_shingles"))
    val hashGroups = hashGroupsOf(slim)
    val repSigs = keyed
      .select("id", "simhash", "minhash", "shingles")
      .join(hashGroups.select("id"), Seq("id"), "left_semi")
    (dict, slim, hashGroups, repSigs, Observed.long(fastObs) > 0)
  }

  /** Restore original string ids on a coded clusters table. */
  private def decode(coded: DataFrame, dict: DataFrame, mat: Materializer,
                     rowObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // eager-materialize the (small) clusters table so the big intermediate
    // caches can be released immediately — downstream consumers read the
    // checkpointed rows instead of re-running the LSH/verify DAG
    val decoded = coded
      .join(dict, "id")
      .join(dict.select(col("id").as("cluster_id"), col("sid").as("cluster_sid")),
        "cluster_id")
      .select(col("sid").as("id"), col("cluster_sid").as("cluster_id"),
        col("is_representative"), col("kind"))
    // a caller that only needs the row count reads it off this
    // materializing job as an observe metric instead of paying a separate
    // count() action (driver-job floor: every blocking action is a fixed
    // serial cost the 4N-executor side cannot parallelize away)
    mat(rowObs.map(o => decoded.observe(o, count(lit(1)).as("n_rows")))
      .getOrElse(decoded))
  }

  /** Cluster a full persisted signatures table (the resume path: fingerprints
    * come from the state table, never recomputed). `stateSigs` must carry
    * (id, order_len, content_hash, n_shingles, simhash, minhash, shingles)
    * — exactly what [[graft.state.Checkpoints.runEpoch]] persists; `texts` is
    * the optional (id, norm_text) side input enabling the suffix-array pass,
    * keyed by the ORIGINAL ids (encoding is internal).
    */
  def clusterSignatures(spark: SparkSession, stateSigs: DataFrame,
                        texts: Option[DataFrame], cfg: DedupConfig = DedupConfig()): DataFrame = {
    val mat = cfg.materializer(spark)
    val (dict, slim, hashGroups, repSigs0, hasFastRows) = codedParts(stateSigs, mat)
    // MATERIALIZE repSigs on THIS path only: the full resume feeds it
    // straight into nearEdges, which consumes its input in ~10 places
    // (banding ×2, estimate-tier joins ×2, shingle fetch ×2) — each
    // re-evaluation would replay the state scan + the dictionary join
    // shuffle over the whole corpus, and a lazy cache
    // both races its fill across AQE's concurrent subqueries and drags
    // the full lineage into every consumer stage's plan. The delta path
    // deliberately does NOT materialize it (codedParts doc: the corpus-
    // wide fill of KB-scale shingle rows was the delta epoch's biggest
    // fixed cost); it materializes its frontier subset instead.
    val repSigs = mat(repSigs0)
    val codedTexts = texts.map(_.toDF("sid", "norm_text").join(dict, "sid")
      .select("id", "norm_text"))
    val coded = clusterFromParts(spark, slim, hashGroups, repSigs, codedTexts,
      cfg, mat, fastRows = hasFastRows)
    val result = decode(coded, dict, mat)
    hashGroups.unpersist()
    dict.unpersist()
    result
  }

  /** Delta-incremental variant of [[clusterSignatures]]: epoch clustering
    * cost scales with the DELTA, not the corpus.
    *
    *  - Near-pair discovery + verify run only over the re-verify
    *    frontier: `focusSids` (docs new this epoch plus members of
    *    clusters invalidated by executed removals), lifted to their
    *    content-hash representatives, plus every doc sharing ANY
    *    discovery bucket with one of them, read from the persisted band
    *    index `bandIndex` (all LSH channels, fast tier included, so a
    *    channel added later is automatically covered).
    *  - The prior epoch's connectivity enters union-find as `assignEdges`
    *    (member ↔ cluster_id pairs in string-id space; cluster labels are
    *    themselves min-ids of live docs, so the dictionary covers them).
    *    Union-find over (exact ∪ frontier-near ∪ assignment) edges yields
    *    the same connected components as the full re-derivation: old-old
    *    connectivity is the transitive closure the assignments already
    *    encode, and any pair involving a changed doc is re-derived.
    *  - Exact edges, kind labeling and representative selection recompute
    *    over the full universe — single-exchange aggregates, the cheap
    *    part — so kinds and representatives stay EXACTLY equivalent.
    *
    * Equivalence holds while the edge-shaping values are unchanged since
    * the epoch that produced `assignEdges` (induction: every old-old pair
    * was discoverable then and is folded into its cluster's closure);
    * [[graft.state.Checkpoints.clusterEpoch]] takes the full path when
    * they differ. Pinned by DeltaClusterSpec.
    */
  def clusterSignaturesDelta(spark: SparkSession, stateSigs: DataFrame,
                             focusSids: DataFrame, assignEdges: DataFrame,
                             texts: Option[DataFrame],
                             // persisted (sid, band, band_hash) rows
                             // (Checkpoints.ensureBandIndex): mates come
                             // from a slim index semi-join instead of
                             // re-banding the corpus — the frontier pass
                             // never re-winnows every doc's shingle array
                             bandIndex: DataFrame,
                             cfg: DedupConfig = DedupConfig()): DataFrame = {
    val mat = cfg.materializer(spark)
    val (dict, slim, hashGroups, repSigs, hasFastRows) = codedParts(stateSigs, mat)
    // focus → coded → content-hash representatives: a focus doc that is
    // not its hash group's rep reaches the rep by an exact edge, and the
    // rep's near neighbourhood is already encoded in the assignments
    val focusCoded = focusSids.toDF("sid").join(dict, "sid").select("id")
    val focusReps = slim.join(focusCoded, Seq("id"), "left_semi")
      .select("id", "content_hash")
      .join(hashGroups.select(col("content_hash"), col("id").as("rep_id")),
        "content_hash")
      .select(col("rep_id").as("id")).distinct()
    // CACHE the frontier and the banded subset: nearEdges consumes its
    // input in ~10 places (banding, estimate-tier joins, shingle fetch,
    // pair-gen internals) and each re-evaluation would otherwise re-run
    // the whole mates DAG — measured 10x the full path at bench scale
    // before these two materializations
    val frontier = {
      // the frontier never touches a wide column OR a hash kernel: the
      // focus docs' hot bucket keys are READ from the index (their rows
      // are, by the index invariant, exactly allChannelBandRows of their
      // signatures — and a non-rep focus doc has identical text, hence
      // identical rows, to its hash-group rep), and mates are the index
      // rows sharing those keys. Two passes over a ~20 B/row table replace
      // a corpus-wide shingle-winnowing pass AND a corpus-wide wide-column
      // cache fill. Index rows of tombstoned docs and of non-representatives
      // only widen the frontier (dropped at the subset semi-join below).
      // The fast channel joins in ONLY when the store mixes in fast-path
      // rows (or the run itself is fast-path), mirroring the pairing tiers
      // exactly: a 16-bit slice holds ~n/65536 docs, so in a pure-full
      // store it would pull ~44 mates per focus slice at 726k docs and the
      // frontier would engulf the corpus.
      val ixc =
        if (hasFastRows || cfg.fastPath) bandIndex
        else bandIndex.filter(col("band") < 1000)
      // NO forced broadcast on the focus side: focus is delta-sized in
      // steady state but corpus-sized after accrued signature-only epochs
      // (every never-clustered doc), where a broadcast hint would hit the
      // 8 GB hard limit / driver OOM — the stats/AQE choice degrades to a
      // shuffle semi-join instead of crashing
      val hot = ixc.join(focusSids.toDF("id"), Seq("id"), "left_semi")
        .select("band", "band_hash").distinct()
      val mates = ixc.join(hot, Seq("band", "band_hash"), "left_semi")
        .select(col("id").as("sid")).distinct()
        .join(dict, "sid").select("id")
      // lazy cache: filled by the subset materialization below
      mates.union(focusReps).distinct().cache()
    }
    // MATERIALIZE the subset (not just cache): nearEdges consumes it ~10
    // times, so the state scan, the frontier semi-join and the dictionary
    // join run once, and every consumer reads a truncated plan. The
    // checkpoint keeps the size estimate of the plan it cut; it buys one
    // evaluation, not better stats
    val subsetReps = mat(repSigs.join(frontier, Seq("id"), "left_semi"))
    val codedAssign = assignEdges.toDF("sid_a", "sid_b")
      .join(dict.select(col("sid").as("sid_a"), col("id").as("a")), "sid_a")
      .join(dict.select(col("sid").as("sid_b"), col("id").as("b")), "sid_b")
      .select("a", "b")
    // The SA verify fetch only ever needs FRONTIER rows in delta mode
    // (every candidate pair is confined to the banded subset), so the text
    // table is pruned with a frontier-sized (sid, id) slice of the
    // dictionary — one materialized broadcast-able side doing prune + code
    // in a single join. Under the slice-fed posture `texts` is the full
    // authoritative pages table; this join is the ONLY thing that touches
    // it, as a scan + broadcast hash join — never an O(corpus) shuffle of
    // text bytes (the unpruned dict join sort-merged the whole text column
    // every delta epoch).
    val codedTexts = texts.map { t =>
      val frontierDict = mat(dict.join(frontier, Seq("id"), "left_semi"))
      t.toDF("sid", "norm_text").join(frontierDict, "sid")
        .select("id", "norm_text")
    }
    val coded = clusterFromParts(spark, slim, hashGroups, repSigs, codedTexts,
      cfg, mat, fastRows = hasFastRows,
      bandSigsOverride = Some(subsetReps), extraEdges = Some(codedAssign))
    val result = decode(coded, dict, mat)
    frontier.unpersist()
    hashGroups.unpersist()
    dict.unpersist()
    result
  }

  /** Shared pipeline tail: exact edges from the slim universe, near edges
    * from rep signatures, union-find, then [[clusterTail]].
    *
    * @param slim       (id, order_len, content_hash) for EVERY row — the
    *                   cluster universe
    * @param hashGroups (content_hash, id, hash_n) from [[hashGroupsOf]]
    * @param repSigs    signatures for one representative per content_hash
    */
  private def clusterFromParts(spark: SparkSession, slim: DataFrame,
                               hashGroups: DataFrame, repSigs: DataFrame,
                               texts: Option[DataFrame], cfg: DedupConfig,
                               mat: Materializer,
                               // whether the universe holds fast-path
                               // (shingle-less) rows
                               fastRows: Boolean,
                               // delta mode (clusterSignaturesDelta): band
                               // and verify only this (CACHED) subset of
                               // repSigs — nearEdges consumes its input
                               // ~10 times, so the caller must materialize
                               // the subset, never pass a live semi-join...
                               bandSigsOverride: Option[DataFrame] = None,
                               // ...and splice the prior epoch's
                               // connectivity in as ready-made (a, b) edges
                               extraEdges: Option[DataFrame] = None): DataFrame = {

    // reuse the cached hashGroups aggregate as the per-hash min/count side:
    // aggregating the content hashes again here would re-run the same
    // exchange it already paid for
    val exact = Clustering.exactEdgesFrom(
      slim.select("id", "content_hash"),
      hashGroups.select(col("content_hash"), col("id").as("root"),
        col("hash_n")),
      "id", "content_hash")
    val bandSigs = bandSigsOverride.getOrElse(repSigs)
    val near = {
      val edges =
        if (cfg.fastPath) nearEdgesFast(bandSigs, cfg, mat)
        else {
          val full = nearEdges(spark, bandSigs, cfg, texts, mat)
          // MIXED state: rows persisted by a fast-path epoch carry no
          // shingles and are excluded from minhash banding (see nearEdges);
          // when any exist, ALL rows additionally go through the simhash
          // pigeonhole tier so old fast rows still pair (with each other
          // AND with new full rows) at fast-path precision.
          if (fastRows) full.union(nearEdgesFast(bandSigs, cfg, mat))
          else full
        }
      mat(edges, eager = false)
    }
    val edges = extraEdges.foldLeft(exact.union(near))(_ union _)

    clusterTail(slim, hashGroups,
      Clustering.unionFind(spark, edges, cfg.maxUnionFindIters, mat))
  }

  /** Cluster table (id, cluster_id, is_representative, kind) of the slim
    * universe from union-find `labels` (id, cluster_id): a row no edge
    * touched clusters with itself.
    *
    *  - The universe is `slim` itself: its dictionary-coded ids are unique
    *    by construction, so it needs no distinct.
    *  - kind: exact if the row shares its content_hash with another row,
    *    read off `hashGroups` by id — a row that is not its hash group's
    *    representative has a copy, and a representative has one iff
    *    hash_n > 1; else near in a multi-row cluster, else unique.
    *  - Cluster size and representative ([[RepresentativeOrder]]) come from
    *    ONE aggregate on cluster_id joined back once
    *    ([[Clustering.withSizesAndRepresentatives]]).
    */
  private[graft] def clusterTail(slim: DataFrame, hashGroups: DataFrame,
                                 labels: DataFrame): DataFrame = {
    val rows = slim
      .join(labels, Seq("id"), "left")
      .join(hashGroups.select("id", "hash_n"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        col("order_len"), (col("hash_n").isNull || col("hash_n") > 1).as("exact"))
    Clustering.withSizesAndRepresentatives(rows, RepresentativeOrder, "cluster_n")
      .select(col("id"), col("cluster_id"), col("is_representative"),
        when(col("exact"), lit("exact"))
          .when(col("cluster_n") > 1, lit("near"))
          .otherwise(lit("unique")).as("kind"))
  }
}
