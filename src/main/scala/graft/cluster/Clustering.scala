package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType,
  StructField, StructType}

import scala.collection.mutable.ArrayBuilder

import graft.pipeline.DedupPipeline
import graft.state.{Materializer, Observed}

/** Duplicate-group resolution: exact groups + transitive closure of verified
  * near-dup edges into clusters, then representative ("original") selection.
  *
  * Implements the semantics the reference specifies but stubs
  * (image-deduper `src/deduplication/mod.rs:8-32` — group-by-identical-hash
  * plus `is_similar` grouping, `todo!()` body) and the priority-rule original
  * pick (`src/config.rs:5-23,111-115`).
  */
object Clustering {

  /** Exact-duplicate edges: rows sharing a content hash are linked to the
    * group's min id (reference `deduplication/mod.rs:12-32`: HashMap by
    * crypto hash). The per-hash (min id, count) aggregate is supplied by
    * the caller — the pipeline already computes exactly this aggregate for
    * representative selection and kind labeling (and caches it), so the
    * edges cost no second content-hash exchange. Min via groupBy + re-join,
    * NOT a window and NOT collect_list: a mega exact-group (the empty page,
    * parked-domain template — millions of rows behind one hash at web
    * scale) would pin ALL its rows to one window task every run (the same
    * straggler shape largeStar avoids below), while the groupBy combines
    * map-side and AQE can split the skewed enrichment-join partitions.
    * Singleton groups are dropped BEFORE the join — at web scale most
    * hashes are unique, so the build side shrinks to the duplicate classes
    * only.
    *
    * @param roots (hashCol, root = group min id, hash_n = group size);
    *              extra columns are ignored
    */
  def exactEdgesFrom(members: DataFrame, roots: DataFrame,
                     idCol: String, hashCol: String): DataFrame =
    members.select(col(idCol), col(hashCol))
      .join(roots.filter(col("hash_n") > 1)
        .select(col(hashCol), col("root")), hashCol)
      .filter(col(idCol) =!= col("root"))
      .select(col(idCol).as("a"), col("root").as("b"))

  /** One large-star round: every node connects its strictly-LARGER
    * neighbors to the minimum of its closed neighborhood. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SOCC'14) — a textbook
    * public algorithm.
    *
    * The per-node minimum is a partial-aggregating groupBy re-joined to the
    * edge list — deliberately NOT a window: a window pins ALL rows of one
    * node to one task, so a mega-star (boilerplate component at web scale)
    * would serialize into a straggler every round. Hash aggregation
    * combines map-side, and AQE splits the skewed enrichment-join
    * partitions.
    *
    * Input/output edges are undirected; output rows are oriented (u > v).
    * Each undirected input edge yields exactly one output row (emitted from
    * its smaller endpoint's group), so the edge set never grows here.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One small-star round: every node connects its smaller-or-equal
    * neighbors (and itself) to the minimum of its closed neighborhood.
    * Expects edges oriented (u > v) — [[largeStar]]'s output shape — and
    * preserves that orientation. Same skew-safe groupBy+join shape as
    * [[largeStar]]. Output is deduplicated: this is the one distinct per
    * round, bounding edge-set growth at |E| + |V|.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m")) // every v < u here
    e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** (row count, order-independent checksum) of an oriented edge set — the
    * fixpoint detector. Equal consecutive stats ⇒ the (distinct) edge set
    * is unchanged. A count+checksum collision between two DIFFERENT
    * consecutive edge sets would exit early with non-star labels — odds
    * are ~2⁻⁶⁴ per round; if the checksum is ever narrowed, replace this
    * with an exact set-difference check.
    *
    * The stats ride the round's own materialization job as `observe`
    * metrics (CollectMetrics accumulators) instead of a separate
    * aggregation action: one driver round-trip per round, not two — the
    * per-round driver-job floor is a measured suppressor of scaling
    * efficiency at high parallelism. Returns the observed frame and the
    * stats reader to call once that frame's checkpoint ran.
    */
  private def observeStats(e: DataFrame, name: String): (DataFrame, () => (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation(name)
    // bit_xor, not sum: order-independent AND overflow-free under ANSI mode
    // (the set is distinct, so XOR self-cancellation cannot occur)
    (e.observe(obs, count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x")),
      () => (Observed.long(obs, 0), Observed.long(obs, 1)))
  }

  /** Driver heap bytes one canonical edge may cost in the local finish: the
    * collected (u, v) pair (16), its two endpoints in the sorted node array
    * (16), their parent slots (8) and at most one (child, root) forest pair
    * (16), rounded up for the per-partition array headers.
    */
  private val LocalFinishBytesPerEdge = 64L

  /** Largest canonical edge set [[unionFind]] finishes on the driver: an
    * eighth of the driver heap at [[LocalFinishBytesPerEdge]] per edge
    * (~6M edges on a 3 GB heap), and at most half of
    * `spark.driver.maxResultSize` at 16 collected bytes per edge (a larger
    * collect would abort the job), clamped so the endpoint array stays
    * Int-indexable.
    */
  private[graft] def localFinishCap(spark: SparkSession): Long = {
    val resultBytes = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g") // 0 = unlimited
    Seq(Runtime.getRuntime.maxMemory / 8 / LocalFinishBytesPerEdge,
      if (resultBytes > 0) resultBytes / 2 / 16 else Long.MaxValue,
      Int.MaxValue / 2 - 8L).min
  }

  /** Star-forest (child, root) pairs per slice of the local finish's
    * RDD-backed frame: ~1 MB of longs per task.
    */
  private val ForestSlicePairs = 1 << 16

  /** Distributed union-find with a local finish. The canonical edge set
    * (u > v, self-loops dropped, distinct) is materialized once and its
    * size read off the `uf_round_0` observation; then:
    *
    *  - at most `localFinishCap` edges (an eighth of the driver heap
    *    (`Runtime.maxMemory`) at 64 bytes per edge: ~6M edges on a 3 GB
    *    heap; also bounded by `spark.driver.maxResultSize`): the edges are
    *    collected as packed `Long` arrays — one per partition, no `Row`s —
    *    and resolved by an in-memory min-root DSU, in one job. The
    *    collected count must equal the observed one.
    *  - above the cap: alternating large-star/small-star contraction
    *    (Kiveris et al. 2014) iterated to fixpoint from the checkpointed
    *    edge set, with one eager checkpoint per TWO contraction rounds
    *    that both cuts lineage (north_rule; SURVEY.md §4 custom-work item
    *    3) and carries the fixpoint stats as observe metrics (`uf_round_k`)
    *    — halving the blocking driver actions on deep topologies. Converges
    *    in O(log n) rounds on ANY topology — including the chain-shaped
    *    components (successive truncations/edits) that defeat O(diameter)
    *    label propagation — because each round at least halves the height
    *    of every non-star component.
    *
    * Both paths end in the same star forest (child → component-min root),
    * which one labelling tail turns into the output, so the rows do not
    * depend on the path taken.
    *
    * @param edges  (a, b) pairs, any orientation, strings or longs
    * @return (id, cluster_id) — cluster_id = min id of the component
    */
  def unionFind(spark: SparkSession, edges: DataFrame, maxIters: Int = 25,
                mat: Materializer = Materializer.local): DataFrame =
    unionFindCapped(spark, edges, maxIters, mat, localFinishCap(spark))

  /** [[unionFind]] with the local-finish cap given: 0 sends every
    * non-empty edge set through the contraction loop.
    */
  private[graft] def unionFindCapped(spark: SparkSession, edges: DataFrame,
                                     maxIters: Int, mat: Materializer,
                                     localCap: Long): DataFrame = {
    // Fast path: already-numeric ids (the pipeline dictionary-encodes urls
    // to dense longs at entry) iterate directly. String ids are encoded to
    // dense longs here first: every propagation round shuffles and compares
    // join keys, and 8-byte codes beat ~50-byte url strings several-fold in
    // shuffle volume. The encoding is the pipeline's ORDER-PRESERVING id
    // dictionary, so min(code) ≡ min(id) and the decoded output is
    // identical to the string-keyed algorithm — and deterministic across
    // parallelism levels, since codes never escape this function.
    val alreadyNumeric =
      edges.schema("a").dataType == LongType
    val ids =
      if (alreadyNumeric) null
      // materialized ONCE: codes must not be re-derived per use
      else mat(DedupPipeline.idDictionaryPlan(
        edges.select(col("a")).union(edges.select(col("b")))))

    // LAZY checkpoint on the encoded edge set: BOTH the oriented edges and
    // the self-loop-only labeling tail derive from `enc`, so without this
    // the id-dictionary encode joins (and any un-materialized upstream edge
    // DAG) would replay once more in the labelling tail. The eager
    // checkpoint of `e0` below materializes the whole chain (enc, then e0)
    // in one pass.
    val enc = mat(
      if (alreadyNumeric) edges.select(col("a").as("src"), col("b").as("dst"))
      else edges
        .join(ids.select(col("sid").as("a"), col("id").as("ca")), "a")
        .join(ids.select(col("sid").as("b"), col("id").as("cb")), "b")
        .select(col("ca").as("src"), col("cb").as("dst")),
      eager = false)
    // canonical oriented edge set (u > v), self-loops dropped; the distinct
    // makes the stats a set invariant. Its count picks the path.
    val (e0Obs, obs0) = observeStats(
      enc.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .distinct(),
      "uf_round_0")
    val e0 = mat(e0Obs)
    val stats0 = obs0()
    val e =
      if (stats0._1 <= localCap) localStarForest(spark, e0, stats0._1)
      else contractToStars(e0, stats0, maxIters, mat)

    // the star forest (child u → component-min root v): read the labels
    // straight off it — every non-root appears exactly once as u, roots
    // appear only as v and label themselves. Nodes whose every edge was a
    // self-loop are not in `e`, so they re-enter from `enc`; min(label) per
    // id reconciles a self-loop row (id→id) with a real star label
    // (id→root ≤ id) without an anti-join.
    val labels = e.select(col("u").as("id"), col("v").as("label"))
      .union(e.select(col("v").as("id"), col("v").as("label")))
      .union(enc.filter(col("src") === col("dst"))
        .select(col("src").as("id"), col("src").as("label")))
      .groupBy("id").agg(min(col("label")).as("label"))

    if (alreadyNumeric) labels.withColumnRenamed("label", "cluster_id")
    else labels
      .join(ids.select(col("id"), col("sid").as("id_s")), "id")
      .join(ids.select(col("id").as("label"), col("sid").as("cluster_s")), "label")
      .select(col("id_s").as("id"), col("cluster_s").as("cluster_id"))
  }

  /** Local finish: collect the `n` canonical edges of the materialized
    * `e0` as packed (u, v) `Long` arrays, one per partition, and resolve
    * them with a min-root DSU over the sorted node array — a node's index
    * orders like its id, so every root is its component's minimum. The
    * forest is returned as an RDD-backed (u, v) frame in ~1 MB slices, so
    * the plan does not grow with the edge count.
    */
  private def localStarForest(spark: SparkSession, e0: DataFrame, n: Long): DataFrame = {
    val packed =
      if (n == 0) Array.empty[Array[Long]]
      else e0.rdd.mapPartitions { rows =>
        val b = new ArrayBuilder.ofLong
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
    val got = packed.map(_.length.toLong).sum / 2
    require(got == n,
      s"union-find local finish collected $got edges, uf_round_0 observed $n")

    // sorted distinct endpoints: node index i ↔ id nodes(i)
    val nodes = new Array[Long](2 * n.toInt)
    var k = 0
    packed.foreach { p => System.arraycopy(p, 0, nodes, k, p.length); k += p.length }
    java.util.Arrays.sort(nodes)
    val m = nodes.indices.foldLeft(0) { (w, i) => // dedup in place
      if (w > 0 && nodes(w - 1) == nodes(i)) w else { nodes(w) = nodes(i); w + 1 }
    }

    val parent = Array.range(0, m)
    def find(x0: Int): Int = { // path halving, iterative: chains are deep
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(nodes, 0, m, id)
    packed.foreach { p =>
      var i = 0
      while (i < p.length) {
        val a = find(index(p(i)))
        val b = find(index(p(i + 1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
        i += 2
      }
    }

    val slices = Array.newBuilder[Array[Long]]
    var slice = new ArrayBuilder.ofLong
    for (i <- 0 until m) {
      val r = find(i)
      if (r != i) {
        slice += nodes(i); slice += nodes(r)
        if (slice.length == 2 * ForestSlicePairs) {
          slices += slice.result()
          slice = new ArrayBuilder.ofLong
        }
      }
    }
    slices += slice.result()
    val forest = slices.result()
    // nullable like the contraction loop's (min-aggregated) columns, so the
    // output schema does not depend on the path either
    spark.createDataFrame(
      spark.sparkContext.parallelize(forest.toSeq, forest.length)
        .flatMap(s => Iterator.range(0, s.length, 2).map(j => Row(s(j), s(j + 1)))),
      StructType(Seq(StructField("u", LongType), StructField("v", LongType))))
  }

  /** The contraction loop from the checkpointed canonical edge set `e0`
    * (stats `stats0`) to its fixpoint star forest.
    *
    * TWO contraction rounds ride each materialization: a blocking driver
    * action per round was the remaining per-iteration floor cost, and both
    * large-star/small-star pairs fuse into one job DAG (4 joins between
    * checkpoints instead of 2 — still bounded lineage). At fixpoint the
    * extra pair is idempotent, so the final star forest is byte-identical
    * to the one-round-per-action schedule (chain/tree/clique fixtures and
    * the recursive-CTE oracle gate this). Convergence is detected at BOTH
    * the mid-pair and end-pair positions: two CollectMetrics nodes ride the
    * one materializing job, so the per-round granularity is kept (stats
    * equal between ANY two consecutive rounds ⇒ fixpoint) at half the
    * blocking actions — and no trailing confirm pair is ever paid, since a
    * fixpoint reached at an odd round shows up as mid == end inside the
    * same pair.
    */
  private def contractToStars(e0: DataFrame, stats0: (Long, Long), maxIters: Int,
                              mat: Materializer): DataFrame = {
    var e = e0
    var stats = stats0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val (midDf, midObs) = observeStats(
        smallStar(largeStar(e)), s"uf_round_${2 * iter + 1}")
      val (nextDf, endObs) = observeStats(
        smallStar(largeStar(midDf)), s"uf_round_${2 * iter + 2}")
      e = mat(nextDf)
      val midStats = midObs()
      val endStats = endObs()
      converged = midStats == stats || endStats == midStats
      stats = endStats
      iter += 1
    }
    require(converged, s"union-find did not converge within $maxIters round-pairs")
    e
  }

  /** Full cluster table over a universe of ids: every id gets exactly one
    * cluster (singletons cluster with themselves) — the partition property
    * asserted by the ScalaCheck suite.
    */
  def clusters(spark: SparkSession, universe: DataFrame, idCol: String,
               edges: DataFrame, maxIters: Int = 25,
               mat: Materializer = Materializer.local): DataFrame = {
    val uf = unionFind(spark, edges, maxIters, mat)
    universe.select(col(idCol).as("id")).distinct()
      .join(uf, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Representative ("original") selection per cluster — the reference's
    * priority rules (`config.rs:111-115`: resolution desc, size desc,
    * creation asc) re-targeted at text: e.g. longest text, then url asc.
    * The winner is the row first in `orderCols`, then smallest `id`; adds
    * `is_representative`. Ids must be unique (every cluster table's are),
    * and every column orderable (no map columns): the election compares
    * whole rows.
    */
  def withRepresentatives(clustered: DataFrame, orderCols: Seq[Column]): DataFrame =
    withSizesAndRepresentatives(clustered, orderCols, "__cluster_n").drop("__cluster_n")

  /** [[withRepresentatives]] plus each row's cluster size `sizeCol`, from
    * ONE partial-aggregating groupBy on `cluster_id` — `count` and the min
    * of a struct of the order keys (a descending key flipped, so min is
    * top-1), then `id` and the rest of the row — joined back once; the
    * representative is the row equal to that min. Top-1 is decomposable, so
    * the aggregate combines map-side: no task ever sees a whole cluster
    * (a window partitioned by cluster_id would pin a web-scale
    * mega-cluster — the empty page, a parked-domain template — to ONE task
    * every epoch, the straggler shape [[exactEdgesFrom]] avoids).
    */
  private[graft] def withSizesAndRepresentatives(clustered: DataFrame,
                                                 orderCols: Seq[Column],
                                                 sizeCol: String): DataFrame = {
    // the order keys, then the id and the rest of the row: the min is the
    // winning ROW, and both join sides read every column, so the
    // exchanges under them plan alike and run once (reused)
    val key = struct(orderCols.flatMap(ascendingKeys(clustered, _)).zipWithIndex
      .map { case (k, i) => k.as(s"__k$i") } ++
      (col("id") +: clustered.columns.filter(_ != "id").map(col)): _*)
    val elected = clustered.groupBy("cluster_id")
      .agg(count(lit(1)).as(sizeCol), min(key).as("__rep"))
    clustered.join(elected, "cluster_id")
      .select(clustered.columns.map(col) ++ Seq(col(sizeCol),
        (key === col("__rep")).as("is_representative")): _*)
  }

  /** One sort order as ascending struct fields, so a struct min elects
    * its first row: struct comparison orders each field ascending, nulls
    * first. A descending key is flipped (bitwise NOT for integers, which
    * cannot overflow; negation for decimals), and a nulls-last key gets an
    * `isnull` field in front.
    */
  private def ascendingKeys(df: DataFrame, order: Column): Seq[Column] =
    shim.sortOrder(order) match {
      case Some((key, descending, nullsLast)) =>
        val flipped =
          if (!descending) key
          else {
            val t = df.select(key).schema.head.dataType
            val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(t)
            require(integral || t.isInstanceOf[DecimalType],
              s"a descending representative key must be an integer or decimal column; $key is $t")
            if (integral) bitwise_not(key) else negate(key)
          }
        if (nullsLast) Seq(key.isNull, flipped) else Seq(flipped)
      case None => Seq(order)
    }
}
