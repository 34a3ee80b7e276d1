package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.Clustering
import graft.fingerprint.Fingerprints
import graft.lsh.LSH
import graft.pages.{Page, PagesGen, TruthPair}
import graft.pipeline.{DedupConfig, DedupPipeline}
import graft.state.{Checkpoints, Materializer}

/** One benchmark workload: inputs made from the seed, a timed step that
  * ends in committed clusters, and a traced composition of the same step.
  */
trait Workload {
  /** Input pages of one timed step (the numerator of docs_per_s). */
  def stepPages: Long
  /** Page ids the committed clusters must cover, each exactly once. */
  def ids: Set[String]
  def truth: Seq[TruthPair]
  /** Generate and materialize the inputs. Idempotent: a repeated set-up
    * replaces the previous one.
    */
  def setup(): Unit
  /** Build the state a step starts from, once, after [[setup]]. */
  def buildState(): Unit = ()
  /** Rows where extract(html) != text, over every materialized input. */
  def extractionMismatches(): Long
  /** Untimed preparation of a step's directory (a copy of base state). */
  def prepare(dir: Path): Unit = ()
  /** The timed step; returns gate problems it can see on its own. */
  def run(dir: Path): Seq[String]
  def committed(dir: Path): DataFrame
  /** The same step as sequential spans around each layer's public calls;
    * returns the funnel counts taken at the span boundaries and the gate
    * problems the step can see on its own.
    */
  def traced(tracer: Tracer, dir: Path): (Map[String, Double], Seq[String])
}

object Workloads {
  val Names: Seq[String] = Seq("flagship", "skew", "epoch")

  /** Corpus shape: base docs per workload (× 11 variants each) and tokens
    * per base doc. `skew` runs at SkewSpec's 22k-page tier; the epoch adds a
    * +10% slice to its base.
    */
  val TokensPerDoc = 200
  val FlagshipBase = 400L
  val SkewBase = 2000L
  val EpochBase = 200L

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "flagship" => new PipelineWorkload(spark, work, FlagshipBase,
        PagesGen.pages(spark, _, seed, TokensPerDoc),
        PagesGen.truthPairs(spark, _, seed))
      case "skew" => new PipelineWorkload(spark, work, SkewBase,
        PagesGen.skewPages(spark, _, seed, TokensPerDoc),
        PagesGen.skewTruthPairs(spark, _, seed))
      case "epoch" => new EpochWorkload(spark, work, seed, EpochBase)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }

  /** The read + extract projection every step starts from. */
  def pagesFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("url"), Fingerprints.extractText(col("html")).as("text"))

  def materialize(pages: Dataset[Page], path: Path): Unit =
    pages.toDF().write.mode("overwrite").parquet(path.toString)

  def mismatches(spark: SparkSession, path: Path): Long =
    spark.read.parquet(path.toString)
      .filter(Fingerprints.extractText(col("html")) =!= col("text")).count()

  def urls(spark: SparkSession, path: Path): Set[String] = {
    import spark.implicits._
    spark.read.parquet(path.toString).select("url").as[String].collect().toSet
  }

  /** Cluster-shape funnel counts of a committed clusters table. */
  def clusterFunnel(rows: Seq[ClusterRow]): Map[String, Double] = {
    val sizes = rows.groupBy(_.clusterId).values.map(_.length)
    Map("cluster.clusters" -> sizes.size.toDouble,
      "cluster.max_cluster" -> (if (sizes.isEmpty) 0 else sizes.max).toDouble,
      "cluster.singletons" -> sizes.count(_ == 1).toDouble)
  }

  def rowsOf(df: DataFrame): Seq[ClusterRow] =
    df.select(col("id"), col("cluster_id"), col("is_representative"), col("kind"))
      .collect().toSeq
      .map(r => ClusterRow(r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
}

/** `DedupPipeline.run` on fresh state over one generated corpus, ending in
  * a committed clusters table (`flagship` and `skew`).
  */
final class PipelineWorkload(spark: SparkSession, work: Path,
                             numBase: Long, gen: Long => Dataset[Page],
                             truthOf: Long => Dataset[TruthPair]) extends Workload {
  private val input = work.resolve("pages")
  private val cfg = DedupConfig()
  val stepPages: Long = numBase * PagesGen.variantKinds.length
  lazy val ids: Set[String] = Workloads.urls(spark, input)
  lazy val truth: Seq[TruthPair] = truthOf(numBase).collect().toSeq

  def setup(): Unit = Workloads.materialize(gen(numBase), input)
  def extractionMismatches(): Long = Workloads.mismatches(spark, input)

  def run(dir: Path): Seq[String] = {
    DedupPipeline.run(spark, Workloads.pagesFrame(spark, input.toString), "url", "text", cfg)
      .write.parquet(dir.resolve("clusters").toString)
    Nil
  }

  def committed(dir: Path): DataFrame = spark.read.parquet(dir.resolve("clusters").toString)

  /** `DedupPipeline.run`'s stages, each behind its own span and made eager
    * so its work lands inside the span. The composition reproduces run()'s
    * partition, representatives and kinds exactly; the caller checks that.
    */
  def traced(tracer: Tracer, dir: Path): (Map[String, Double], Seq[String]) = {
    val mat = Materializer.local
    val funnel = Map.newBuilder[String, Double]

    val pages = tracer.span("pages.scan_extract") {
      mat(Workloads.pagesFrame(spark, input.toString))
    }
    funnel += "pages.rows" -> pages.count().toDouble

    val dict = DedupPipeline.idDictionary(pages.select(col("url")))
    val keyed = pages.select(col("url").as("sid"), col("text").as("__text"))
      .join(dict, "sid").select("id", "__text")
    val (slim, hashGroups, sigsAll) = tracer.span("fingerprint.signatures") {
      val slim = mat(keyed.select(col("id"), length(col("__text")).as("order_len"),
        Fingerprints.contentHash(col("__text")).as("content_hash")))
      val hashGroups = slim.groupBy("content_hash")
        .agg(min(col("id")).as("id"), count(lit(1)).as("hash_n")).cache()
      val reps = keyed.join(hashGroups.select("id"), Seq("id"), "left_semi")
      val sigsAll = mat(DedupPipeline.signatures(
        reps.select(col("id"), col("__text"),
          substring(Fingerprints.normalized(col("__text")), 1, cfg.saMaxChars)
            .as("norm_text")),
        "id", "__text", cfg, carry = Seq("norm_text")))
      (slim, hashGroups, sigsAll)
    }
    funnel += "fingerprint.exact_groups" ->
      hashGroups.filter(col("hash_n") > 1).count().toDouble
    funnel += "fingerprint.rep_rows" -> sigsAll.count().toDouble

    val repSigs = sigsAll.drop("norm_text")
    val banded = DedupPipeline.fullBandRows(repSigs.filter(size(col("shingles")) > 0), cfg)
    // LSH.candidatePairs with nearEdges' caps; prune and combine vary
    def candidatePairs(prune: DataFrame => DataFrame, combine: DataFrame => DataFrame) =
      LSH.candidatePairs(banded, "id",
        hotThreshold = cfg.hotBucketThreshold, saltFactor = cfg.saltFactor,
        maxBucketSize = cfg.maxBucketSize, carry = Seq("simhash"), mat = mat,
        prune = prune,
        bucketCap = Some(when(col("band") >= cfg.bands, lit(cfg.containmentMaxBucket))
          .otherwise(lit(cfg.maxBucketSize))),
        combine = combine)
    // the very call nearEdges makes: Hamming prune except on the containment
    // channels, pairs folded by (id_a, id_b, hamming)
    val candidates = tracer.span("lsh.candidates") {
      candidatePairs(
        df => df
          .withColumn("hamming", Fingerprints.hamming(col("simhash_a"), col("simhash_b")))
          .filter(col("band") >= cfg.bands || col("hamming") <= cfg.simhashMaxHamming)
          .withColumn("cont_chan", col("band") >= cfg.bands)
          .select("id_a", "id_b", "hamming", "cont_chan"),
        _.groupBy("id_a", "id_b", "hamming").agg(max(col("cont_chan")).as("cont_chan")))
    }
    val bucketStats = banded.groupBy("band", "band_hash").count()
      .agg(count(lit(1)), max(col("count"))).head()
    val nCandidates = candidates.count()
    funnel += "lsh.band_rows" -> banded.count().toDouble
    funnel += "lsh.max_bucket" -> bucketStats.getLong(1).toDouble
    funnel += "lsh.capped_buckets" ->
      tracer.observedSum("lsh.candidates", "dropped").toDouble

    val near = tracer.span("pipeline.near_edges") {
      mat(DedupPipeline.nearEdges(spark, repSigs, cfg,
        Some(sigsAll.select("id", "norm_text")), mat))
    }
    val nEdges = near.count()
    funnel += "pipeline.verify.candidates" -> nCandidates.toDouble
    funnel += "pipeline.verify.edges" -> nEdges.toDouble
    funnel += "pipeline.verify.accept_ratio" ->
      (if (nCandidates > 0) nEdges.toDouble / nCandidates else 0.0)

    val clustered = tracer.span("cluster.union_find") {
      val exact = Clustering.exactEdgesFrom(slim.select("id", "content_hash"),
        hashGroups.select(col("content_hash"), col("id").as("root"), col("hash_n")),
        "id", "content_hash")
      mat(Clustering.clusters(spark, slim, "id", exact.union(near),
        cfg.maxUnionFindIters, mat))
    }
    funnel += "cluster.round_pairs" -> tracer.roundPairs("cluster.union_find").toDouble

    val coded = tracer.span("cluster.representatives") {
      val clusterSizes = clustered.groupBy("cluster_id").agg(count(lit(1)).as("cluster_n"))
      val labelled = clustered
        .join(slim, "id")
        .join(hashGroups.select("content_hash", "hash_n"), "content_hash")
        .join(clusterSizes, "cluster_id")
        .withColumn("kind",
          when(col("hash_n") > 1, lit("exact"))
            .when(col("cluster_n") > 1, lit("near"))
            .otherwise(lit("unique")))
      mat(Clustering.withRepresentatives(labelled, Seq(col("order_len").desc, col("id").asc))
        .select("id", "cluster_id", "is_representative", "kind"))
    }

    coded.join(dict, "id")
      .join(dict.select(col("id").as("cluster_id"), col("sid").as("cluster_sid")), "cluster_id")
      .select(col("sid").as("id"), col("cluster_sid").as("cluster_id"),
        col("is_representative"), col("kind"))
      .write.parquet(dir.resolve("clusters").toString)
    hashGroups.unpersist()
    dict.unpersist()

    // the same pairs with the channel family kept per pair (bit 1 minhash,
    // 2 prefix, 4 anchor), in an untimed pass after every span
    val chans = candidatePairs(
      df => df
        .filter(col("band") >= cfg.bands ||
          Fingerprints.hamming(col("simhash_a"), col("simhash_b")) <= cfg.simhashMaxHamming)
        .withColumn("chan",
          when(col("band") < cfg.bands, 1)
            .when(col("band") === cfg.bands + 1, 4).otherwise(2))
        .select("id_a", "id_b", "chan"),
      _.groupBy("id_a", "id_b").agg(bit_or(col("chan")).as("chans")))
      .agg(count(lit(1)),
        sum(when(col("chans").bitwiseAND(1) =!= 0, 1L).otherwise(0L)),
        sum(when(col("chans").bitwiseAND(2) =!= 0, 1L).otherwise(0L)),
        sum(when(col("chans").bitwiseAND(4) =!= 0, 1L).otherwise(0L))).head()
    funnel += "lsh.candidates_minhash" -> chans.getLong(1).toDouble
    funnel += "lsh.candidates_prefix" -> chans.getLong(2).toDouble
    funnel += "lsh.candidates_anchor" -> chans.getLong(3).toDouble
    val problems =
      if (chans.getLong(0) == nCandidates) Nil
      else Seq(s"channel pass found ${chans.getLong(0)} pairs, lsh.candidates $nCandidates")
    (funnel.result(), problems)
  }
}

/** One delta `clusterEpoch` over a +10% slice on a copy of a base state
  * built in set-up, with the whole batch as `textsOf`.
  */
final class EpochWorkload(spark: SparkSession, work: Path, seed: Long, numBase: Long)
    extends Workload {
  private val batchBase = numBase * 11 / 10
  private val basePages = work.resolve("base_pages")
  private val batchPages = work.resolve("batch_pages")
  private val slicePages = work.resolve("slice_pages")
  private val baseState = work.resolve("base_state")
  private val cfg = DedupConfig(deltaCluster = true)
  val stepPages: Long = (batchBase - numBase) * PagesGen.variantKinds.length
  lazy val ids: Set[String] = Workloads.urls(spark, batchPages)
  lazy val truth: Seq[TruthPair] =
    PagesGen.truthPairs(spark, batchBase, seed).collect().toSeq

  private def frame(p: Path) = Workloads.pagesFrame(spark, p.toString)

  def setup(): Unit = {
    Workloads.materialize(PagesGen.pages(spark, numBase, seed, Workloads.TokensPerDoc), basePages)
    Workloads.materialize(PagesGen.pages(spark, batchBase, seed, Workloads.TokensPerDoc), batchPages)
    spark.read.parquet(batchPages.toString)
      .join(spark.read.parquet(basePages.toString).select("url"), Seq("url"), "left_anti")
      .write.mode("overwrite").parquet(slicePages.toString)
  }

  override def buildState(): Unit =
    Checkpoints.clusterEpoch(spark, frame(basePages), "url", "text", baseState.toString, cfg)

  def extractionMismatches(): Long = Workloads.mismatches(spark, batchPages)

  override def prepare(dir: Path): Unit = Dirs.copy(baseState, dir)

  def run(dir: Path): Seq[String] = {
    val (nNew, _) = Checkpoints.clusterEpoch(spark, frame(slicePages), "url", "text",
      dir.toString, cfg, textsOf = Some(frame(batchPages)))
    newRowProblems(nNew)
  }

  private def newRowProblems(nNew: Long): Seq[String] =
    if (nNew == stepPages) Nil
    else Seq(s"epoch ingested $nNew new rows, the slice holds $stepPages")

  def committed(dir: Path): DataFrame =
    spark.read.parquet(Checkpoints.clustersPath(dir.toString))

  /** The epoch as its two state-layer calls: the ingest, then the
    * re-cluster, whose own ingest then finds nothing new.
    */
  def traced(tracer: Tracer, dir: Path): (Map[String, Double], Seq[String]) = {
    val slice = frame(slicePages)
    val nSlice = slice.count()
    val (nNew, nQuarantined) = tracer.span("state.ingest") {
      Checkpoints.runEpoch(spark, slice, "url", "text", dir.toString, cfg)
    }
    tracer.span("state.recluster") {
      Checkpoints.clusterEpoch(spark, frame(slicePages), "url", "text", dir.toString, cfg,
        textsOf = Some(frame(batchPages)))
    }
    (Map(
      "pages.rows" -> nSlice.toDouble,
      "state.ingest.new_rows" -> nNew.toDouble,
      "state.ingest.quarantined" -> nQuarantined.toDouble,
      "state.ingest.sig_rows" ->
        tracer.observedSum("state.ingest", "n_rows", _ == "sig_metrics").toDouble,
      "lsh.capped_buckets" -> tracer.observedSum("state.recluster", "dropped").toDouble,
      "cluster.round_pairs" -> tracer.roundPairs("state.recluster").toDouble),
      newRowProblems(nNew))
  }
}
