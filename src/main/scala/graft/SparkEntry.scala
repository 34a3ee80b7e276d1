package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.actions.Actions
import graft.ann.Ann
import graft.cluster.PairScoring
import graft.fingerprint.{Fingerprints => FP}
import graft.lsh.LSH
import graft.multimodal.Multimodal
import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}
import graft.streaming.StreamOps
import graft.text.TextAnalysis

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * plus the training-data-pipeline suite (dedup / similarity search /
  * multimodal / text analysis). Every oracle-expressible query has a
  * DuckDB-equivalent in [[SparkEntry.oracleSql]]; signature/LSH/pipeline
  * queries (hash internals not reproducible in SQL) get rows-only checks
  * and are instead validated by the planted-ground-truth ScalaTest suite.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Temp scratch for queries that must round-trip through a real
    * source/sink (jsonl export, sub-document hash state): the returned
    * frame reads from the dir LAZILY, so it can only be reclaimed at JVM
    * exit — the shutdown hook keeps repeated Verify/Bench sessions from
    * accumulating orphaned scratch on disk.
    */
  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Exception => () }
    }
    d.toString
  }

  /** PER-VECTOR invariant frame for an ANN operator: one row per input
    * vec_id carrying that vector's rank/count/cosine booleans, plus the
    * global recall@k bound vs the exact brute-force baseline. The DuckDB
    * oracle independently enumerates the vec_id set and pins every boolean
    * TRUE. The booleans are CROSS-IMPLEMENTATION checks: every reported
    * (cos, rank) is recomputed from the raw vectors with plain SQL
    * building blocks only — posexplode → quantized integer dot product →
    * window re-rank — none of Ann.scala's column helpers participate, so a
    * perturbed cosine, a mis-assigned rank, a duplicated output row, or a
    * phantom neighbor id flips a REAL oracle row for that vector (proved
    * by fault injection in AnnSpec). Scope limit, precisely: a query
    * vector whose output the operator DROPPED entirely does not flip its
    * own row (the left join coalesces absent-output to trivially valid —
    * no per-vector output floor is analytically guaranteed, since a vector
    * can legitimately be alone in its probe buckets); mass drops are
    * caught by the recall@k bound, which flips EVERY row when breached.
    */
  private[graft] def annInvariants(s: SparkSession, vecs: DataFrame,
                            op: DataFrame => DataFrame,
                            recallBound: Double, recallCol: String): DataFrame = {
    // materialize both operator outputs ONCE instead of re-running the ANN
    // (and the O(n²) baseline) per aggregate
    val knn = op(vecs).localCheckpoint()
    val bf = Ann.bruteForceKnn(vecs, vecs, "vec_id", "embedding", k = 3)
      .localCheckpoint()
    val recall = knn.select("id", "nbr_id").intersect(bf.select("id", "nbr_id"))
      .count().toDouble / bf.count()

    // independent recheck path: same quantization contract as the oracle
    // (round(x*1000) integer dots, cos rounded to 6 decimals — exact and
    // order-independent, so agreement is equality, not tolerance-fudging)
    val q = vecs.select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "idx", "v")
      .select(col("vec_id"), col("idx"),
        round(col("v").cast("double") * 1000).cast("long").as("qv"))
    val norms = q.groupBy("vec_id")
      .agg(sqrt(sum(col("qv") * col("qv")).cast("double")).as("nrm"))
    val dots = knn
      .join(q.select(col("vec_id").as("id"), col("idx"), col("qv").as("qa")), Seq("id"))
      .join(q.select(col("vec_id").as("nbr_id"), col("idx"), col("qv").as("qb")),
        Seq("nbr_id", "idx"))
      .groupBy("id", "nbr_id", "cos", "rank")
      .agg(sum(col("qa") * col("qb")).as("dot"))
    val indep = dots
      .join(norms.select(col("vec_id").as("id"), col("nrm").as("na")), "id")
      .join(norms.select(col("vec_id").as("nbr_id"), col("nrm").as("nb")), "nbr_id")
      .withColumn("cos_indep",
        round(when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(col("dot").cast("double") / (col("na") * col("nb"))), 6))
      .withColumn("rank_indep", row_number().over(
        Window.partitionBy("id").orderBy(col("cos_indep").desc, col("nbr_id").asc)))
    // a phantom nbr_id (no matching raw vector) loses its rows in the
    // joins above, leaving a hole in the surviving rank sequence that the
    // re-rank then exposes as a mismatch
    val perVec = indep.groupBy("id").agg(
      (sum(when(col("rank") === col("rank_indep"), 0).otherwise(1)) === 0 &&
        min(col("rank")) >= 1 && max(col("rank")) <= 3).as("ranks_valid"),
      (count(lit(1)) <= 3).as("per_id_le_k"),
      (max(abs(col("cos") - col("cos_indep"))) < lit(1e-9) &&
        max(abs(col("cos"))) <= 1.000001).as("cos_bounded"))
    vecs.select(col("vec_id").as("id"))
      .join(perVec, Seq("id"), "left") // vectors with no neighbors: trivially valid
      .select(col("id"),
        coalesce(col("ranks_valid"), lit(true)).as("ranks_valid"),
        coalesce(col("per_id_le_k"), lit(true)).as("per_id_le_k"),
        coalesce(col("cos_bounded"), lit(true)).as("cos_bounded"),
        lit(recall >= recallBound).as(recallCol))
  }

  /** PER-VECTOR invariant frame for [[Ann.semDeDup]] (A22). Same contract
    * as [[annInvariants]]: one row per input vec_id, every boolean pinned
    * TRUE by a DuckDB oracle that independently enumerates the vec_id set.
    * The τ-edge set is RECOMPUTED here from the raw vectors with plain SQL
    * building blocks only (posexplode → integer dot → norms → round-6
    * cosine), scoped to the operator's own cell assignment — none of
    * Ann.scala's helpers participate — so the checks are
    * cross-implementation, not self-agreement:
    *  - covered: the verdict has exactly one row for this vector;
    *  - one_keep: its component keeps exactly one member, and kept_by is
    *    constant across the component;
    *  - keeper_farthest: the kept member minimizes (centroid_cos, id) —
    *    the SemDeDup keeper rule, checked against the verdict's own
    *    centroid column;
    *  - dropped_connected: a dropped vector has ≥1 independent τ-edge
    *    (nothing is ever discarded without evidence);
    *  - edges_within_cluster: no independent τ-edge crosses components —
    *    an edge the operator MISSED would put its endpoints in different
    *    components and flip both rows;
    *  - exact_dups_coclustered: vectors with bit-identical quantized
    *    embeddings share a component (the recall floor: cos=1 pairs can
    *    never be split, since identical vectors always land in the same
    *    cell and pair at cosine 1). Zero-norm duplicates are exempt
    *    (pairCos defines their cosine as 0 — they legitimately stay
    *    apart), as are members beyond the operator's inverted-list cap
    *    (they pair with no one by spec; the checker replicates the
    *    deterministic cap rank via `maxListSize`).
    * The pair attach below is hand-written, not [[graft.cluster.PairScoring]]:
    * `semDeDup` scores through that operator, and a checker must not share
    * the code it checks.
    */
  private[graft] def semDedupInvariants(s: SparkSession, vecs: DataFrame,
                            op: DataFrame => DataFrame, tau: Double,
                            maxListSize: Int = 100000): DataFrame = {
    val out = op(vecs).localCheckpoint()
    // an output row whose id is NOT in vecs would be invisible to the
    // per-id joins below (they start from the vecs side) — a phantom-id
    // count folded into `covered` makes any insertion flip every row,
    // while deletions stay per-row local through n_rows
    val noPhantoms = out.join(
      vecs.select(col("vec_id").as("id")), Seq("id"), "left_anti").isEmpty

    // independent τ-edge recompute within the operator's cells. The
    // quantized vector / norm / dot algebra uses plain SQL building blocks
    // only (transform → zip_with → aggregate) — none of Ann.scala's column
    // helpers participate, so the checks stay cross-implementation. The
    // per-pair array dot is value-identical to the previous
    // posexplode-join-groupBy-sum form (coalesce(x*y, 0) replicates sum()'s
    // null-skipping; positions past the shorter array pad to null → 0,
    // exactly the rows the position inner join excluded) but the pair join
    // now runs on slim (cell, id) rows with the d-element arrays attached
    // only per surviving pair — the exploded form shuffled
    // |cell|²·d/2 rows through the (cell, idx) self-join.
    val qarr = vecs.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("qv"))
    val norms = qarr.select(col("vec_id"),
      sqrt(aggregate(col("qv"), lit(0L),
        (acc, x) => acc + coalesce(x * x, lit(0L))).cast("double")).as("nrm"))
    // replicate the operator's DETERMINISTIC inverted-list cap (its
    // documented spec: the xxhash64-ranked first maxListSize members of
    // each cell pair, the rest become singleton keeps) — without this, a
    // triggered cap would make the recompute see edges the operator is
    // defined NOT to score, failing a correct run
    val listed = out.select(col("id"), col("cell"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy("cell").orderBy(xxhash64(col("id")), col("id"))))
      .filter(col("lrank") <= maxListSize)
      .select(col("id").as("vec_id"))
    val cellMembers = out.select(col("id").as("vec_id"), col("cell"))
      .join(listed, "vec_id")
    val edges = cellMembers
      .select(col("cell"), col("vec_id").as("a"))
      .join(cellMembers.select(col("cell"), col("vec_id").as("b")), Seq("cell"))
      .filter(col("a") < col("b"))
      // pinned-count exchange on the pair key before the arrays attach
      // (PairScoring's scaladoc gives the reason); values unchanged
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("a"), col("b"))
      .join(qarr.select(col("vec_id").as("a"), col("qv").as("qa")), "a")
      .join(qarr.select(col("vec_id").as("b"), col("qv").as("qb")), "b")
      .withColumn("dot", aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + coalesce(x, lit(0L))))
      .join(norms.select(col("vec_id").as("a"), col("nrm").as("na")), "a")
      .join(norms.select(col("vec_id").as("b"), col("nrm").as("nb")), "b")
      .withColumn("cos",
        round(when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(col("dot").cast("double") / (col("na") * col("nb"))), 6))
      .filter(col("cos") >= tau)
      .select("a", "b").localCheckpoint()

    // per-component aggregates from the verdict
    val perCluster = out.groupBy("sem_cluster").agg(
      (sum(when(col("keep"), 1).otherwise(0)) === 1 &&
        countDistinct(col("kept_by")) === 1).as("c_one_keep"),
      (min(struct(col("centroid_cos"), col("id"))).getField("id")
        === first(col("kept_by"))).as("c_keeper_farthest"))

    // endpoint sets from the independent edges
    val connected = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
      .withColumn("has_edge", lit(true))
    val crossing = edges
      .join(out.select(col("id").as("a"), col("sem_cluster").as("ca")), "a")
      .join(out.select(col("id").as("b"), col("sem_cluster").as("cb")), "b")
      .filter(col("ca") =!= col("cb"))
    val crossingIds = crossing.select(col("a").as("id"))
      .union(crossing.select(col("b").as("id"))).distinct()
      .withColumn("crosses", lit(true))

    // exact-duplicate groups: bit-identical quantized embeddings. Zero-norm
    // vectors are excluded — pairCos defines their cosine as 0, so two
    // identical zero vectors legitimately stay apart; and so are list-cap
    // casualties, which pair with no one by the operator's spec
    val vhash = vecs.select(col("vec_id"),
      xxhash64(transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long"))).as("vh"))
    val dupGroups = vhash
      .join(norms.filter(col("nrm") > 0.0).select("vec_id"), "vec_id")
      .join(listed, "vec_id")
      .join(out.select(col("id").as("vec_id"), col("sem_cluster")), "vec_id")
      .groupBy("vh").agg(countDistinct(col("sem_cluster")).as("n_comp"))

    vecs.select(col("vec_id").as("id")).join(vhash.withColumnRenamed("vec_id", "id"), "id")
      .join(out.groupBy("id").agg(count(lit(1)).as("n_rows"),
        first(col("sem_cluster")).as("sem_cluster"), first(col("keep")).as("keep"),
        first(col("kept_by")).as("kept_by")), Seq("id"), "left")
      .join(perCluster, Seq("sem_cluster"), "left")
      .join(connected, Seq("id"), "left")
      .join(crossingIds, Seq("id"), "left")
      .join(dupGroups, Seq("vh"), "left")
      .select(col("id"),
        (lit(noPhantoms) && coalesce(col("n_rows"), lit(0L)) === 1 &&
          col("keep") === (col("id") === col("kept_by"))).as("covered"),
        coalesce(col("c_one_keep"), lit(false)).as("one_keep"),
        coalesce(col("c_keeper_farthest"), lit(false)).as("keeper_farthest"),
        (col("keep") || coalesce(col("has_edge"), lit(false)))
          .as("dropped_connected"),
        (!coalesce(col("crosses"), lit(false))).as("edges_within_cluster"),
        (coalesce(col("n_comp"), lit(1L)) === 1).as("exact_dups_coclustered"))
  }

  /** Flagship query: full near-dup detection + clustering over the
    * deterministic synthetic pages corpus (BASELINE.json input_hint shape).
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesGen.pages(spark, numBase = 40L, seed = 42L, tokensPerDoc = 200).toDF()
    DedupPipeline.run(spark, pages, "url", "text", DedupConfig())
  }

  /** A15 mix-oracle fixtures, shared between the Spark queries and the
    * interpolated DuckDB SQL so the integer thresholds are computed ONCE
    * (CorpusMix.thresholdFor) and can never drift between the engines.
    * src0 keeps everything, src1 half, src2 nothing, the rest the default
    * rate; the budgets hit all three regimes (cuts / above-supply / zero).
    */
  private val MixRates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
  private val MixDefaultRate = 0.25
  private val MixBudgets = Map("src0" -> 700L, "src1" -> 100000L, "src2" -> 0L)
  // up-sampling rates hit every regime: integer+fraction (2.5), exactly-1,
  // pure fraction (0.25), and a zero default dropping the other 17 sources
  private val MixUpRates = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25)
  // A20 union-mix rates key on the corpus TAG, not a column of either table
  private val MixUnionRates = Map("docs" -> 0.6, "parts" -> 0.35)
  private def mixU60SqlOn(idExpr: String, salt: String): String =
    s"CAST(('0x' || substr(sha256($idExpr || '$salt'), 1, 15)) AS UBIGINT)"
  private def mixU60Sql(salt: String): String =
    mixU60SqlOn("CAST(doc_id AS VARCHAR)", salt)

  /** Word-set Jaccard ≥ 0.5 pairs (id_a < id_b) within each `source`:
    * `q_ngram_jaccard`'s rows and `q_union_find`'s edge set.
    */
  private def wordJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pairs = d.select(col("doc_id").as("id_a"), col("source"))
      .join(d.select(col("doc_id").as("id_b"), col("source")), Seq("source"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val words = d.select(col("doc_id").as("id"),
      array_distinct(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
        .as("words"))
    PairScoring.withSides(pairs, words)
      .withColumn("inter", size(array_intersect(col("words_a"), col("words_b"))).cast("long"))
      .withColumn("jaccard", col("inter") / (size(col("words_a")) + size(col("words_b")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── relational core (SURVEY.md §2.1-2.7) ────────────────────────────

    // A1/A2: hash-agg with partial aggregation (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          avg("l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // F1-F7: predicate + projection pushdown to the parquet scan
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("lang") === "en" && col("n_chars").between(200, 400))
        .select("doc_id", "source", "n_chars")
    }),

    // J1: incremental anti-join — the resume primitive
    "q_anti_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = t(s, dir, "embeddings").filter(col("label") < 5)
        .select(col("vec_id").as("doc_id"))
      docs.join(seen, Seq("doc_id"), "left_anti").select("doc_id", "lang")
    }),

    // J1 at the 10^12-doc posture: the resume anti-join with the state
    // side pre-pruned through a Bloom sketch of the slice's keys
    // (state/SlicePrune.scala). The sketch is DELIBERATELY undersized
    // (50 expected items for a ~170-key slice, fpp 0.3) so false
    // positives are guaranteed live in this query — the oracle match
    // proves the prune is structurally exact, not probabilistically
    // lucky: fps only feed extra rows into the exact join that drops
    // them, and Bloom false negatives are impossible.
    "q_state_prefilter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val state = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id")
      val slice = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "lang")
      val pruned = graft.state.SlicePrune.pruneByKeys(
        state, "doc_id", slice.select("doc_id"), "doc_id",
        expectedItems = 50L, fpp = 0.3)
      slice.join(pruned, Seq("doc_id"), "left_anti").select("doc_id", "lang")
    }),

    // J1-dual: semi join (EXISTS)
    "q_semi_join" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_size") > 30)
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey"))
      part.join(li, Seq("p_partkey"), "left_semi").select("p_partkey", "p_brand")
    }),

    // S1/S2 + F1-F7: the composed discovery scan — multi-root fan-out with
    // the full filter battery (excluded prefixes, lang allowlist, non-empty
    // text), every predicate scan-pushable
    "q_discovery" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val roots = Seq(d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0))
      graft.discovery.Discovery.discover(roots, "source", "text", "lang",
        excludedPrefixes = Seq("src1"),
        supportedLangs = Seq("en", "de", "fr"))
        .select("doc_id", "source", "lang")
    }),

    // S8/S9: deterministic html → text extraction (tag strip, boilerplate
    // block drop, whitespace collapse) cross-checked against the expected
    // normalized text the wrapping was built from
    "q_extract_text" -> ((s, dir) => {
      val cleanT = regexp_replace(col("text"), "[<>&]", " ")
      val html = concat(
        lit("<html><head><title>t</title></head><body><nav>menu</nav><p>"),
        cleanT, lit("</p><footer>f</footer></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), FP.extractText(html.cast("binary")).as("extracted"))
    }),

    // S1/S5 crawl-native ingest: documents → WARC containers (gzip member
    // per record, Common-Crawl layout) → DSv2 `format("warc")` read-back.
    // Proves byte-exact payload transport through container + gzip + HTTP
    // framing: the oracle recomputes sha/byte-length/epoch straight from
    // the source table. The fixture BUILD is driver-side (500 rows at
    // verify scale — fixture construction, not the operator); the READ is
    // the distributed operator under test, one partition per container.
    "q_warc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-warc-oracle")
      if (java.nio.file.Files.exists(out))
        java.nio.file.Files.walk(out).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(out)
      val nFiles = 8
      (0 until nFiles).foreach { part =>
        val recs = docs.filter(_._1 % nFiles == part).sortBy(_._1).map {
          case (id, text) =>
            (s"https://corpus.test/doc/$id",
              java.time.Instant.ofEpochSecond(1700000000L + id),
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }.toSeq
        val f = new java.io.FileOutputStream(
          out.resolve(f"part-$part%02d.warc.gz").toFile)
        try graft.sources.warc.Warc.write(f, recs, gzipPerRecord = true)
        finally f.close()
      }
      s.read.format("warc").load(out.toString)
        .select(col("url"),
          unix_timestamp(col("warc_ts")).as("epoch_sec"),
          sha2(col("html"), 256).as("payload_sha"),
          length(col("html")).cast("long").as("n_bytes"),
          col("http_status"))
    }),

    // web-native identity (X-class scalar, round 5): canonicalization +
    // SURT over four planted respelling shapes (casing, default ports,
    // userinfo, trailing host dot, dup slashes, tracking params, param
    // order, fragments); the oracle states the expected canonical/SURT
    // form per shape in closed form
    "q_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val messy = when(id % 4 === 0,
        concat(lit("HTTPS://Example.COM:443//d/"), ids, lit("?utm_source=x&b=2&a=1#frag")))
        .when(id % 4 === 1, concat(lit("http://News.example.com./d/"), ids))
        .when(id % 4 === 2, concat(lit("http://user@host.org:80/p//"), ids, lit("?gclid=1")))
        .otherwise(concat(lit("http://e.net:8080/"), ids))
      t(s, dir, "documents").select(id,
        graft.text.UrlCanon.urlCanon(messy).as("url_canon"),
        graft.text.UrlCanon.urlSurt(messy).as("url_surt"))
    }),

    // per-site rollup (A-class, round 5): SURT site key → pages per site.
    // The aggregation behind per-site quotas/caps in a training-data
    // pipeline (and the partition key for site-contiguous exports): the
    // SURT prefix before ')' IS the site, so this is one hash-agg —
    // no URL re-parsing downstream of the key
    "q_site_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val messy = when(id % 4 === 0,
        concat(lit("HTTPS://Example.COM:443//d/"), ids, lit("?utm_source=x&b=2&a=1#frag")))
        .when(id % 4 === 1, concat(lit("http://News.example.com/d/"), ids))
        .when(id % 4 === 2, concat(lit("http://user@host.org:80/p//"), ids, lit("?gclid=1")))
        .otherwise(concat(lit("http://e.net:8080/"), ids))
      t(s, dir, "documents")
        .select(substring_index(
          graft.text.UrlCanon.urlSurt(messy), ")", 1).as("site"), id)
        .groupBy("site")
        .agg(count(lit(1)).as("n_pages"),
          min(id).as("min_doc"), max(id).as("max_doc"))
    }),

    // A11 per-site quota (beyond-reference, round 5): the four respelled
    // site classes from q_site_stats each cap at 30 pages with doc_id-asc
    // priority — kept ⟺ rank within the site = doc_id div 4 < 30, stated
    // in closed form by the oracle. Respellings (case/ports/userinfo)
    // must NOT split a site's quota: class 0 mixes them by construction.
    "q_site_cap" -> ((s, dir) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val messy = when(id % 4 === 0,
        concat(lit("HTTPS://Example.COM:443//d/"), ids, lit("?utm_source=x&b=2&a=1#frag")))
        .when(id % 4 === 1, concat(lit("http://News.example.com/d/"), ids))
        .when(id % 4 === 2, concat(lit("http://user@host.org:80/p//"), ids, lit("?gclid=1")))
        .otherwise(concat(lit("http://e.net:8080/"), ids))
      graft.text.SiteQuota.capPerSite(
          t(s, dir, "documents").select(id, messy.as("url")),
          "url", cap = 30, order = Seq(col("doc_id").asc))
        .select(col("doc_id"), graft.text.SiteQuota.siteKey(col("url")).as("site"))
    }),

    // sub-document dedup (beyond-reference, round 5): corpus-wide repeated
    // paragraphs drop, first occurrence by (doc, pos) survives — the
    // CCNet/RefinedWeb boilerplate-removal pass. Fixture: every doc gets a
    // shared header paragraph, its own unique body, and (even ids) a
    // shared footer; the oracle states keep/drop in closed form
    "q_para_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val synth = concat(lit("SHARED HEADER\n\nDOC "), col("doc_id").cast("string"),
        lit(" "), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n\nSHARED FOOTER")).otherwise(lit("")))
      graft.text.ParagraphDedup.dedupParagraphs(
        d.select(col("doc_id"), synth.as("text")), "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          sha2(col("text"), 256).as("clean_sha"))
    }),

    // §2.7: multi-root union (discovery fan-out)
    "q_union_multiroot" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("lang") === "de").select("doc_id", "lang")
        .union(d.filter(col("lang") === "fr").select("doc_id", "lang"))
        .distinct()
    }),

    // W1/T1: representative selection window (priority-rule original pick)
    "q_window_top1" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("source", "doc_id", "n_chars")
    }),

    // J5/A1: exact-duplicate grouping by content hash (hash-agg count+min,
    // no collect_list — scale-safe for mega groups; Clustering.exactEdgesFrom
    // derives its edges from this same aggregate shape)
    "q_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), FP.contentHash(col("text")).as("content_hash"))
        .groupBy("content_hash")
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("rep_id"))
    }),

    // J3: full-outer consistency diagnosis
    "q_full_outer_diag" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("n_chars") > 450)
        .select(col("doc_id").as("id"), lit(1L).as("has_doc"))
      val e = t(s, dir, "embeddings").filter(col("label") >= 8)
        .select(col("vec_id").as("id"), lit(1L).as("has_vec"))
      d.join(e, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("has_doc"), lit(0L)).as("has_doc"),
          coalesce(col("has_vec"), lit(0L)).as("has_vec"))
    }),

    // X5: Hamming distance kernel (bit_count(a^b)) on integer columns
    "q_hamming" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          FP.hamming(col("l_orderkey"), col("l_partkey")).cast("long").as("hamming_dist"))
        .filter(col("hamming_dist") <= 6)
    }),

    // stage 7: action planning over a clusters frame (reference ActionType/
    // ActionResult, types.rs:86-114; executor stub action.rs:1) — here over
    // window-derived representative groups so DuckDB can oracle it
    "q_actions_plan" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val clusters = t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id").as("id"), col("source").as("cluster_id"),
          (col("rn") === 1).as("is_representative"))
      Actions.plan(clusters, "symlink", dryRun = true)
        .select("id", "original_id", "action", "dry_run")
    }),

    // stage 7 executor: fill ActionResult success/error against a live-id
    // universe (validate-exists; reference types.rs:99-114, executor stub
    // action.rs:1). Universe drops every 7th doc to exercise the error path.
    "q_actions_execute" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val clusters = t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id").as("id"), col("source").as("cluster_id"),
          (col("rn") === 1).as("is_representative"))
      val plan = Actions.plan(clusters, "delete", dryRun = false)
      val universe = t(s, dir, "documents")
        .filter(col("doc_id") % 7 =!= 3).select(col("doc_id").as("id"))
      Actions.execute(plan, universe)
    }),

    // suffix-array substring pass kernel (north_rule): prefix-in-document
    // containment decided by generalized-suffix-array LCS, cross-checked
    // against DuckDB's exact substring `contains`. ORACLE DEMO: the
    // within-source all-pairs join exists to exercise the SA kernel against
    // an exact oracle; in the pipeline the kernel runs only on the
    // containment-gated ambiguous slice of LSH candidates.
    "q_substring_containment" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("id_a"), col("source"))
        .join(d.select(col("doc_id").as("id_b"), col("source")), Seq("source"))
        .select("id_a", "id_b")
      PairScoring.withSides(pairs,
          d.select(col("doc_id").as("id"), FP.normalized(col("text")).as("nt")))
        .withColumn("pa", substring(col("nt_a"), 1, 120))
        .filter(FP.saLcs(col("pa"), col("nt_b")) === length(col("pa")))
        .select("id_a", "id_b")
    }),

    // T1/T3: deterministic top-k
    "q_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(20)
        .select("doc_id", "n_chars")
    }),

    // A2: state-table stats (get_db_stats analog)
    "q_db_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    }),

    // broadcast star join: small dim broadcast to fact scan
    "q_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    }),

    // A24 jsonl loader round-trip: export the documents table as gzipped
    // JSON-LINES shards (the A19 writer), read it back through the
    // PagesIO `jsonl` ingestion format (declared schema — zero inference
    // pass), and aggregate per lang. The oracle recomputes the same
    // aggregates from the parquet source directly, so a row lost, a
    // string mangled by the json escape/parse cycle, or an n_tokens
    // drift between writer and reader flips a real DuckDB row.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(concat(lit("doc-"), col("doc_id")).as("url"),
          col("text"), col("lang"))
      val out = scratchDir("graft-jsonl-rt")
      graft.mix.ShardedExport.exportShardsJsonl(s, docs, "url", "text", out,
        nShards = 8)
      graft.pages.PagesIO.read(s, out, "jsonl")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_urls"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("n_tokens")).as("sum_tokens"))
    }),

    // ── text analysis suite ─────────────────────────────────────────────

    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.punctCount(col("text")).as("n_punct"))
    }),

    "q_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.docFingerprint(col("text")).as("fingerprint"))
    }),

    // C4 sentence-span dedup (beyond-reference, round 5): every doc embeds
    // the same 3-sentence block between unique sentences; only the pure
    // shared window duplicates corpus-wide, so the first doc keeps it and
    // every other doc drops exactly those 3 sentences — stated in closed
    // form by the oracle (mixed unique+shared windows stay unique, pinning
    // the coverage logic, not just the hashing)
    "q_span_dedup" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val synth = concat(
        lit("Alpha "), id, lit(" one. Beta "), id, lit(" two. "),
        lit("Shared sentence ex. Shared sentence why. Shared sentence zed. "),
        lit("Gamma "), id, lit(" three."))
      graft.text.SpanDedup.dedupSpans(
          t(s, dir, "documents").select(col("doc_id"), synth.as("text")),
          "doc_id", "text")
        .select(col("doc_id"), col("n_sents"), col("n_dropped"),
          sha2(col("text"), 256).as("clean_sha"))
    }),

    // Cross-epoch sub-document state (round 5): the corpus splits into two
    // epochs (even doc_ids first, then odd); epoch 1's elected paragraph
    // hashes are published by its ingest's manifest line and epoch 2 elects
    // against them. The oracle states the EPOCH-ORDERED batch semantics in
    // closed form — a paragraph seen in epoch 1 loses in EVERY epoch-2 doc, an
    // epoch-2-only paragraph elects fresh — so incremental ≡ batch is
    // checked through the real state round-trip, not in-memory frames.
    "q_subdoc_para" -> ((s, dir) => {
      val synth = concat(lit("CORPUS HEADER\n\nDOC "), col("doc_id").cast("string"),
        lit(" "), col("text"),
        when(col("doc_id") % 2 === 1, lit("\n\nLATE FOOTER")).otherwise(lit("")))
      val all = t(s, dir, "documents").select(col("doc_id"), synth.as("text"))
      val e1 = all.filter(col("doc_id") % 2 === 0)
      val e2 = all.filter(col("doc_id") % 2 === 1)
      val state = scratchDir("graft-subdoc-q")
      val (clean1, elected) =
        graft.state.SubDocState.dedupParagraphsIncremental(s, state, e1, "doc_id", "text")
      graft.state.Checkpoints.runEpoch(s, clean1, "doc_id", "text", state,
        elections = Seq(elected))
      val seen = graft.state.Checkpoints.readTable(s, state, "paras")
      clean1
        .unionByName(
          graft.text.ParagraphDedup.dedupParagraphs(e2, "doc_id", "text", seen = seen))
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          sha2(col("text"), 256).as("clean_sha"))
    }),

    // Same contract at sentence-span granularity: the shared 3-sentence run
    // is seen from epoch 1 (every odd doc drops it), the "Late run" block
    // exists only in odd docs so it elects fresh in epoch 2 (first odd doc
    // keeps it; later odd docs drop positions covered by all its straddling
    // loser spans — the closed form pins the coverage union too).
    "q_subdoc_span" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val synth = concat(
        lit("Alpha "), id, lit(" one. Beta "), id, lit(" two. "),
        lit("Shared sentence ex. Shared sentence why. Shared sentence zed. "),
        when(col("doc_id") % 2 === 1,
          lit("Late run ex. Late run why. Late run zed. ")).otherwise(lit("")),
        lit("Gamma "), id, lit(" three."))
      val all = t(s, dir, "documents").select(col("doc_id"), synth.as("text"))
      val e1 = all.filter(col("doc_id") % 2 === 0)
      val e2 = all.filter(col("doc_id") % 2 === 1)
      val state = scratchDir("graft-subdoc-q")
      val (clean1, elected) =
        graft.state.SubDocState.dedupSpansIncremental(s, state, e1, "doc_id", "text")
      graft.state.Checkpoints.runEpoch(s, clean1, "doc_id", "text", state,
        elections = Seq(elected))
      val seen = graft.state.Checkpoints.readTable(s, state, "spans")
      clean1
        .unionByName(
          graft.text.SpanDedup.dedupSpans(e2, "doc_id", "text", seen = seen))
        .select(col("doc_id"), col("n_sents"), col("n_dropped"),
          sha2(col("text"), 256).as("clean_sha"))
    }),

    // A14 host blocklist (beyond-reference, round 5): blocking example.com
    // drops class 0 (respellings collapse to one host key) AND class 1
    // (news.example.com — a subdomain, matched via the SURT ancestor
    // chain); host.org / e.net survive. Closed form by doc_id class.
    "q_block_hosts" -> ((s, dir) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val messy = when(id % 4 === 0,
        concat(lit("HTTPS://Example.COM:443//d/"), ids, lit("?utm_source=x&b=2&a=1#frag")))
        .when(id % 4 === 1, concat(lit("http://News.example.com/d/"), ids))
        .when(id % 4 === 2, concat(lit("http://user@host.org:80/p//"), ids, lit("?gclid=1")))
        .otherwise(concat(lit("http://e.net:8080/"), ids))
      graft.text.HostBlocklist.dropBlockedHosts(
          t(s, dir, "documents").select(id, messy.as("url")),
          "url", Seq("Example.COM"))
        .select(col("doc_id"))
    }),

    // A13 benchmark decontamination (beyond-reference, round 5): docs with
    // doc_id%7==0 carry a planted 13-word sentinel that one benchmark row
    // contains verbatim; a 13-token decoy benchmark row matches nothing.
    // Contaminated ⟺ the plant — stated in closed form by the oracle
    // (grams straddling the sentinel boundary embed doc-unique tokens, so
    // only the pure sentinel window can match).
    "q_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val sentinel = "zulu yankee xray whiskey victor uniform tango " +
        "sierra romeo quebec papa oscar november"
      val decoy = "aardwolf binturong coati dugong echidna fossa gerenuk " +
        "hirola indri jerboa kudu lorikeet markhor"
      val synth = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" " + sentinel)).otherwise(lit("")))
      graft.text.Decontaminate.decontaminate(
          t(s, dir, "documents").select(col("doc_id"), synth.as("text")),
          "doc_id", "text", Seq(sentinel, decoy).toDF("btext"), "btext")
        .select(col("doc_id"))
    }),

    // A12 PII scrub (beyond-reference, round 5): emails on every doc, an
    // IPv4 on evens, a dashed phone on %3, an E.164 run on %5 — the
    // oracle replays the same Java/RE2-common regexes and masking order
    // in DuckDB (counts are order-guarded: each counted on the text with
    // the earlier categories already masked)
    "q_pii_scrub" -> ((s, dir) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val synth = concat(
        lit("Reach DOC "), ids, lit(" at user"), ids, lit("@example.com soon."),
        when(id % 2 === 0,
          concat(lit(" Origin 10.1."), (id % 200).cast("string"),
            lit(".7 noted."))).otherwise(lit("")),
        when(id % 3 === 0, lit(" Call 555-123-4567 today.")).otherwise(lit("")),
        when(id % 5 === 0, lit(" Intl +14155550133 works.")).otherwise(lit("")))
      graft.text.PiiScrub.scrubPages(
          t(s, dir, "documents").select(id, synth.as("text")), "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          sha2(col("text"), 256).as("clean_sha"))
    }),

    // C4-style page cleaning (beyond-reference, round 5): line rules
    // (terminal punct, >=3 words, no javascript) + page rules (>=5
    // sentences after cleaning; no lorem ipsum / curly brace in the
    // original). Fixture plants one violation of every rule on a
    // deterministic doc_id schedule; the oracle replays the rules
    // generically in DuckDB (nested list_filter lambdas).
    "q_c4_clean" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val synth = concat(
        lit("Good sentence about doc "), id, lit(" with plenty of words."),
        lit("\nshort line."),
        lit("\nThis line has no terminal punctuation at all\n"),
        when(col("doc_id") % 4 === 0, lit("Enable Javascript to view this page."))
          .otherwise(concat(lit("Optional extra sentence for doc "), id,
            lit(" here."))),
        when(col("doc_id") % 13 === 0, lit("")).otherwise(concat(
          lit("\nAnother full sentence number "), id, lit(" ends properly!"),
          lit("\nA third proper sentence keeps the page alive."),
          lit("\nFourth sentence carries on nicely."))),
        lit("\nFifth sentence completes the quota."),
        when(col("doc_id") % 7 === 0,
          lit("\nSadly Lorem Ipsum dolor sits here.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\nvar x = { a: 1 };"))
          .otherwise(lit("")))
      graft.text.C4Clean.clean(
          t(s, dir, "documents").select(col("doc_id"), synth.as("text")), "text")
        .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
          col("n_sentences"), col("kept"), sha2(col("text"), 256).as("clean_sha"))
    }),

    // Gopher/MassiveText repetition battery (beyond-reference, round 5):
    // per-doc duplicate-line/para counts+chars and top-2-gram / dup-5-gram
    // stats, all per-row array folds (zero shuffle). Fixture plants a
    // duplicated HEAD line (every 3rd doc), a duplicated TAIL paragraph
    // (every 2nd) and a doubled 5-gram phrase (every 5th); the n-gram stats
    // also see the raw text's own small-vocabulary repetition. The oracle
    // recomputes every column generically in DuckDB (unnest + group).
    "q_repetition" -> ((s, dir) => {
      val synth = concat(lit("HEAD"),
        when(col("doc_id") % 3 === 0, lit("\nHEAD")).otherwise(lit("")),
        lit("\n"), col("text"), lit("\n\nTAIL P"),
        when(col("doc_id") % 2 === 0, lit("\n\nTAIL P")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nrate this page now please rate this page now please"))
          .otherwise(lit("")))
      graft.text.Repetition.withSignals(
          t(s, dir, "documents").select(col("doc_id"), synth.as("text")),
          "text", topNs = Seq(2), dupNs = Seq(5))
        .select("doc_id", "n_lines", "dup_lines", "dup_line_chars",
          "line_chars", "n_paras", "dup_paras", "dup_para_chars",
          "n_words", "word_chars", "n_2grams", "top2_count", "top2_chars",
          "dup5_chars")
    }),

    // ── dedup suite (training-data pipeline ops) ────────────────────────

    // X2/X3: per-row signature stage. content_hash and the shingle count are
    // recomputed independently by DuckDB; norm_invariant pins the
    // fingerprints' canonicalization contract (case/whitespace jitter must
    // not move SimHash or MinHash) — computed in Spark, asserted TRUE by
    // the oracle.
    "q_signatures" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = DedupPipeline.signatures(docs, "doc_id", "text", DedupConfig())
      val jittered = DedupPipeline.signatures(
        docs.withColumn("text", upper(regexp_replace(col("text"), " ", "  "))),
        "doc_id", "text", DedupConfig())
        .select(col("id"), col("simhash").as("simhash_j"), col("minhash").as("minhash_j"))
      sigs.join(jittered, "id")
        .select(col("id"), col("content_hash"),
          col("n_shingles").cast("long").as("n_shingles"),
          (col("simhash") === col("simhash_j") &&
            col("minhash") === col("minhash_j")).as("norm_invariant"))
    }),

    // J4: LSH banded candidate generation (salted, skew-defused) —
    // planted-twin completeness oracle: identical texts have identical
    // signatures, which collide in EVERY band, so the pair generator must
    // recover ALL twin pairs deterministically; DuckDB derives the expected
    // set from sha256 alone. (Probabilistic near-pair discovery is gated by
    // the planted-recall ScalaTest suite instead.)
    "q_minhash_lsh_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val both = docs.union(docs.select(col("doc_id") + 1000000, col("text")))
      val sigs = DedupPipeline.signatures(both, "doc_id", "text", DedupConfig())
      val exploded = LSH.explodeBands(sigs.select("id", "minhash"), "id", "minhash",
        FP.DefaultBands, FP.DefaultRowsPerBand)
      val pairs = LSH.candidatePairs(exploded, "id")
      val h = sigs.select(col("id"), col("content_hash"))
      pairs
        .join(h.select(col("id").as("id_a"), col("content_hash").as("ha")), "id_a")
        .join(h.select(col("id").as("id_b"), col("content_hash").as("hb")), "id_b")
        .filter(col("ha") === col("hb"))
        .select("id_a", "id_b")
    }),

    // flagship operator: full dedup pipeline → clusters table (rows-only:
    // near-cluster assignments are not SQL-derivable; the planted-recall
    // gate owns them. q_dedup_invariants below oracles its structure.)
    "q_dedup_clusters" -> ((s, dir) => {
      DedupPipeline.run(s, t(s, dir, "documents"), "doc_id", "text", DedupConfig())
    }),

    // structural invariants of the clusters table, PER DOCUMENT: one row
    // per input doc_id whose booleans the oracle pins TRUE row-by-row —
    // the id column itself is the partition-property check (a dropped or
    // duplicated cluster row changes the row set), and exact-group
    // coherence (rows sharing sha256(text) must share a cluster) is
    // derivable from the inputs, so a broken union-find flips real oracle
    // rows instead of a self-certified aggregate (round-2 review ask).
    // Min-labeling of the COMPONENT is oracled end-to-end by q_union_find
    // (DuckDB recomputes every assignment via a recursive CTE); the
    // cluster_id_is_min boolean here guards the other half of the path —
    // run()'s dictionary DECODE: the order-preserving id dictionary makes
    // "min coded member" ≡ "min original id", so a regression in the
    // dict-join cluster_id remapping flips this internal-consistency bit
    // on real rows (it compares cluster_id against the decoded member ids
    // in the same output frame).
    "q_dedup_invariants" -> ((s, dir) => {
      // run() returns an eagerly checkpointed frame, so the joins below
      // read materialized rows, not the full DAG
      val c = DedupPipeline.run(s, t(s, dir, "documents"), "doc_id", "text", DedupConfig())
      val perCluster = c.groupBy("cluster_id").agg(
        (sum(col("is_representative").cast("long")) === 1).as("one_rep_in_cluster"),
        (min(col("id")) === first(col("cluster_id"))).as("cluster_id_is_min"))
      val hashes = t(s, dir, "documents")
        .select(col("doc_id").as("id"), FP.contentHash(col("text")).as("ch"))
      val perHash = c.join(hashes, "id").groupBy("ch")
        .agg((count_distinct(col("cluster_id")) === 1).as("exact_group_coherent"))
      c.join(perCluster, "cluster_id")
        .join(hashes, "id").join(perHash, "ch")
        .select(col("id"), col("one_rep_in_cluster"),
          col("exact_group_coherent"), col("cluster_id_is_min"))
    }),

    // the distributed union-find ORACLED END-TO-END on real data: the edge
    // set is the exactly-SQL-derivable word-set-Jaccard >= 0.5 graph within
    // each source (q_ngram_jaccard's edges), the clusters are its connected
    // components with cluster_id = min member id — DuckDB recomputes the
    // FULL assignment via a recursive-CTE transitive closure, so the
    // large-star/small-star contraction is hash-verified on every row (the
    // flagship q_dedup_clusters stays rows-only because its LSH discovery
    // channel is probabilistic; the cluster-resolution engine itself is
    // fully oracled here).
    "q_union_find" -> ((s, dir) => {
      val edges = wordJaccardPairs(s, dir).select(col("id_a").as("a"), col("id_b").as("b"))
      graft.cluster.Clustering.clusters(s, t(s, dir, "documents"), "doc_id", edges)
    }),

    // n-gram (word-set) Jaccard similarity pairs within a source partition.
    // ORACLE DEMO: all-pairs within `source` is exact and DuckDB-checkable,
    // which is its whole job — the scale path for pair discovery is the
    // banded LSH pipeline (q_dedup_clusters); group sizes here are bounded
    // by the fixture's per-source fan-out.
    "q_ngram_jaccard" -> ((s, dir) => wordJaccardPairs(s, dir)),

    // ── similarity search (embeddings) ──────────────────────────────────

    // brute-force cosine top-k (quantized integer dot products: exact,
    // order-independent → bit-stable across engines)
    "q_embedding_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceKnn(e, e, "vec_id", "embedding", k = 3)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // embedding-cosine near-duplicate pairs
    "q_embedding_neardup" -> ((s, dir) => {
      Ann.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.3)
    }),

    // LSH-bucketed ANN (the scale path): invariants + recall vs the exact
    // brute-force baseline, computed in Spark from the real operator output
    // and pinned by the oracle — the ANN regression gate the driver runs.
    // This corpus's true top-3 neighbors sit at cosine 0.26-0.48 (weakly
    // clustered — the HARD regime for hyperplane LSH), so the banding is
    // 16 bands x 3 bits; measured recall 0.98 against the 0.9 gate.
    "q_ann_lsh" -> ((s, dir) => annInvariants(s,
      t(s, dir, "embeddings"),
      e => Ann.lshKnn(e, "vec_id", "embedding", k = 3, nPlanes = 48, bands = 16),
      recallBound = 0.9, recallCol = "recall_ge_090")),

    // IVF inverted-list ANN (second scale path; auto sqrt(n) cells refined
    // by 2 distributed k-means rounds). On weakly-clustered data IVF recall
    // scales with the probe fraction by construction (neighbors scatter
    // across Voronoi cells): measured 0.86 at nProbe=12 of ~23 cells
    // (0.79 unrefined), gated at 0.80. For low-cosine regimes the LSH path
    // above is the preferred operator; IVF wins when embeddings actually
    // cluster (AnnSpec measures 0.99-1.0 there).
    "q_ann_ivf" -> ((s, dir) => annInvariants(s,
      t(s, dir, "embeddings"),
      e => Ann.ivfKnn(e, "vec_id", "embedding", k = 3, nProbe = 12),
      recallBound = 0.80, recallCol = "recall_ge_080")),

    // A22 SemDeDup (beyond-reference, round 5): semantic dedup — cluster
    // embeddings with the IVF k-means, τ-edge within cells, union-find the
    // components, keep the farthest-from-centroid member. τ=0.35 sits in
    // this corpus's real neighbor band (top cosines 0.26-0.51), so the
    // verdict has genuine multi-member components to exercise the keeper
    // rule and connectivity invariants on, not just singletons.
    "q_semdedup" -> ((s, dir) => semDedupInvariants(s,
      t(s, dir, "embeddings"),
      e => Ann.semDeDup(e, "vec_id", "embedding", tau = 0.35, nCells = 12),
      tau = 0.35)),

    // ── events: windowed/sessionized aggregation ────────────────────────

    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy("hour", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000).cast("long")).as("sum_value_q"))
    }),

    "q_sessionize" -> ((s, dir) => {
      StreamOps.sessionStats(t(s, dir, "events"), gapMinutes = 30)
    }),

    // ── multimodal plumbing (binary columns; decode stubbed) ────────────

    // REAL image decode: synthesize a valid container header per doc
    // (dimensions derived from doc_id), parse it back with the pure-JVM
    // header decoder; DuckDB recomputes the expected dimensions directly.
    // Even doc_ids get a PNG (signature + IHDR); odd doc_ids get a
    // big-endian TIFF (header + IFD0 with LONG tags 256/257) — the same
    // dimensions, byte-built in SQL, so the IFD walk is oracled per row.
    "q_multimodal_meta" -> ((s, dir) => {
      val pngPrefix = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
        0, 0, 0, 13, 'I', 'H', 'D', 'R')
      val pngTail = Array[Byte](8, 6, 0, 0, 0) // depth, color, compr, filter, interlace
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      val w = (col("doc_id") % 640 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 480 + 16).cast("int")
      val pngBlob = concat(lit(pngPrefix), be32(w), be32(h), lit(pngTail))
      // MM TIFF, IFD at 8: count=2, [256 LONG 1 w] [257 LONG 1 h], next=0
      val tiffPrefix = Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 8, 0, 2,
        1, 0, 0, 4, 0, 0, 0, 1)
      val tiffMid = Array[Byte](1, 1, 0, 4, 0, 0, 0, 1)
      val tiffBlob = concat(lit(tiffPrefix), be32(w), lit(tiffMid), be32(h),
        lit(Array[Byte](0, 0, 0, 0)))
      val blob = when(col("doc_id") % 2 === 0, pngBlob).otherwise(tiffBlob)
      Multimodal.withMeta(
          t(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
          "doc_id", "blob")
        .select(col("doc_id"), col("byte_len"), col("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
    }),

    "q_frame_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
      Multimodal.sampleFrames(d, "doc_id", "blob", everyNth = 2)
    }),

    // REAL pixel decode: synthesize an uncompressed BMP per doc from one of
    // three analytic patterns (doc_id % 3), run the real decode→grayscale→
    // 8×8-box-mean→threshold kernel on the actual bytes, and let DuckDB
    // recompute the expected hash ANALYTICALLY from the pattern id — a
    // genuine oracle for the pixel path (reference kernel
    // processing/core.rs:37-104; goldens mirror processing_tests.rs:93-119).
    "q_image_ahash" -> ((s, dir) => {
      import graft.multimodal.BmpSynth
      val blob = when(col("doc_id") % 3 === 0, lit(BmpSynth.OraclePatterns(0)))
        .when(col("doc_id") % 3 === 1, lit(BmpSynth.OraclePatterns(1)))
        .otherwise(lit(BmpSynth.OraclePatterns(2)))
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          Multimodal.imageAHash(col("blob")).as("ahash"),
          Multimodal.imageMeta(col("blob")).getField("format").as("format"))
    }),

    // REAL PNG pixel decode (JDK Inflater + Sub/Up/Average/Paeth unfilter →
    // the same pinned kernel): synthesized real zlib-compressed PNGs per
    // doc, hashed from the actual decompressed pixels, oracled analytically
    // from the pattern id (reference formats/png.rs:9-23 + core.rs:37-104).
    "q_png_ahash" -> ((s, dir) => {
      import graft.multimodal.PngSynth
      val blob = when(col("doc_id") % 3 === 0, lit(PngSynth.OraclePatterns(0)))
        .when(col("doc_id") % 3 === 1, lit(PngSynth.OraclePatterns(1)))
        .otherwise(lit(PngSynth.OraclePatterns(2)))
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          Multimodal.imageAHash(col("blob")).as("ahash"),
          Multimodal.imageMeta(col("blob")).getField("format").as("format"))
    }),

    // REAL JPEG pixel decode (the JDK's ImageIO plugin → the same pinned
    // kernel): block-uniform baseline JPEGs are DC-only under a flat-8
    // quant table, so the lossy format round-trips the patterns EXACTLY
    // and the closed-form oracle holds (reference formats/jpeg.rs:8-31).
    "q_jpeg_ahash" -> ((s, dir) => {
      import graft.multimodal.JpegSynth
      val blob = when(col("doc_id") % 3 === 0, lit(JpegSynth.OraclePatterns(0)))
        .when(col("doc_id") % 3 === 1, lit(JpegSynth.OraclePatterns(1)))
        .otherwise(lit(JpegSynth.OraclePatterns(2)))
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          Multimodal.imageAHash(col("blob")).as("ahash"),
          Multimodal.imageMeta(col("blob")).getField("format").as("format"))
    }),

    // REAL TIFF pixel decode (pure-JVM IFD walk + uncompressed strip read
    // → the same pinned kernel), same analytic oracle scheme; the three
    // patterns rotate through little-endian RGB, big-endian RGB, and
    // grayscale encodings so both byte orders and both photometric modes
    // are on the oracle path (reference formats/tiff.rs:9-24).
    "q_tiff_ahash" -> ((s, dir) => {
      import graft.multimodal.TiffSynth
      val blob = when(col("doc_id") % 3 === 0, lit(TiffSynth.OraclePatterns(0)))
        .when(col("doc_id") % 3 === 1, lit(TiffSynth.OraclePatterns(1)))
        .otherwise(lit(TiffSynth.OraclePatterns(2)))
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          Multimodal.imageAHash(col("blob")).as("ahash"),
          Multimodal.imageMeta(col("blob")).getField("format").as("format"))
    }),

    // REAL GIF pixel decode (pure-JVM LZW → the same pinned kernel), same
    // analytic oracle scheme.
    "q_gif_ahash" -> ((s, dir) => {
      import graft.multimodal.GifSynth
      val blob = when(col("doc_id") % 3 === 0, lit(GifSynth.OraclePatterns(0)))
        .when(col("doc_id") % 3 === 1, lit(GifSynth.OraclePatterns(1)))
        .otherwise(lit(GifSynth.OraclePatterns(2)))
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          Multimodal.imageAHash(col("blob")).as("ahash"),
          Multimodal.imageMeta(col("blob")).getField("format").as("format"))
    }),

    // A15 corpus mixing (beyond-reference, round 5): hash-deterministic
    // rate sampling — keep ⟺ u60(doc_id, salt) < floor(rate·2^60) with
    // per-source rates (src0 = 1.0, src1 = 0.5, src2 = 0.0, default 0.25).
    // The oracle replays the SAME sha256 integer arithmetic in DuckDB with
    // thresholds interpolated from the one Scala computation — a keep/drop
    // decision that diverges on any row is a hash mismatch.
    "q_mix_sample" -> ((s, dir) => {
      graft.mix.CorpusMix.sampleBySourceRates(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", MixRates, salt = "mix-v1",
          defaultRate = MixDefaultRate)
        .select(col("doc_id"), col("source"))
    }),

    // A15 exact-budget truncation: per-source u60-ordered prefix whose
    // running token sum stays under the budget (the crossing row is the
    // last kept). src0's budget cuts mid-source, src1's exceeds supply
    // (keeps all), src2's is zero (drops all), unlisted sources drop —
    // DuckDB replays the window in closed form.
    "q_mix_truncate" -> ((s, dir) => {
      graft.mix.CorpusMix.truncateToBudget(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text", "source", MixBudgets, salt = "mix-v1")
        .select(col("doc_id"), col("source"))
    }),

    // A15 training-shard assignment: shard = u60(doc_id, "shard") mod 8 —
    // the deterministic layout key of ShardedExport (uniformity and the
    // one-file-per-shard write are pinned by MixSpec).
    "q_mix_shard" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        graft.mix.ShardedExport.shardOf(col("doc_id"), 8).as("shard"))
    }),

    // A20 multi-corpus union mixing (beyond-reference, round 5): real
    // training mixes draw from SEPARATE corpora, not one table's column —
    // union two differently-shaped tables (documents; part names standing
    // in for a second corpus), tag each with its corpus NAME, and
    // rate-sample on the tag with the same integer-domain arithmetic.
    // DuckDB replays the union and the thresholds verbatim: a row tagged
    // into the wrong corpus or a keep decision diverging anywhere is a
    // hash mismatch. Part ids get a 'p' prefix — the identity contract
    // (ids unique ACROSS corpora) made explicit.
    "q_mix_union" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("id"), col("text"))
      val parts = t(s, dir, "part")
        .select(concat(lit("p"), col("p_partkey")).as("id"),
          col("p_name").as("text"))
      graft.mix.CorpusMix.sampleBySourceRates(
          graft.mix.CorpusMix.unionCorpora(
            Seq("docs" -> docs, "parts" -> parts)),
          "id", "source", MixUnionRates, salt = "mix-v1")
        .select(col("id"), col("source"))
    }),

    // A16 up-sampled mixing (beyond-reference, round 5): rates above 1
    // repeat curated sources — copies = floor(rate) + [u60 < frac·2^60],
    // one row per epoch ordinal via a scan-riding generator. DuckDB
    // replays explode(sequence) as unnest(generate_series) over the same
    // integer arithmetic; any divergent copy count is a row-count mismatch.
    "q_mix_upsample" -> ((s, dir) => {
      graft.mix.CorpusMix.upsampleBySourceRates(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", MixUpRates, salt = "mix-v1", defaultRate = 0.0)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // A18 per-document rate sampling (beyond-reference, round 5): each doc
    // keeps with ITS OWN probability — here the oracled quality score as a
    // permille — via (u60 >> 30)·1000 < permille·2^30, pure integer
    // arithmetic on a 30-bit slice of the variate (exact at 0 and 1000).
    // The permille derivation mirrors q_quality's oracled arithmetic.
    "q_mix_bydoc" -> ((s, dir) => {
      val mille = least(greatest(round(
          graft.text.TextAnalysis.qualityScore(col("text")) * 1000, 0),
        lit(0.0)), lit(1000.0)).cast("long")
      graft.mix.CorpusMix.sampleByRatePerMille(
          t(s, dir, "documents").select(col("doc_id"), col("text"))
            .withColumn("rate_mille", mille),
          "doc_id", col("rate_mille"), "mix-v1")
        .select(col("doc_id"), col("rate_mille"))
    }),

    // A17 sequence packing (beyond-reference, round 5): concatenate each
    // shard's docs in u60-"pack" order and cut every 64 tokens — one row
    // per (example, doc) overlap with the in-example position and the
    // doc's token slice. Closed-form window + generator arithmetic;
    // DuckDB replays it exactly (integer div both sides).
    "q_pack_plan" -> ((s, dir) => {
      graft.mix.SequencePack.plan(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", seqLen = 64, nShards = 4)
        .select(col("shard"), col("example"), col("doc_id"),
          col("pos"), col("tok_start"), col("tok_end"))
    })
  )

  /** DuckDB-equivalent SQL per query (driver correctness gate). Column
    * names and types are aligned with the Spark side; integer-quantized
    * sums keep float reduction order out of the comparison.
    */
  def oracleSql: Map[String, String] = Map(

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       avg(l_quantity) AS avg_qty,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q_filter_project" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars BETWEEN 200 AND 400""".stripMargin,

    "q_anti_join" ->
      """SELECT d.doc_id, d.lang FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM embeddings e
        |                  WHERE e.label < 5 AND e.vec_id = d.doc_id)""".stripMargin,

    "q_state_prefilter" ->
      """SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id % 3 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id % 7 <> 0 AND s.doc_id = d.doc_id)""".stripMargin,

    "q_semi_join" ->
      """SELECT p.p_partkey, p.p_brand FROM part p
        |WHERE p.p_size > 30
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin,

    "q_discovery" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE NOT starts_with(source, 'src1')
        |  AND NOT starts_with(regexp_extract(source, '[^/]*$'), '.')
        |  AND lang IN ('en', 'de', 'fr')
        |  AND text IS NOT NULL AND length(text) > 0""".stripMargin,

    "q_extract_text" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(text, '[<>&]', ' ', 'g'),
        |                           '\s+', ' ', 'g')) AS extracted
        |FROM documents""".stripMargin,

    "q_para_dedup" ->
      """WITH m AS (SELECT min(doc_id) AS mn,
        |                  min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS mne
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS n_paras,
        |       CAST((CASE WHEN doc_id > mn THEN 1 ELSE 0 END)
        |          + (CASE WHEN doc_id % 2 = 0 AND doc_id > mne THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dropped,
        |       sha256(
        |         (CASE WHEN doc_id = mn
        |               THEN 'SHARED HEADER' || chr(10) || chr(10) ELSE '' END)
        |         || 'DOC ' || doc_id || ' ' || text
        |         || (CASE WHEN doc_id = mne
        |                  THEN chr(10) || chr(10) || 'SHARED FOOTER' ELSE '' END)
        |       ) AS clean_sha
        |FROM documents, m""".stripMargin,

    "q_site_stats" ->
      """SELECT CASE doc_id % 4
        |         WHEN 0 THEN 'com,example'
        |         WHEN 1 THEN 'com,example,news'
        |         WHEN 2 THEN 'org,host'
        |         ELSE 'net,e:8080'
        |       END AS site,
        |       CAST(count(*) AS BIGINT) AS n_pages,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1""".stripMargin,

    "q_site_cap" ->
      """SELECT doc_id,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'com,example'
        |         WHEN 1 THEN 'com,example,news'
        |         WHEN 2 THEN 'org,host'
        |         ELSE 'net,e:8080'
        |       END AS site
        |FROM documents
        |WHERE CAST(floor(doc_id / 4) AS BIGINT) < 30""".stripMargin,

    "q_url_canon" ->
      """SELECT doc_id,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'https://example.com/d/' || doc_id || '?a=1&b=2'
        |         WHEN 1 THEN 'http://news.example.com/d/' || doc_id
        |         WHEN 2 THEN 'http://host.org/p/' || doc_id
        |         ELSE 'http://e.net:8080/' || doc_id
        |       END AS url_canon,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'com,example)/d/' || doc_id || '?a=1&b=2'
        |         WHEN 1 THEN 'com,example,news)/d/' || doc_id
        |         WHEN 2 THEN 'org,host)/p/' || doc_id
        |         ELSE 'net,e:8080)/' || doc_id
        |       END AS url_surt
        |FROM documents""".stripMargin,

    "q_warc_roundtrip" ->
      """SELECT 'https://corpus.test/doc/' || doc_id AS url,
        |       CAST(1700000000 + doc_id AS BIGINT) AS epoch_sec,
        |       sha256(text) AS payload_sha,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(200 AS INTEGER) AS http_status
        |FROM documents""".stripMargin,

    "q_union_multiroot" ->
      """SELECT DISTINCT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents WHERE lang = 'de'
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents WHERE lang = 'fr')""".stripMargin,

    "q_window_top1" ->
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q_exact_dedup" ->
      """SELECT sha256(text) AS content_hash,
        |       CAST(count(*) AS BIGINT) AS n_dups,
        |       min(doc_id) AS rep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_full_outer_diag" ->
      """SELECT COALESCE(d.id, e.id) AS id,
        |       COALESCE(d.has_doc, 0) AS has_doc,
        |       COALESCE(e.has_vec, 0) AS has_vec
        |FROM (SELECT doc_id AS id, CAST(1 AS BIGINT) AS has_doc
        |      FROM documents WHERE n_chars > 450) d
        |FULL OUTER JOIN (SELECT vec_id AS id, CAST(1 AS BIGINT) AS has_vec
        |                 FROM embeddings WHERE label >= 8) e
        |  ON d.id = e.id""".stripMargin,

    "q_hamming" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(bit_count(xor(l_orderkey, l_partkey)) AS BIGINT) AS hamming_dist
        |FROM lineitem
        |WHERE bit_count(xor(l_orderkey, l_partkey)) <= 6""".stripMargin,

    "q_actions_plan" ->
      """WITH c AS (
        |  SELECT doc_id AS id, source AS cluster_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) = 1 AS is_rep
        |  FROM documents)
        |SELECT d.id, r.id AS original_id, 'symlink' AS action, true AS dry_run
        |FROM c d JOIN c r ON d.cluster_id = r.cluster_id AND r.is_rep
        |WHERE NOT d.is_rep""".stripMargin,

    "q_actions_execute" ->
      """WITH c AS (
        |  SELECT doc_id AS id, source AS cluster_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) = 1 AS is_rep
        |  FROM documents),
        |p AS (SELECT d.id, r.id AS original_id
        |      FROM c d JOIN c r ON d.cluster_id = r.cluster_id AND r.is_rep
        |      WHERE NOT d.is_rep),
        |u AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 <> 3)
        |SELECT p.id, p.original_id, 'delete' AS action, false AS dry_run,
        |       (ud.id IS NOT NULL AND uo.id IS NOT NULL) AS success,
        |       CASE WHEN ud.id IS NULL THEN 'missing_id'
        |            WHEN uo.id IS NULL THEN 'missing_original'
        |            ELSE NULL END AS error
        |FROM p LEFT JOIN u ud ON p.id = ud.id
        |       LEFT JOIN u uo ON p.original_id = uo.id""".stripMargin,

    "q_substring_containment" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM n a JOIN n b ON a.source = b.source
        |WHERE contains(b.nt, substr(a.nt, 1, 120))""".stripMargin,

    "q_topk" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q_db_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1""".stripMargin,

    "q_star_join" ->
      """SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |       sum(l.l_quantity) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT lang,
        |       count(*) AS n_docs,
        |       count(DISTINCT 'doc-' || CAST(doc_id AS VARCHAR)) AS n_urls,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0
        |                THEN 0 ELSE length(string_split(
        |                  trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END)
        |            AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0
        |            THEN 0 ELSE length(string_split(
        |              trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS BIGINT)
        |         AS n_tokens,
        |       CAST(length(regexp_extract_all(text,
        |              '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_subwords,
        |       CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))
        |            AS BIGINT) AS n_punct
        |FROM documents""".stripMargin,

    "q_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0
        |         THEN 0 ELSE length(string_split(
        |           trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS BIGINT)
        |      AS n_tokens,
        |    CAST(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0
        |         THEN 0 ELSE length(list_distinct(string_split(
        |           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) END AS BIGINT)
        |      AS n_distinct,
        |    CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))
        |         AS BIGINT) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_distinct,
        |       round(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) * 0.4
        |         + (CASE WHEN n_tokens = 0 THEN 0.0
        |                 ELSE CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) END) * 0.5
        |         + (CASE WHEN n_tokens = 0 THEN 0.0
        |                 ELSE (1.0 - least(CAST(n_punct AS DOUBLE)
        |                   / greatest(CAST(n_tokens AS DOUBLE), 1.0), 1.0)) * 0.1 END), 6)
        |         AS quality
        |FROM f""".stripMargin,

    "q_lang_id" ->
      langIdOracle,

    "q_fingerprint" ->
      """SELECT doc_id,
        |       sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    "q_span_dedup" ->
      """WITH m AS (SELECT min(doc_id) AS mn FROM documents)
        |SELECT doc_id, CAST(6 AS BIGINT) AS n_sents,
        |       CAST(CASE WHEN doc_id = mn THEN 0 ELSE 3 END AS BIGINT) AS n_dropped,
        |       sha256(CASE WHEN doc_id = mn
        |         THEN 'Alpha ' || doc_id || ' one. Beta ' || doc_id || ' two. '
        |           || 'Shared sentence ex. Shared sentence why. '
        |           || 'Shared sentence zed. Gamma ' || doc_id || ' three.'
        |         ELSE 'Alpha ' || doc_id || ' one. Beta ' || doc_id || ' two. '
        |           || 'Gamma ' || doc_id || ' three.' END) AS clean_sha
        |FROM documents, m""".stripMargin,

    // epoch-ordered batch semantics: evens (epoch 1) elect first, odds
    // (epoch 2) elect against them — winner of the shared header is the
    // min even doc, the odd-only footer elects to the min odd doc
    "q_subdoc_para" ->
      """WITH m AS (SELECT min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS mne,
        |                  min(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS mno
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(2 + doc_id % 2 AS BIGINT) AS n_paras,
        |       CAST(CASE WHEN doc_id = mne THEN 0
        |                 WHEN doc_id % 2 = 0 THEN 1
        |                 WHEN doc_id = mno THEN 1
        |                 ELSE 2 END AS BIGINT) AS n_dropped,
        |       sha256(
        |         (CASE WHEN doc_id = mne
        |               THEN 'CORPUS HEADER' || chr(10) || chr(10) ELSE '' END)
        |         || 'DOC ' || doc_id || ' ' || text
        |         || (CASE WHEN doc_id = mno
        |                  THEN chr(10) || chr(10) || 'LATE FOOTER' ELSE '' END)
        |       ) AS clean_sha
        |FROM documents, m""".stripMargin,

    "q_subdoc_span" ->
      """WITH m AS (SELECT min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS mne,
        |                  min(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS mno
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 9 END AS BIGINT) AS n_sents,
        |       CAST(CASE WHEN doc_id = mne THEN 0
        |                 WHEN doc_id % 2 = 0 THEN 3
        |                 WHEN doc_id = mno THEN 3
        |                 ELSE 6 END AS BIGINT) AS n_dropped,
        |       sha256('Alpha ' || doc_id || ' one. Beta ' || doc_id || ' two. '
        |         || (CASE WHEN doc_id = mne
        |             THEN 'Shared sentence ex. Shared sentence why. Shared sentence zed. '
        |             WHEN doc_id = mno
        |             THEN 'Late run ex. Late run why. Late run zed. '
        |             ELSE '' END)
        |         || 'Gamma ' || doc_id || ' three.') AS clean_sha
        |FROM documents, m""".stripMargin,

    "q_block_hosts" ->
      "SELECT doc_id FROM documents WHERE doc_id % 4 IN (2, 3)",

    "q_decontaminate" ->
      "SELECT doc_id FROM documents WHERE doc_id % 7 <> 0",

    "q_pii_scrub" ->
      """WITH s AS (SELECT doc_id,
        |  'Reach DOC ' || doc_id || ' at user' || doc_id || '@example.com soon.'
        |  || CASE WHEN doc_id % 2 = 0
        |          THEN ' Origin 10.1.' || (doc_id % 200) || '.7 noted.' ELSE '' END
        |  || CASE WHEN doc_id % 3 = 0 THEN ' Call 555-123-4567 today.' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN ' Intl +14155550133 works.' ELSE '' END
        |    AS text FROM documents),
        |m AS (SELECT doc_id, text,
        |  regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |    AS no_email FROM s),
        |m2 AS (SELECT doc_id, text, no_email,
        |  regexp_replace(no_email,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS no_ip FROM m)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(no_email,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(no_ip,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b|\+\d{8,15}\b')) AS BIGINT) AS n_phones,
        |  sha256(regexp_replace(no_ip,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b|\+\d{8,15}\b', '<PHONE>', 'g'))
        |    AS clean_sha
        |FROM m2""".stripMargin,

    "q_c4_clean" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'Good sentence about doc ' || doc_id || ' with plenty of words.'
        |    || chr(10) || 'short line.'
        |    || chr(10) || 'This line has no terminal punctuation at all'
        |    || chr(10) || CASE WHEN doc_id % 4 = 0
        |         THEN 'Enable Javascript to view this page.'
        |         ELSE 'Optional extra sentence for doc ' || doc_id || ' here.' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ''
        |         ELSE chr(10) || 'Another full sentence number ' || doc_id
        |           || ' ends properly!'
        |           || chr(10) || 'A third proper sentence keeps the page alive.'
        |           || chr(10) || 'Fourth sentence carries on nicely.' END
        |    || chr(10) || 'Fifth sentence completes the quota.'
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN chr(10) || 'Sadly Lorem Ipsum dolor sits here.' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN chr(10) || 'var x = { a: 1 };' ELSE '' END AS t
        |  FROM documents),
        |l AS (SELECT doc_id, t,
        |        list_filter(list_transform(string_split(t, chr(10)),
        |                    x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
        |                    x -> x <> '') AS lines FROM s),
        |k AS (SELECT doc_id, t, lines,
        |        list_filter(lines, x ->
        |          regexp_matches(x, '([.!?]["'']?|["''])$')
        |          AND len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) >= 3
        |          AND NOT regexp_matches(lower(x), '\bjavascript\b')) AS kept_lines
        |      FROM l)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept_lines) AS BIGINT) AS n_lines_kept,
        |  CAST(len(regexp_extract_all(array_to_string(kept_lines, chr(10)), '[.!?]'))
        |       AS BIGINT) AS n_sentences,
        |  (len(regexp_extract_all(array_to_string(kept_lines, chr(10)), '[.!?]')) >= 5
        |   AND NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{')) AS kept,
        |  sha256(array_to_string(kept_lines, chr(10))) AS clean_sha
        |FROM k""".stripMargin,

    "q_repetition" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         'HEAD' || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'HEAD' ELSE '' END
        |           || chr(10) || text || chr(10) || chr(10) || 'TAIL P'
        |           || CASE WHEN doc_id % 2 = 0 THEN chr(10) || chr(10) || 'TAIL P' ELSE '' END
        |           || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
        |                'rate this page now please rate this page now please' ELSE '' END AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, regexp_replace(x, '^\s+|\s+$', '', 'g') AS v
        |  FROM s, unnest(string_split(t, chr(10))) AS u(x)),
        |lg AS (SELECT doc_id, v, count(*) AS c FROM lines WHERE v <> '' GROUP BY 1, 2),
        |lstat AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_lines,
        |         CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT)
        |           AS dup_line_chars,
        |         CAST(sum(c * length(v)) AS BIGINT) AS line_chars
        |  FROM lg GROUP BY 1),
        |paras AS (
        |  SELECT doc_id, regexp_replace(x, '^\s+|\s+$', '', 'g') AS v
        |  FROM s, unnest(regexp_split_to_array(t,
        |      '[\t \r]*\n(?:[\t \r]*\n)+[\t \r]*')) AS u(x)),
        |pg AS (SELECT doc_id, v, count(*) AS c FROM paras WHERE v <> '' GROUP BY 1, 2),
        |pstat AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_paras,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_paras,
        |         CAST(sum(CASE WHEN c >= 2 THEN c * length(v) ELSE 0 END) AS BIGINT)
        |           AS dup_para_chars
        |  FROM pg GROUP BY 1),
        |wl AS (SELECT doc_id,
        |              list_filter(string_split_regex(lower(t), '\s+'), x -> x <> '') AS ws
        |       FROM s),
        |wstat AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(length(array_to_string(ws, ' ')) AS BIGINT) AS word_chars
        |  FROM wl),
        |g2 AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        |  FROM wl, unnest(generate_series(1, len(ws) - 1)) AS u(i)),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |m2 AS (SELECT doc_id, max(c) AS mc FROM c2 GROUP BY 1),
        |t2 AS (
        |  SELECT c2.doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
        |         CAST(max(mc) AS BIGINT) AS top2_count,
        |         CAST(max(CASE WHEN c = mc THEN c * length(g) END) AS BIGINT) AS top2_chars
        |  FROM c2 JOIN m2 ON c2.doc_id = m2.doc_id GROUP BY 1),
        |g5 AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        |           || ' ' || ws[i+4] AS g
        |  FROM wl, unnest(generate_series(1, len(ws) - 4)) AS u(i)),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
        |t5 AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT)
        |           AS dup5_chars
        |  FROM c5 GROUP BY 1)
        |SELECT s.doc_id, n_lines, dup_lines, dup_line_chars, line_chars,
        |       n_paras, dup_paras, dup_para_chars, n_words, word_chars,
        |       coalesce(n_2grams, 0) AS n_2grams,
        |       coalesce(top2_count, 0) AS top2_count,
        |       coalesce(top2_chars, 0) AS top2_chars,
        |       coalesce(dup5_chars, 0) AS dup5_chars
        |FROM s
        |JOIN lstat USING (doc_id) JOIN pstat USING (doc_id) JOIN wstat USING (doc_id)
        |LEFT JOIN t2 USING (doc_id) LEFT JOIN t5 USING (doc_id)""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |         list_distinct(string_split(
        |           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS words
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(length(list_intersect(a.words, b.words)) AS DOUBLE)
        |         / CAST(length(a.words) + length(b.words)
        |                - length(list_intersect(a.words, b.words)) AS DOUBLE) AS jaccard
        |FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(length(list_intersect(a.words, b.words)) AS DOUBLE)
        |        / CAST(length(a.words) + length(b.words)
        |               - length(list_intersect(a.words, b.words)) AS DOUBLE) >= 0.5""".stripMargin,

    "q_signatures" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
        |           AS toks
        |  FROM documents)
        |SELECT doc_id AS id, sha256(text) AS content_hash,
        |       CAST(CASE WHEN length(toks) >= 3
        |            THEN length(list_distinct(
        |              [array_to_string(toks[i:i+2], ' ')
        |               for i in range(1, length(toks) - 1)]))
        |            ELSE 1 END AS BIGINT) AS n_shingles,
        |       sha256(trim(regexp_replace(lower(
        |         upper(regexp_replace(text, ' ', '  ', 'g'))), '\s+', ' ', 'g')))
        |         = sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |         AS norm_invariant
        |FROM t""".stripMargin,

    "q_minhash_lsh_pairs" ->
      """WITH b AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |h AS (SELECT doc_id, sha256(text) AS ch FROM b)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b
        |FROM h a JOIN h b2 ON a.ch = b2.ch AND a.doc_id < b2.doc_id""".stripMargin,

    // per-doc grain: the id column pins the partition property (every input
    // doc appears exactly once in the clusters table — a dropped or doubled
    // row breaks the row-set hash); the booleans are COMPUTED Spark-side
    // from the real pipeline output and must come out TRUE for the very
    // doc_id DuckDB enumerates.
    "q_dedup_invariants" ->
      """SELECT doc_id AS id, true AS one_rep_in_cluster,
        |       true AS exact_group_coherent, true AS cluster_id_is_min
        |FROM documents""".stripMargin,

    "q_union_find" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id, source,
        |             list_distinct(string_split(
        |               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS words
        |      FROM documents),
        |e0 AS (SELECT a.doc_id AS u, b.doc_id AS v
        |       FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
        |       WHERE CAST(length(list_intersect(a.words, b.words)) AS DOUBLE)
        |             / CAST(length(a.words) + length(b.words)
        |                    - length(list_intersect(a.words, b.words)) AS DOUBLE) >= 0.5),
        |e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
        |reach(u, v) AS (
        |  SELECT doc_id AS u, doc_id AS v FROM documents
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
        |SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY u""".stripMargin,

    "q_ann_lsh" -> annInvariantOracle("recall_ge_090"),
    "q_ann_ivf" -> annInvariantOracle("recall_ge_080"),

    "q_semdedup" ->
      """SELECT vec_id AS id, true AS covered, true AS one_keep,
        |       true AS keeper_farthest, true AS dropped_connected,
        |       true AS edges_within_cluster, true AS exact_dups_coclustered
        |FROM embeddings""".stripMargin,

    "q_embedding_knn" ->
      """WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(CAST(sum(qv*qv) AS DOUBLE)) AS nrm FROM q GROUP BY 1),
        |d AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
        |             CAST(sum(a.qv * b.qv) AS DOUBLE) AS dot
        |      FROM q a JOIN q b ON a.idx = b.idx AND a.vec_id <> b.vec_id
        |      GROUP BY 1, 2),
        |c AS (SELECT d.id, d.nbr_id,
        |             round(CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
        |                        ELSE d.dot / (na.nrm * nb.nrm) END, 6) AS cos
        |      FROM d JOIN n na ON d.id = na.vec_id JOIN n nb ON d.nbr_id = nb.vec_id)
        |SELECT id, nbr_id, cos, rank FROM (
        |  SELECT id, nbr_id, cos,
        |         CAST(row_number() OVER (PARTITION BY id
        |                                 ORDER BY cos DESC, nbr_id ASC) AS BIGINT) AS rank
        |  FROM c) WHERE rank <= 3""".stripMargin,

    "q_embedding_neardup" ->
      """WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(CAST(sum(qv*qv) AS DOUBLE)) AS nrm FROM q GROUP BY 1),
        |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |             CAST(sum(a.qv * b.qv) AS DOUBLE) AS dot
        |      FROM q a JOIN q b ON a.idx = b.idx AND a.vec_id < b.vec_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, cos FROM (
        |  SELECT d.id_a, d.id_b,
        |         round(CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
        |                    ELSE d.dot / (na.nrm * nb.nrm) END, 6) AS cos
        |  FROM d JOIN n na ON d.id_a = na.vec_id JOIN n nb ON d.id_b = nb.vec_id)
        |WHERE cos >= 0.3""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_q
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id,
        |       CAST(sum(CASE WHEN prev_ts IS NULL
        |                     OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM (SELECT user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |GROUP BY 1""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 38 END AS BIGINT) AS byte_len,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'tiff' END AS format,
        |       CAST(doc_id % 640 + 16 AS BIGINT) AS width,
        |       CAST((doc_id * 7) % 480 + 16 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "q_frame_sample" ->
      """SELECT doc_id, CAST(unnest(range(0,
        |         octet_length(encode(text)) // 250 + 1, 2)) AS BIGINT) AS frame_idx
        |FROM documents""".stripMargin,

    // expected aHash derived analytically from the pattern id: left/right
    // split lights cells cx≥4 of every row (0x0F per row byte), top/bottom
    // split lights rows cy≥4 (low 32 bits), solid is all-equal → 0 under
    // the strict > threshold
    "q_image_ahash" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN CAST(1085102592571150095 AS BIGINT)
        |         WHEN 1 THEN CAST(4294967295 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ahash,
        |       'bmp' AS format
        |FROM documents""".stripMargin,

    // the PNG/GIF patterns are pixel-identical to the BMP ones → same
    // closed-form hashes; only the container (and thus the decode path —
    // inflate+unfilter / LZW) differs
    "q_png_ahash" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN CAST(1085102592571150095 AS BIGINT)
        |         WHEN 1 THEN CAST(4294967295 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ahash,
        |       'png' AS format
        |FROM documents""".stripMargin,

    "q_gif_ahash" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN CAST(1085102592571150095 AS BIGINT)
        |         WHEN 1 THEN CAST(4294967295 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ahash,
        |       'gif' AS format
        |FROM documents""".stripMargin,

    "q_tiff_ahash" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN CAST(1085102592571150095 AS BIGINT)
        |         WHEN 1 THEN CAST(4294967295 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ahash,
        |       'tiff' AS format
        |FROM documents""".stripMargin,

    "q_jpeg_ahash" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN CAST(1085102592571150095 AS BIGINT)
        |         WHEN 1 THEN CAST(4294967295 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ahash,
        |       'jpeg' AS format
        |FROM documents""".stripMargin,

    "q_mix_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${mixU60Sql("mix-v1")}
         |  < CASE source
         |      WHEN 'src0' THEN ${graft.mix.CorpusMix.thresholdFor(MixRates("src0"))}
         |      WHEN 'src1' THEN ${graft.mix.CorpusMix.thresholdFor(MixRates("src1"))}
         |      WHEN 'src2' THEN ${graft.mix.CorpusMix.thresholdFor(MixRates("src2"))}
         |      ELSE ${graft.mix.CorpusMix.thresholdFor(MixDefaultRate)}
         |    END""".stripMargin,

    "q_mix_truncate" ->
      s"""WITH u AS (
         |  SELECT doc_id, source, ${mixU60Sql("mix-v1")} AS u60,
         |         CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
         |              THEN 0 ELSE length(string_split(
         |                trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END
         |           AS BIGINT) AS tok
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, source, tok,
         |         SUM(tok) OVER (PARTITION BY source ORDER BY u60, doc_id) AS cum,
         |         CASE source WHEN 'src0' THEN ${MixBudgets("src0")}
         |                     WHEN 'src1' THEN ${MixBudgets("src1")}
         |                     WHEN 'src2' THEN ${MixBudgets("src2")} END AS budget
         |  FROM u)
         |SELECT doc_id, source FROM w WHERE cum - tok < budget""".stripMargin,

    "q_mix_shard" ->
      s"""SELECT doc_id,
         |       CAST(${mixU60Sql("shard")} % 8 AS INTEGER) AS shard
         |FROM documents""".stripMargin,

    "q_mix_bydoc" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
         |         THEN 0 ELSE length(string_split(
         |           trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS BIGINT)
         |      AS n_tokens,
         |    CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
         |         THEN 0 ELSE length(list_distinct(string_split(
         |           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))) END AS BIGINT)
         |      AS n_distinct,
         |    CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
         |         AS BIGINT) AS n_punct
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |         CAST(least(greatest(round(
         |           round(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) * 0.4
         |             + (CASE WHEN n_tokens = 0 THEN 0.0
         |                     ELSE CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) END) * 0.5
         |             + (1.0 - (CASE WHEN n_tokens = 0 THEN 0.0
         |                     ELSE least(CAST(n_punct AS DOUBLE)
         |                       / greatest(CAST(n_tokens AS DOUBLE), 1.0), 1.0) END)) * 0.1, 6)
         |           * 1000), 0), 1000) AS BIGINT) AS rate_mille
         |  FROM f)
         |SELECT doc_id, rate_mille FROM q
         |WHERE (${mixU60Sql("mix-v1")} >> 30) * 1000
         |      < CAST(rate_mille AS UBIGINT) * 1073741824""".stripMargin,

    "q_mix_union" ->
      s"""WITH u AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS id, 'docs' AS source FROM documents
         |  UNION ALL
         |  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS id, 'parts' AS source
         |  FROM part)
         |SELECT id, source FROM u
         |WHERE ${mixU60SqlOn("id", "mix-v1")}
         |  < CASE source
         |      WHEN 'docs' THEN ${graft.mix.CorpusMix.thresholdFor(MixUnionRates("docs"))}
         |      WHEN 'parts' THEN ${graft.mix.CorpusMix.thresholdFor(MixUnionRates("parts"))}
         |      ELSE 0
         |    END""".stripMargin,

    "q_mix_upsample" -> {
      def cp(s: String) = graft.mix.CorpusMix.copiesFor(MixUpRates(s))
      s"""WITH c AS (
         |  SELECT doc_id, source,
         |         CAST(CASE source WHEN 'src0' THEN ${cp("src0")._1}
         |                          WHEN 'src1' THEN ${cp("src1")._1}
         |                          WHEN 'src2' THEN ${cp("src2")._1}
         |                          ELSE 0 END AS BIGINT)
         |         + CASE WHEN ${mixU60Sql("mix-v1")} <
         |             CASE source WHEN 'src0' THEN ${cp("src0")._2}
         |                         WHEN 'src1' THEN ${cp("src1")._2}
         |                         WHEN 'src2' THEN ${cp("src2")._2}
         |                         ELSE 0 END
         |           THEN 1 ELSE 0 END AS copies
         |  FROM documents)
         |SELECT doc_id, source,
         |       CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
         |FROM c""".stripMargin
    },

    "q_pack_plan" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(${mixU60Sql("shard")} % 4 AS INTEGER) AS shard,
         |         ${mixU60Sql("pack")} AS u,
         |         CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
         |              THEN 0 ELSE length(string_split(
         |                trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END
         |           AS BIGINT) AS tok
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, shard, tok,
         |         CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY u, doc_id)
         |           AS BIGINT) AS cum
         |  FROM t WHERE tok > 0),
         |g AS (
         |  SELECT shard, doc_id, tok, cum - tok AS off,
         |         unnest(generate_series((cum - tok) // 64, (cum - 1) // 64)) AS example
         |  FROM w)
         |SELECT shard, CAST(example AS BIGINT) AS example, doc_id,
         |       CAST(greatest(0, off - example * 64) AS BIGINT) AS pos,
         |       CAST(greatest(0, example * 64 - off) AS BIGINT) AS tok_start,
         |       CAST(least(tok, (example + 1) * 64 - off) AS BIGINT) AS tok_end
         |FROM g""".stripMargin
  )

  // per-vector grain: DuckDB enumerates the query-vector id set; the sanity
  // booleans are computed Spark-side from the real ANN output per vector
  // (see annInvariants). Only the global recall bound remains Spark-only —
  // checking it oracle-side would need the ANN output inside DuckDB.
  private def annInvariantOracle(recallCol: String): String =
    s"""SELECT vec_id AS id, true AS ranks_valid,
       |       true AS per_id_le_k, true AS cos_bounded, true AS $recallCol
       |FROM embeddings""".stripMargin

  private def langIdOracle: String = {
    // separator runs doubled before the count, mirroring
    // TextAnalysis.stopwordHits (adjacent stopwords must not share a space)
    def hits(words: Seq[String]): String = words.map(w =>
      s"(length(string_split(' ' || regexp_replace(lower(text), '\\s+', '  ', 'g')" +
        s" || ' ', ' $w ')) - 1)").mkString(" + ")
    val en = hits(Seq("the", "and", "of", "to", "is"))
    val de = hits(Seq("der", "die", "und", "das", "ist"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    val es = hits(Seq("el", "la", "los", "que", "es"))
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |         CAST($en AS BIGINT) AS s_en, CAST($de AS BIGINT) AS s_de,
       |         CAST($fr AS BIGINT) AS s_fr, CAST($es AS BIGINT) AS s_es
       |  FROM documents)
       |SELECT doc_id, lang,
       |       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       |            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       |            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       |            ELSE 'es' END AS lang_pred
       |FROM sc""".stripMargin
  }
}
