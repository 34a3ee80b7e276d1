package graft.mix

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.Observed

/** Sharded training export — the sink at the very end of the pipeline:
  * write the assembled corpus as N addressable, deterministic,
  * size-balanced shards plus a manifest, the layout training jobs and
  * data loaders consume (shard = the unit of shuffling, resumption and
  * per-worker assignment downstream).
  *
  * Determinism contract: a document's shard depends only on (id,
  * nShards) — [[shardOf]] is u60-based, so the assignment is uniform,
  * engine-replayable (DuckDB oracle), and stable across runs and cluster
  * sizes; within a shard, rows are written in id order (pack-order when
  * `packOrder` is set — see [[SequencePack]]; up-sampled corpora shard
  * and order by (id, epoch)). Re-exporting the same corpus reproduces
  * byte-identical shard membership.
  *
  * Scale shape: ONE exchange and ONE evaluation — a hash repartition on
  * the shard id (all rows of a shard land in one partition, so each
  * shard directory is exactly one file; range partitioning would make
  * the task→shard map a bijection but pays a separate bounds-sampling
  * job = a second full pass over the corpus). Shard count is the operator's
  * size dial: pick nShards ≈ corpus_bytes / target_shard_bytes (64-512 MB
  * targets keep both HDFS/S3 and loader-side streaming happy); the hash
  * balances shard sizes to O(1/sqrt(docs_per_shard)) relative skew. The
  * manifest aggregation reads back only the pruned stat columns.
  */
object ShardedExport {

  /** Deterministic shard of an id: u60(id, "shard") mod nShards —
    * uniform, independent of the mix-sampling variate (different salt).
    * DuckDB replay: `CAST(u60 % n AS INT)`.
    */
  def shardOf(id: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    pmod(CorpusMix.u60(id, "shard"), lit(nShards.toLong)).cast("int")
  }

  /** Per-shard manifest row. */
  case class ShardStat(shard: Int, docs: Long, tokens: Long)

  /** Write `df` as `nShards` parquet shards under `dir`
    * (`shard=K/part-*.parquet`, one file per shard, rows in id order)
    * and a `_manifest.json` recording per-shard docs + token counts and
    * the export parameters — the lineage a training job checks before
    * trusting the data. Returns the manifest rows.
    *
    * Each row also carries its `n_tokens` (loaders budget batches by it),
    * computed BEFORE the write — the manifest aggregation then reads back
    * only the (shard, n_tokens) columns, never re-scanning the text: at
    * corpus scale the second pass over the heavy column would cost nearly
    * as much as the export itself.
    */
  /** The shared front half of every export format: shard assignment
    * ((id, epoch)-keyed so up-sampled repeat copies spread), n_tokens in
    * the configured metric, the HASH repartition, and the in-shard sort.
    *
    * HASH — NOT repartitionByRange: range partitioning computes its
    * bounds with a separate sampling job that evaluates the whole child
    * once more, i.e. a second full pass over the corpus at scale. Hash
    * keeps one evaluation and still puts ALL rows of shard k in exactly
    * one partition (the partition is a function of the value), so
    * partitionBy still emits exactly one file per shard directory; the
    * price is occupancy — ~1/e of the n write tasks draw no shard and a
    * few draw 2-3 (bounded small), which IO parallelism absorbs where a
    * duplicate compute pass would not.
    *
    * Pack mode sorts by SequencePack.packOrdering — the ONE shared
    * sort-key list — so a sequential read of the shard file IS the
    * example token stream the plan describes (sort keys need not be
    * output columns; the variate is recomputable from the written ids).
    */
  private def shardedOrdered(df: DataFrame, idCol: String, textCol: String,
                             nShards: Int, epochCol: Option[String],
                             packOrder: Boolean, tokenMetric: String,
                             dropObs: org.apache.spark.sql.Observation): DataFrame = {
    val key = SequencePack.packKey(col(idCol), epochCol.map(col))
    val order: Seq[Column] =
      if (packOrder) SequencePack.packOrdering(idCol, epochCol)
      else Seq(col(idCol)) ++ epochCol.map(col)
    // coalesce: a null text row (unextracted doc) budgets as 0 tokens
    // everywhere — manifest sums, pack plans, and every jsonl line carry
    // a concrete n_tokens, never a hole.
    // A null pack key (null id, or null epoch when epoch-keyed) has no
    // shard under the determinism contract — partitionBy would bury the
    // row in __HIVE_DEFAULT_PARTITION__, a directory no loader reads and
    // the manifest read-back cannot address. Such rows are dropped from
    // the export and COUNTED (observe rides the write; the manifest
    // records `dropped_null_key`) — excluded loudly, never silently.
    df.withColumn("shard", shardOf(key, nShards))
      .withColumn("n_tokens",
        coalesce(TokenMetric.of(tokenMetric)(col(textCol)), lit(0L)))
      .observe(dropObs, coalesce(sum(when(col("shard").isNull, 1L)), lit(0L))
        .as("dropped_null_key"))
      .where(col("shard").isNotNull)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard") +: order: _*)
  }

  /** THE manifest parser (Jackson, shipped with Spark), shared with
    * SequencePack.writePlan — field extraction coupled to the writer's
    * exact spacing (substring or regex matches) would reject a manifest
    * round-tripped through any JSON pretty-printer, and `"docs"` appears
    * in the per-shard body rows too, so position-independent real parsing
    * is the only spelling that stays honest. None = unparseable.
    */
  private[mix] def parseManifest(m: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(m))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `shard=K` partition directories under `dir` with their DATA files
    * (dot/underscore side-files excluded) — the ONE definition of "what
    * counts as shard data", shared by the layout check, jsonl byte
    * accounting and byte verification; export and verify must never
    * disagree on it. Non-numeric partition names (a stale or foreign
    * writer's __HIVE_DEFAULT_PARTITION__, a hand-copied stray) come back
    * as Left so callers can report rather than crash on them.
    */
  private[mix] def listShardData(spark: SparkSession, dir: String)
      : Seq[(Either[String, Int], Seq[org.apache.hadoop.fs.FileStatus])] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .map { s =>
        val name = s.getPath.getName.stripPrefix("shard=")
        val files = fs.listStatus(s.getPath).toSeq.filter(f =>
          f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
        (name.toIntOption.toRight(name), files)
      }
  }

  /** Write the manifest text at `dir/_manifest.json` (overwrite). */
  private def writeManifest(spark: SparkSession, dir: String,
                            manifest: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** The shared lineage fields every format's manifest records. The epoch
    * COLUMN NAME is lineage too: verifyExport recomputes the shard function
    * from (id, epoch) and must bind the same column the export keyed by.
    */
  private def lineageFields(nShards: Int, idCol: String, packOrder: Boolean,
                            epochCol: Option[String], tokenMetric: String,
                            droppedNullKey: Long): String =
    s"""  "n_shards": $nShards,
       |  "id_col": "$idCol",
       |  "row_order": "${if (packOrder) "pack" else "id"}",
       |  "epoch_keyed": ${epochCol.isDefined},${
            epochCol.map(c => "\n  \"epoch_col\": \"" + c + "\",").getOrElse("")}
       |  "dropped_null_key": $droppedNullKey,
       |  "token_metric": "$tokenMetric",""".stripMargin

  def exportShards(spark: SparkSession, df: DataFrame, idCol: String,
                   textCol: String, dir: String, nShards: Int,
                   epochCol: Option[String] = None,
                   packOrder: Boolean = false,
                   tokenMetric: String = "ws"): Seq[ShardStat] = {
    val dropObs = org.apache.spark.sql.Observation()
    shardedOrdered(df, idCol, textCol, nShards, epochCol, packOrder,
      tokenMetric, dropObs)
      .write.partitionBy("shard").mode("overwrite").parquet(dir)
    val dropped = Observed.long(dropObs)
    // manifest stats from the WRITTEN data (what a loader will see), with
    // the scan pruned to the two stat columns. An empty corpus (a 0-rate
    // mix, an over-aggressive filter chain) writes no shard directory at
    // all — read.parquet would fail schema inference on the bare _SUCCESS,
    // so the empty layout short-circuits to an empty (but valid) manifest.
    val stats =
      if (listShardData(spark, dir).isEmpty) Seq.empty[ShardStat]
      else spark.read.parquet(dir)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
        .collect()
        .map(r => ShardStat(r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_.shard).toSeq
    val body = stats.map(s =>
        s"""    {"shard":${s.shard},"docs":${s.docs},"tokens":${s.tokens}}""")
      .mkString("[\n", ",\n", "\n  ]")
    // row_order / epoch_keyed are LINEAGE a consumer must check before
    // trusting file positions: "pack" = sequential read is the example
    // stream (SequencePack.writePlan enforces it); epoch_keyed = doc
    // counts include up-sampled repeat copies, rows carry their ordinal
    writeManifest(spark, dir,
      s"""{
         |${lineageFields(nShards, idCol, packOrder, epochCol, tokenMetric, dropped)}
         |  "format": "parquet",
         |  "docs": ${stats.map(_.docs).sum},
         |  "tokens": ${stats.map(_.tokens).sum},
         |  "shards": $body
         |}
         |""".stripMargin)
    stats
  }

  /** Trust-but-verify for a shard directory: recompute what the manifest
    * claims from the data actually on disk and report every disagreement —
    * the check a training job runs before pointing loaders at an export it
    * did not produce itself (manifests go stale when humans copy partial
    * directories around; a silent mismatch starves or double-feeds
    * workers). Parquet verifies doc/token totals, the shard function
    * (every row's u60 assignment equals its directory), and the
    * one-data-file-per-shard layout — all from a pruned scan, text never
    * loads. Jsonl verifies the per-shard byte figures against a fresh
    * listing and the doc/token totals by re-reading the json (a full
    * parse: jsonl has no prunable read-back, which is why this mode
    * exists as an explicit opt-in, not an automatic gate).
    * Returns (issues — empty means verified, docs, tokens).
    */
  def verifyExport(spark: SparkSession, dir: String): (Seq[String], Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(s"$dir/_manifest.json")
    if (!fs.exists(mPath)) return (Seq("missing _manifest.json"), 0L, 0L)
    // an unreadable manifest (checksum mismatch after a hand edit, torn
    // copy) is a verification FAILURE to report, not an exception to throw
    val m =
      try {
        val in = fs.open(mPath)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      } catch {
        case e: java.io.IOException =>
          return (Seq(s"unreadable _manifest.json: ${e.getMessage}"), 0L, 0L)
      }
    val tree = parseManifest(m) match {
      case Some(t) => t
      case None    => return (Seq("unparseable _manifest.json"), 0L, 0L)
    }
    def longField(name: String): Option[Long] =
      Option(tree.get(name)).filter(_.isIntegralNumber).map(_.asLong)
    def strField(name: String): Option[String] =
      Option(tree.get(name)).filter(_.isTextual).map(_.asText)
    val issues = scala.collection.mutable.ArrayBuffer[String]()
    val format = strField("format").getOrElse("parquet")
    val nShards = longField("n_shards").getOrElse(0L).toInt
    val idCol = strField("id_col").getOrElse("url")
    val epochKeyed = Option(tree.get("epoch_keyed")).exists(_.asBoolean(false))
    // epoch_col lineage (manifests from before the field default to the
    // column name the CLI has always used)
    val epochColName = strField("epoch_col").getOrElse("epoch")
    // layout: every shard=K dir holds exactly one data file, K in range
    val shardData = listShardData(spark, dir)
    shardData.foreach {
      case (Right(k), files) if k >= 0 && k < nShards =>
        if (files.length != 1)
          issues += s"shard $k has ${files.length} data files (expected 1)"
      case (Right(k), _)   => issues += s"unexpected partition directory: shard=$k"
      case (Left(name), _) => issues += s"unexpected partition directory: shard=$name"
    }
    // an empty layout is legitimate (an empty corpus exports a valid
    // manifest with no shard dirs) — but spark.read cannot infer a schema
    // from it, so the data side short-circuits to zero
    val (docs, tokens) = format match {
      case _ if shardData.isEmpty => (0L, 0L)
      case "jsonl" =>
        val listed = shardData.collect { case (Right(k), files) =>
          k -> files.map(_.getLen).sum
        }.toMap
        val claimed = {
          import scala.jdk.CollectionConverters._
          Option(tree.get("shards")).toSeq.flatMap(_.elements().asScala)
            .flatMap(s => for {
              k <- Option(s.get("shard")).map(_.asInt)
              b <- Option(s.get("bytes")).map(_.asLong)
            } yield k -> b).toMap
        }
        if (listed != claimed)
          issues += s"per-shard bytes differ from the manifest: " +
            s"listed $listed vs claimed $claimed"
        val back = spark.read.json(dir)
        val agg = back.agg(count(lit(1)), sum(coalesce(col("n_tokens"), lit(0L))))
          .collect()(0)
        (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
      case _ =>
        val df = spark.read.parquet(dir)
        if (epochKeyed && !df.columns.contains(epochColName)) {
          // a verification FAILURE to report, not an UNRESOLVED_COLUMN to
          // throw: the manifest promises an epoch key the data cannot bind
          issues += s"manifest says epoch_keyed with column '$epochColName' " +
            "but the data has no such column; shard function not verified"
          val agg = df.agg(count(lit(1)),
            sum(coalesce(col("n_tokens"), lit(0L)))).collect()(0)
          (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
        } else {
          val key =
            if (epochKeyed) SequencePack.packKey(col(idCol), Some(col(epochColName)))
            else col(idCol)
          val agg = df.agg(count(lit(1)),
            sum(coalesce(col("n_tokens"), lit(0L))),
            sum(when(shardOf(key, math.max(1, nShards)).cast("long") =!=
              col("shard").cast("long"), 1L).otherwise(0L))).collect()(0)
          val misplaced = if (agg.isNullAt(2)) 0L else agg.getLong(2)
          if (misplaced > 0L)
            issues += s"$misplaced rows sit in a shard their id does not hash to"
          (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
        }
    }
    longField("docs").foreach(d =>
      if (d != docs) issues += s"manifest claims $d docs, data holds $docs")
    longField("tokens").foreach(t =>
      if (t != tokens) issues += s"manifest claims $t tokens, data holds $tokens")
    (issues.toSeq, docs, tokens)
  }

  /** Write the corpus as gzipped JSON-LINES shards (`shard=K/part-*.txt.gz`,
    * one file per shard, same deterministic membership and id-order rows
    * as the parquet format) — the other loader lingua franca: every row is
    * one JSON object that ALWAYS carries `n_tokens` (coalesced to 0 for
    * null text; other null columns are omitted per JSON-lines convention).
    *
    * Accounting differs from parquet BY NECESSITY: a jsonl file cannot be
    * re-scanned with column pruning (reading (shard, n_tokens) back would
    * re-parse — and re-decompress — every byte of text, a second full pass
    * at corpus scale). So doc/token totals are OBSERVE-fused onto the write
    * itself (a `CollectMetrics` node — zero extra pass, the same accounting
    * trick the epoch pipeline uses), and the per-shard manifest rows carry
    * file BYTES from a directory listing (what a loader balances streams
    * by) instead of per-shard token sums. Returns (docs, tokens).
    */
  def exportShardsJsonl(spark: SparkSession, df: DataFrame, idCol: String,
                        textCol: String, dir: String, nShards: Int,
                        epochCol: Option[String] = None,
                        tokenMetric: String = "ws"): (Long, Long) = {
    // no packOrder here ON PURPOSE: a jsonl dir can never back a seekable
    // pack plan (no prunable read-back), so offering the knob would mint a
    // manifest whose row_order:pack lineage writePlan's guard TRUSTS
    val dropObs = org.apache.spark.sql.Observation()
    val prepped = shardedOrdered(df, idCol, textCol, nShards, epochCol,
      packOrder = false, tokenMetric, dropObs)
    val obs = org.apache.spark.sql.Observation()
    val payloadCols = prepped.columns.filterNot(_ == "shard").map(col)
    prepped
      .observe(obs, count(lit(1)).as("docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tokens"))
      .select(col("shard"), to_json(struct(payloadCols: _*)).as("value"))
      .write.partitionBy("shard").mode("overwrite")
      .option("compression", "gzip").text(dir)
    val (docs, tokens) = (Observed.long(obs, 0), Observed.long(obs, 1))
    val dropped = Observed.long(dropObs)
    // per-shard bytes from the listing — free, and the quantity a
    // streaming loader actually balances by (listShardData is the shared
    // definition of what counts: no .crc side-files, no stray dirs)
    val shardBytes = listShardData(spark, dir)
      .collect { case (Right(k), files) => k -> files.map(_.getLen).sum }
      .sortBy(_._1)
    val body = shardBytes.map { case (k, b) =>
        s"""    {"shard":$k,"bytes":$b}""" }
      .mkString("[\n", ",\n", "\n  ]")
    writeManifest(spark, dir,
      s"""{
         |${lineageFields(nShards, idCol, packOrder = false, epochCol,
                           tokenMetric, dropped)}
         |  "format": "jsonl",
         |  "docs": $docs,
         |  "tokens": $tokens,
         |  "shards": $body
         |}
         |""".stripMargin)
    (docs, tokens)
  }
}
