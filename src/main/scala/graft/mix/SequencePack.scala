package graft.mix

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.state.Observed

/** Sequence packing — the step between a sharded corpus and a training
  * loader: concatenate each shard's documents (in a deterministic,
  * decorrelated order) into one token stream and cut it into fixed-length
  * examples of `seqLen` tokens, documents splitting across example
  * boundaries GPT-style. The output is a PLAN — one row per
  * (example, document) overlap saying which token slice of which doc
  * lands where — not re-materialized text: the loader streams the shard
  * file in order, concatenates, and cuts, or seeks into example k via
  * the plan.
  *
  * Determinism contract: the pack order within a shard is
  * u60(id[#epoch], "pack") — a salted uniform shuffle, so (a) it is
  * reproducible bit-for-bit across runs/engines, (b) neighbouring
  * documents in an example are decorrelated (consecutive crawl urls of
  * one site never pack adjacently by construction), and (c) it is
  * independent of the shard-assignment variate (different salt).
  *
  * Closed-form arithmetic (DuckDB-replayable, q_pack_plan): with
  * off = running token sum before the doc and cum = off + tok, the doc
  * overlaps examples floor(off/L) .. floor((cum-1)/L); in example e it
  * occupies in-example position max(0, off − e·L) with its token slice
  * [max(0, e·L − off), min(tok, (e+1)·L − off)). Every example except
  * each shard's last is exactly L tokens with zero padding — the packing
  * is waste-free by construction.
  *
  * Scale shape: ONE exchange on the shard key for the window (the same
  * key the export already shuffles on), then a per-row generator for the
  * example spans. [[planFromShards]] runs AFTER the shards are written
  * and reads back only (shard, id, n_tokens) — column pruning keeps the
  * text out of the plan pass entirely, the same trick the export
  * manifest uses.
  *
  * Reference analog: none — loader-shape layout is what the
  * training-data payload adds (SURVEY §2 beyond-reference rows, A17).
  */
object SequencePack {

  /** The identity a repeated corpus packs by: id, or id#epoch when the
    * mix up-samples (each copy packs — and shards — independently).
    */
  def packKey(id: Column, epoch: Option[Column]): Column =
    epoch.fold(id.cast("string"))(e =>
      concat(id.cast("string"), lit("#"), e.cast("string")))

  /** Pack-order variate: u60 of the pack key under the "pack" salt. */
  def packOrderOf(id: Column, epoch: Option[Column]): Column =
    CorpusMix.u60(packKey(id, epoch), "pack")

  /** THE pack ordering — the one sort-key list the export write and the
    * plan window must share byte-for-byte (the loader contract is
    * "sequential file read ≡ plan stream"; two drifting copies of this
    * list would break it silently). Variate first, then the total
    * (id, epoch) tiebreak.
    */
  def packOrdering(idCol: String, epochCol: Option[String]): Seq[Column] =
    Seq(packOrderOf(col(idCol), epochCol.map(col)), col(idCol)) ++
      epochCol.map(col)

  /** The plan over a frame that already carries a shard column and a
    * token count (no text touched). Zero-token docs contribute nothing
    * to the stream and are dropped from the plan.
    */
  def planWithTokens(df: DataFrame, idCol: String, tokCol: String,
                     seqLen: Int, shardCol: String = "shard",
                     epochCol: Option[String] = None): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val epoch = epochCol.map(col)
    val w = Window.partitionBy(col(shardCol))
      .orderBy(packOrdering(idCol, epochCol).map(_.asc): _*)
    val L = lit(seqLen.toLong)
    val outCols =
      Seq(col(shardCol), col("example"), col(idCol)) ++ epoch ++ Seq(
        greatest(lit(0L), col("_pk_off") - col("example") * L).as("pos"),
        greatest(lit(0L), col("example") * L - col("_pk_off")).as("tok_start"),
        least(col("_pk_tok"), (col("example") + lit(1L)) * L - col("_pk_off"))
          .as("tok_end"))
    df.withColumn("_pk_tok", col(tokCol).cast("long"))
      .filter(col("_pk_tok") > 0)
      .withColumn("_pk_cum", sum(col("_pk_tok")).over(w))
      .withColumn("_pk_off", col("_pk_cum") - col("_pk_tok"))
      // integer div (not floor of a double division): offsets are exact longs
      .withColumn("example", explode(sequence(
        expr(s"_pk_off div ${seqLen}L"),
        expr(s"(_pk_cum - 1) div ${seqLen}L"))))
      .select(outCols: _*)
  }

  /** The plan straight from a corpus frame: assigns shards and counts
    * tokens first (the oracle-query entry point; the CLI path uses
    * [[planFromShards]] so the corpus is only evaluated once).
    */
  def plan(df: DataFrame, idCol: String, textCol: String, seqLen: Int,
           nShards: Int, epochCol: Option[String] = None,
           tokensOf: Column => Column =
             graft.text.TextAnalysis.tokenCount): DataFrame = {
    val key = packKey(col(idCol), epochCol.map(col))
    planWithTokens(
      df.withColumn("shard", ShardedExport.shardOf(key, nShards))
        .withColumn("_pk_tok_in", tokensOf(col(textCol))),
      idCol, "_pk_tok_in", seqLen, "shard", epochCol)
  }

  /** The plan from an already-written shard directory: reads back ONLY
    * (shard, id[, epoch], n_tokens) — the text column never loads — and
    * recomputes the same pack order the export wrote the rows in, so the
    * plan's example stream equals a sequential read of each shard file.
    */
  def planFromShards(spark: SparkSession, dir: String, idCol: String,
                     seqLen: Int, epochCol: Option[String] = None): DataFrame = {
    val cols = Seq(col("shard").cast("int").as("shard"), col(idCol)) ++
      epochCol.map(col) ++ Seq(col("n_tokens"))
    planWithTokens(spark.read.parquet(dir).select(cols: _*),
      idCol, "n_tokens", seqLen, "shard", epochCol)
  }

  /** Write the plan next to the shards (`dir/_pack`, one file per shard,
    * (shard, example) order — the `_` prefix keeps corpus readers of
    * `dir` from seeing it) and return (examples, planRows).
    *
    * Guards the loader contract two ways: the export manifest must record
    * `row_order: pack` (ShardedExport writes it), else the persisted plan
    * would describe a token stream the shard files are NOT in — seeking
    * via it would read wrong slices (pass `requirePackOrder = false` only
    * for a plan consumed purely by id-join, never by file position); and
    * the manifest's EPOCH lineage must agree with `epochCol` — planning an
    * epoch-keyed export without its epoch column would tie every repeat
    * copy on all sort keys (RANGE-framed peers share one running sum, so
    * offsets double-count) and diverge from the written order with zero
    * errors. The epoch check applies whenever a manifest exists,
    * regardless of `requirePackOrder`.
    */
  def writePlan(spark: SparkSession, dir: String, idCol: String,
                seqLen: Int, nShards: Int,
                epochCol: Option[String] = None,
                requirePackOrder: Boolean = true): (Long, Long) = {
    val mPath = new org.apache.hadoop.fs.Path(s"$dir/_manifest.json")
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest: Option[com.fasterxml.jackson.databind.JsonNode] =
      if (!fs.exists(mPath)) None
      else {
        val in = fs.open(mPath)
        val text =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        ShardedExport.parseManifest(text)
      }
    if (requirePackOrder) {
      require(manifest.exists(m =>
          Option(m.get("row_order")).exists(_.asText("") == "pack")),
        s"$dir was not exported in pack order (manifest row_order) — " +
          "export with packOrder=true (CLI: --pack-len sets it) before " +
          "writing a seekable pack plan, or pass requirePackOrder=false " +
          "for a join-by-id-only plan")
    }
    manifest.foreach { m =>
      val keyed = Option(m.get("epoch_keyed")).exists(_.asBoolean(false))
      val mCol = Option(m.get("epoch_col")).map(_.asText)
      if (keyed) {
        require(epochCol.isDefined,
          s"$dir is epoch-keyed (manifest) but the plan was asked without " +
            "an epoch column — repeat copies would double-count offsets; " +
            s"pass epochCol=Some(${mCol.getOrElse("epoch")})")
        require(mCol.isEmpty || mCol == epochCol,
          s"$dir was exported with epoch column '${mCol.get}' (manifest) " +
            s"but the plan was asked with '${epochCol.get}'")
      } else require(epochCol.isEmpty,
        s"$dir is not epoch-keyed (manifest) but the plan was asked with " +
          s"epoch column '${epochCol.getOrElse("")}'")
    }
    // an empty export (valid zero manifest, no shard dirs) has nothing to
    // plan — and nothing read.parquet could infer a schema from
    if (ShardedExport.listShardData(spark, dir).isEmpty) return (0L, 0L)
    val plan = planFromShards(spark, dir, idCol, seqLen, epochCol)
    // accounting rides the write — zero extra pass over the corpus-sized
    // plan: rows is a plain count; examples counts pos == 0 rows (the
    // stream partitions each shard's tokens, so exactly one doc slice
    // covers token e·L of example e — one pos-0 row per example)
    val obs = org.apache.spark.sql.Observation()
    plan.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("example"), col("pos"))
      .observe(obs,
        coalesce(sum(when(col("pos") === 0L, 1L)), lit(0L)).as("examples"),
        count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$dir/_pack")
    (Observed.long(obs, 0), Observed.long(obs, 1))
  }
}
