package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.DedupConfig

/** Cross-epoch state for the sub-document dedup passes (`--para-dedup`,
  * `--span-dedup`): the set of paragraph / 3-sentence-span hashes whose
  * first occurrence already shipped in a committed epoch's cleaned text.
  *
  * Without this, "first occurrence corpus-wide survives" only holds within
  * one batch — at 10^12 docs the corpus is NEVER one batch, so a paragraph
  * kept in epoch 1 would be kept AGAIN by every later epoch that re-sees
  * it. With it, each epoch's election anti-joins the seen set first, and
  * the epoch publishes the hashes it newly elected.
  *
  * The hashes are two tables of the state dir's one commit rule
  * ([[Checkpoints]]), `stateDir/paras` and `stateDir/spans`:
  *  - a pass writes nothing. It elects against the published hashes and
  *    returns its cleaned frame plus its lazy winners ([[Elected]]); the
  *    ingest that fingerprints the cleaned text ([[Checkpoints.runEpoch]],
  *    [[Checkpoints.clusterEpoch]]) writes the winners as a part under its
  *    lease and publishes them in the epoch's own manifest line. A crashed
  *    epoch's winners are deleted with its signature rows, and the re-run
  *    elects against the same published hashes, so its cleaned text is
  *    bit-identical;
  *  - a rescan line drops both tables, as it drops clusters and the band
  *    index, so its elections start over; compaction folds their parts;
  *  - the bucket layout is the signature store's: the hash tables are
  *    written CLUSTERED BY (hash) into the line's `signature_buckets`, so
  *    the seen side of the anti-join, the side that grows with corpus age,
  *    scans with HashPartitioning and never re-shuffles; only the incoming
  *    batch exchanges (SubDocStateSpec pins the plan). 0 = plain parquet.
  *
  * Reference analog: none — the reference dedups whole files in one
  * process; epoch-spanning sub-document state is what the webtext +
  * incremental posture adds (SURVEY §2.9 / round-5 deltas).
  */
object SubDocState {

  /** The hashes one pass newly elected (one column, the table's key), for
    * the ingest that publishes its cleaned text. `against` is the line
    * count of the snapshot the election read: an ingest over a newer one
    * refuses it.
    */
  final case class Elected(table: String, winners: DataFrame, against: Long)

  /** The incremental `--para-dedup` pass: clean `df` against the published
    * paragraph hashes, and elect the batch's new ones for the epoch's line
    * to publish. Both frames are lazy. `cfg` is the epoch's config: its
    * seen-side prune and whether it rescans.
    */
  def dedupParagraphsIncremental(spark: SparkSession, stateDir: String,
                                 df: DataFrame, idCol: String, textCol: String,
                                 cfg: DedupConfig = DedupConfig()): (DataFrame, Elected) = {
    import graft.text.ParagraphDedup._
    incremental(spark, stateDir, cfg, "paras", "para_hash",
      explodeParagraphs(df, idCol, textCol).select("para_hash"),
      s => winners(df, idCol, textCol, seen = s),
      s => dedupParagraphs(df, idCol, textCol, seen = s))
  }

  /** The incremental `--span-dedup` pass; see
    * [[dedupParagraphsIncremental]] for the contract.
    */
  def dedupSpansIncremental(spark: SparkSession, stateDir: String,
                            df: DataFrame, idCol: String, textCol: String,
                            cfg: DedupConfig = DedupConfig()): (DataFrame, Elected) = {
    import graft.text.SpanDedup._
    incremental(spark, stateDir, cfg, "spans", "h",
      batchHashes(df, idCol, textCol),
      s => winners(df, idCol, textCol, seen = s),
      s => dedupSpans(df, idCol, textCol, seen = s))
  }

  /** One incremental pass over `table`: elect `batchHashes`' winners
    * against the published hashes, and clean with the same seen set.
    */
  private def incremental(spark: SparkSession, stateDir: String, cfg: DedupConfig,
                          table: String, hashCol: String, batchHashes: DataFrame,
                          winners: Option[DataFrame] => DataFrame,
                          clean: Option[DataFrame] => DataFrame): (DataFrame, Elected) = {
    val snap = Checkpoints.snapshot(spark, stateDir)
    // a rescan elects against nothing: its line drops the earlier hashes
    val seen = if (cfg.forceRescan) None else Checkpoints.read(spark, snap, table)
    // slice-keyed prune (state/SlicePrune): the seen table is the
    // CORPUS-aged side here too — and at tens of paragraphs per doc it is
    // the largest state table of all. Sketch the batch's hashes once
    // (one slim aggregation; the sketch frame never carries text) and
    // filter the seen scan — both consumers (the winners' anti-join and
    // the cleaning join) read the pruned frame; exact at any fpp, since a
    // pruned-out seen row could never have matched a batch hash.
    val pruned =
      if (cfg.stateBloomFpp > 0)
        seen.map(t => SlicePrune.pruneByKeys(t, hashCol, batchHashes, hashCol,
          cfg.stateBloomExpected, cfg.stateBloomFpp))
      else seen
    (clean(pruned), Elected(table, winners(pruned).select(col(hashCol)), snap.next))
  }
}
