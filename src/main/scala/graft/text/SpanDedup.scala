package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sentence-span dedup — C4's "discard all but one of any three-sentence
  * span occurring more than once" (Raffel et al. 2020, §2.2), the exact
  * corpus-wide pass that kills syndicated blurbs and quoted boilerplate
  * that paragraph boundaries miss.
  *
  * Semantics (deterministic, oracle-checkable):
  *   - sentences = text split after terminal punctuation (`(?<=[.!?])\s+`),
  *     trimmed, empties dropped;
  *   - every run of `window` consecutive sentences forms a span; identity =
  *     sha2-256 of the space-joined span;
  *   - the FIRST occurrence of each span corpus-wide — smallest
  *     (orderCol, position) — wins; every sentence covered by a LOSING
  *     occurrence of a duplicated span is dropped from its document;
  *   - survivors re-join with single spaces in original order;
  *   - a document with fewer than `window` sentences has no spans and
  *     passes through untouched; a document whose EVERY sentence lost
  *     keeps its (sentence-normalized) text — same rationale as
  *     ParagraphDedup: wholly-duplicated content is document-level dedup's
  *     job to act on, not this pass's to silently empty.
  *
  * Scale shape: spans shuffle as (id, ord, pos, span_hash) — 8-byte-ish
  * rows, never span text. The election is one hash-partitioned window;
  * losers explode into at most `window` covered positions each, and the
  * covered set anti-joins the sentence table on (id, pos) — both keyed by
  * doc, so no skew (a doc owns its positions). A span duplicated 10^6
  * times legitimately emits 10^6-1 loser rows — that is the output's own
  * size (each doc must drop its own copy), not a join blow-up.
  *
  * Reference analog: none — beyond-reference webtext operator (SURVEY §2
  * round-5 deltas), sibling of ParagraphDedup at sentence granularity.
  */
object SpanDedup {

  private val SentSplit = "(?<=[.!?])\\s+"
  private val Trim = Repetition.Trim // ONE trim definition across the battery

  /** Trimmed non-empty sentences of `text`. */
  def sentencesOf(text: Column): Column =
    filter(transform(split(text, SentSplit), s => regexp_replace(s, Trim, "")),
      s => length(s) > 0)

  private def rebuild(as: String): Column =
    array_join(
      transform(array_sort(collect_list(struct(col("pos"), col("sent")))),
        s => s.getField("sent")),
      " ").as(as)

  /** Per-span exploded view: (idCol, _ord, pos, h) — one row per run of
    * `window` consecutive sentences, identity = sha2 of the joined run.
    */
  private def explodeSpans(base: DataFrame, idCol: String, window: Int): DataFrame =
    base.select(col(idCol), col("_ord"),
      explode(when(size(col("_sents")) < window, array().cast("array<struct<pos:int,h:string>>"))
        .otherwise(transform(sequence(lit(0), size(col("_sents")) - window),
          i => struct(i.as("pos"),
            sha2(array_join(slice(col("_sents"), i + 1, lit(window)), " "), 256)
              .as("h"))))).as("sp"))
      .select(col(idCol), col("_ord"),
        col("sp.pos").as("pos"), col("sp.h").as("h"))

  /** Corpus-wide duplicated-span removal. Output: idCol, `textCol`
    * (cleaned), n_sents, n_dropped.
    *
    * `seen` (one column `h`) extends "corpus-wide" ACROSS epochs: a span
    * hash present there already kept its first occurrence in a prior
    * epoch's text, so EVERY occurrence in this batch is a loser; unseen
    * hashes run the within-batch election. [[winners]] over the same
    * inputs is the fresh-hash set to persist for the next epoch.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 window: Int = 3, orderCol: Option[Column] = None,
                 seen: Option[DataFrame] = None): DataFrame = {
    require(window >= 2, s"span window must be >= 2, got $window")
    val ord = orderCol.getOrElse(col(idCol))
    val base = df.select(col(idCol), col(textCol), ord.as("_ord"))
      .withColumn("_sents", sentencesOf(col(textCol)))

    val sents = base.select(col(idCol), col("_ord"),
      posexplode(col("_sents")).as(Seq("pos", "sent")))

    // spans carry only the hash into the election shuffle, never the text;
    // a prior-epoch hash marks every batch occurrence a loser outright
    // (ONE join against the seen table — left with a marker, so the state
    // side is scanned once; bucket-aligned when the state is bucketed)
    val spans = explodeSpans(base, idCol, window)
    val marked = seen match {
      case Some(s) => spans.join(
        s.select(col("h")).withColumn("_prior", lit(true)), Seq("h"), "left")
      case None => spans.withColumn("_prior", lit(null).cast("boolean"))
    }
    val w = Window.partitionBy("h").orderBy(col("_ord").asc, col("pos").asc)
    val covered = marked.withColumn("_rn", row_number().over(w))
      .filter(col("_prior").isNotNull || col("_rn") > 1)
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (window - 1)))
        .as("pos"))
      .distinct()

    val kept = sents.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n_kept"), rebuild("_kept"))

    val totals = sents.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sents"), rebuild("_full"))

    // _orig: a doc with ZERO sentences (null or whitespace-only text) is
    // absent from totals/kept and must pass through UNTOUCHED (the
    // documented contract, matching ParagraphDedup) — not be rewritten to ""
    base.select(col(idCol), col(textCol).as("_orig"))
      .join(totals, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_kept"), col("_full"), col("_orig")).as(textCol),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        (coalesce(col("n_sents"), lit(0L)) - coalesce(col("_n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** The batch's span hashes only — the slim frame a slice-keyed prune
    * (state/SlicePrune) sketches before the cross-epoch seen join; order
    * is irrelevant to a sketch, so no `_ord` plumbing.
    */
  def batchHashes(df: DataFrame, idCol: String, textCol: String,
                  window: Int = 3): DataFrame =
    explodeSpans(df.select(col(idCol), col(textCol), lit(0L).as("_ord"))
      .withColumn("_sents", sentencesOf(col(textCol))), idCol, window)
      .select("h")

  /** The span hashes this batch newly elects a first occurrence for —
    * distinct fresh hashes only (prior-epoch hashes anti-join out before
    * the election). Persisting this set as `seen` for the next epoch makes
    * the C4 span pass incremental across a corpus processed in epochs.
    */
  def winners(df: DataFrame, idCol: String, textCol: String,
              window: Int = 3, orderCol: Option[Column] = None,
              seen: Option[DataFrame] = None): DataFrame = {
    require(window >= 2, s"span window must be >= 2, got $window")
    val ord = orderCol.getOrElse(col(idCol))
    val base = df.select(col(idCol), col(textCol), ord.as("_ord"))
      .withColumn("_sents", sentencesOf(col(textCol)))
    val spans = explodeSpans(base, idCol, window)
    val fresh = seen match {
      case Some(s) => spans.join(s.select(col("h")), Seq("h"), "left_anti")
      case None    => spans
    }
    val w = Window.partitionBy("h").orderBy(col("_ord").asc, col("pos").asc)
    fresh.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("h"))
  }
}
