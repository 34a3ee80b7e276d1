package graft.fingerprint

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Column-level fingerprint builders — the dual-fingerprint stage of the
  * reference (image-deduper `src/processing/core.rs`): a cryptographic
  * content hash for exact identity plus similarity signatures (SimHash /
  * MinHash) for near-duplicate detection. Everything here is a pure
  * per-row projection: no shuffle, fully codegen-compatible, prunable.
  */
object Fingerprints {

  /** MinHash configuration. The pipeline computes exactly the 42 slots its
    * banding reads (`DedupConfig.numPerms` = 21 bands × 2 rows) and adds the
    * prefix-shingle bands (see `LSH.prefixBandHash`); `NumPerms` = 128 is
    * only the default of the standalone `minhash`/`docSignature` builders.
    * Candidate probability at Jaccard s via the minhash tier is
    * 1-(1-s²)^21:
    *   s=0.75 (edit_5pct)  → ~1-3e-8
    *   s=0.57 (edit_10pct) → 0.9997   (the weakest symmetric planted pair)
    *   s=0.50 (threshold)  → 0.9976
    * Prefix truncations collide on the prefix band with P=1 regardless of
    * Jaccard, so sub-Jaccard containment pairs (truncate_30, s≈0.3) reach
    * the suffix-array verify without needing a dense band matrix. Dense
    * banding (64×2) was measured to dominate the pipeline: a near-identical
    * pair emits one pair-row per colliding band, so b=21+1 cuts the
    * candidate-distinct shuffle ~2.9× at identical planted recall.
    * Survivor false positives at tiny s are killed by the verify tiers, so
    * precision is unaffected by banding choice.
    */
  val NumPerms = 128
  val DefaultBands = 21
  val DefaultRowsPerBand = 2
  val HashSeed = 42L

  /** Canonical text normalization before tokenization: lowercase and
    * collapse whitespace (analog of the reference's grayscale+resize
    * canonicalization, `src/processing/core.rs:44-56`). The raw `text`
    * column itself is never modified — the byte-identity invariant binds
    * the extraction output, not this.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens of the normalized text; empty text → empty array. */
  def tokens(text: Column): Column = {
    val n = normalized(text)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** 64-bit hashes of tokens (xxhash64, seed 42 — Spark built-in). */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t))

  /** Distinct k-shingle hashes of the token stream.
    * Shingle i = tokens[i..i+k); docs shorter than k tokens contribute a
    * single whole-document shingle (so short docs still fingerprint).
    * Output: array<long>, deduplicated (MinHash is over the shingle SET).
    */
  def shingleHashes(text: Column, k: Int, maxShingles: Int = Int.MaxValue): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val full = array(xxhash64(concat_ws(" ", toks)))
    // maxShingles: length-tiered cost cap — huge docs fingerprint a prefix
    // (reference analog: size-tiered downscale, file_processing.rs:134-156)
    val grams = transform(
      sequence(lit(0), least(n - lit(k), lit(maxShingles - 1))),
      i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k)))))
    array_distinct(when(n >= k, grams).otherwise(full))
  }

  /** Exact-identity content hash: sha2-256 hex of the RAW text bytes
    * (role of blake3 in the reference, `src/processing/core.rs:10-33`;
    * the identity invariant binds the text bytes, not the digest algo).
    */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** Fallback fingerprint when content is unusable (reference
    * `generate_fallback_hash`, `file_processing.rs:182-200`): hash of the
    * row's metadata columns.
    */
  def fallbackHash(cols: Column*): Column = xxhash64(cols: _*)

  /** MinHash-128 signature column over distinct k-shingles. */
  def minhash(text: Column, k: Int = 3, numPerms: Int = NumPerms): Column =
    shim.toColumn(MinHashSignature(shim.toExpression(shingleHashes(text, k)), numPerms, HashSeed))

  /** Fused single-pass fingerprint struct (simhash, shingles, minhash) —
    * byte-compatible with the individual combinators above but one codegen
    * kernel per row (see [[DocSignature]]). The production signature path.
    */
  def docSignature(text: Column, k: Int = 3, numPerms: Int = NumPerms,
                   maxShingles: Int = Int.MaxValue): Column =
    shim.toColumn(DocSignature(shim.toExpression(text), k, numPerms, HashSeed, maxShingles))

  /** 64-bit SimHash column over the token multiset. */
  def simhash(text: Column): Column =
    shim.toColumn(SimHash64(shim.toExpression(tokenHashes(text))))

  /** Hamming distance between two 64-bit fingerprints —
    * `bit_count(a ^ b)`, the reference's `PHash::distance`
    * (`src/processing/types.rs:19-44`). Pure codegen built-ins.
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Deterministic text extraction column: binary html → string. */
  def extractText(html: Column): Column =
    shim.toColumn(ExtractText(shim.toExpression(html)))

  /** Pluggable extractor strategies — the seam the reference fills with a
    * platform-specific external-process decoder (S12, macOS
    * `sips`/`qlmanage` shell-outs, `src/platform/macos.rs:53-322`). Here
    * both strategies are in-JVM Column functions; the actual
    * external-process path is [[graft.sources.ExternalPipe]] (one filter
    * process per partition, streamed rows, bounded backpressure) — a
    * DataFrame transform rather than a Column, since a process is not an
    * expression.
    *
    *  - "html":      full boilerplate-dropping extraction ([[ExtractText]])
    *  - "plaintext": UTF-8 decode + whitespace collapse only (for corpora
    *                 whose payloads are already text)
    */
  def extractorByName(name: String): Column => Column = name match {
    case "html"      => extractText
    // paragraph-preserving variant: block-tag boundaries become blank-line
    // breaks — REQUIRED upstream of --para-dedup on an html column (the
    // default extractor collapses all whitespace, leaving one paragraph)
    case "html-paras" => (c: Column) =>
      shim.toColumn(ExtractTextParas(shim.toExpression(c)))
    case "plaintext" => (c: Column) =>
      trim(regexp_replace(decode(c, "UTF-8"), "\\s+", " "))
    case other => throw new IllegalArgumentException(
      s"unknown extractor '$other' (expected html|html-paras|plaintext)")
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of equal
    * slots. zip_with + aggregate — stays in codegen.
    */
  def minhashJaccardEst(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v
    ).cast("double") / size(a)

  /** Exact Jaccard between two array<long> shingle-hash sets. */
  def exactJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(1.0)).otherwise(inter / uni)
  }

  /** Containment of the smaller set in the larger (asymmetric near-dup:
    * truncation / quotation cases that symmetric Jaccard misses —
    * SURVEY.md §7 step 5). Cheap shingle-set approximation used as the GATE
    * for the authoritative suffix-array pass ([[saContainment]]).
    */
  def containment(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val minSize = least(size(a), size(b)).cast("double")
    when(minSize === 0.0, lit(1.0)).otherwise(inter / minSize)
  }

  /** Fused (jaccard, containment) struct over two shingle-hash sets in one
    * pass (see [[ShingleOverlap]]) — the verify-stage hot kernel.
    */
  def shingleOverlap(a: Column, b: Column): Column =
    shim.toColumn(ShingleOverlap(shim.toExpression(a), shim.toExpression(b)))

  /** Longest common substring length of two strings (generalized suffix
    * array + Kasai LCP — the north_rule's substring pass kernel).
    */
  def saLcs(a: Column, b: Column): Column =
    shim.toColumn(SuffixArrayLCS(shim.toExpression(a), shim.toExpression(b)))

  /** Suffix-array substring containment: LCS / min(length). 1.0 iff the
    * shorter string occurs verbatim inside the longer. Both empty → 1.0
    * (exact dups, caught upstream by content hash anyway).
    */
  def saContainment(a: Column, b: Column): Column = {
    // UTF-16 code units, NOT length() (code points): lcsLength measures in
    // Java chars, so a code-point denominator over-scores supplementary-
    // plane text (emoji/rare CJK: ratio could exceed 1.0) and disagrees
    // with the decision form SuffixArrayContainsAtLeast, which is Java-
    // length throughout. utf16 len = code points + count of astral chars.
    def utf16Len(c: Column): Column =
      length(c) + size(regexp_extract_all(c, lit("[\\x{10000}-\\x{10FFFF}]"), lit(0)))
    val minLen = least(utf16Len(a), utf16Len(b)).cast("double")
    when(minLen === 0.0, lit(1.0))
      .otherwise(saLcs(a, b).cast("double") / minLen)
  }

  /** Decision form `saContainment(a,b) >= threshold` via the O(n+m)
    * rolling-window scan instead of the O(n log² n) SA build — what the
    * pipeline's verify stage uses (it only thresholds the score).
    */
  def saContainmentAtLeast(a: Column, b: Column, threshold: Double): Column =
    shim.toColumn(SuffixArrayContainsAtLeast(
      shim.toExpression(a), shim.toExpression(b), threshold))
}
