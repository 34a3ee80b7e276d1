package graft.fingerprint

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the fingerprint stage.
  *
  * These are the web-text analogs of the reference's per-item hash kernels
  * (image-deduper `processing/core.rs:37-104` aHash, `:109-154` enhanced
  * 1024-bit hash): one fused pass per row, no shuffle, no per-row JVM object
  * churn beyond the output array.  They are deliberately scalar expressions
  * (not UDAFs): a MinHash/SimHash signature is a pure function of one row's
  * token array, so it rides inside project/codegen stages and Catalyst keeps
  * column pruning + pushdown around it.
  */

/** 64-bit xxhash-style finalizer used to derive per-permutation hash
  * families deterministically. Public-domain xxhash64 avalanche.
  */
object HashKernels {
  @inline def avalanche(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Deterministic (a_i, b_i) affine coefficients for the MinHash
    * permutation family h_i(x) = a_i*x + b_i over Z_2^64, a_i odd.
    * Multiply-shift universal hashing; min taken unsigned.
    */
  def coefficients(numPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val as = new Array[Long](numPerms)
    val bs = new Array[Long](numPerms)
    var i = 0
    while (i < numPerms) {
      as(i) = avalanche(seed + 2L * i + 1) | 1L // odd
      bs(i) = avalanche(seed + 2L * i + 2)
      i += 1
    }
    (as, bs)
  }
}

/** MinHash signature over a pre-hashed shingle array.
  *
  * Input: array<long> (64-bit shingle hashes, typically
  * `transform(shingles, xxhash64)`), deduplicated upstream.
  * Output: array<long> of length `numPerms` — slot i =
  * min_{x in shingles} (a_i * x + b_i), compared unsigned.
  *
  * Plays the role of the reference's Enhanced([u64;16]) perceptual hash
  * (image-deduper `src/processing/types.rs:13-14`,
  * `src/processing/core.rs:109-154`): a wide similarity signature whose
  * bandwise collisions estimate Jaccard similarity.
  *
  * Empty input array → all slots = unsigned max (0xFFFF...), a sentinel
  * signature that never collides with a real band except against another
  * empty doc (desired: empty docs are exact dups of each other and are
  * caught by the content-hash path instead).
  */
case class MinHashSignature(child: Expression, numPerms: Int, seed: Long)
    extends UnaryExpression {

  @transient private lazy val (as, bs) = HashKernels.coefficients(numPerms, seed)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<bigint>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, -1L) // unsigned max sentinel
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val x = arr.getLong(j)
        var i = 0
        while (i < numPerms) {
          val h = as(i) * x + bs(i)
          // unsigned compare via sign-bit flip
          if ((h ^ Long.MinValue) < (mins(i) ^ Long.MinValue)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash over a pre-hashed token array (multiset — token frequency
  * weights the bit votes, matching Charikar's construction).
  *
  * Input: array<long> token hashes. Output: long whose bit j is set iff the
  * signed vote sum over tokens for bit j is positive.
  *
  * Plays the role of the reference's Standard(u64) aHash
  * (image-deduper `src/processing/types.rs:11`, `src/processing/core.rs:37-104`):
  * the cheap 64-bit fingerprint compared by XOR+popcount Hamming distance
  * (`src/processing/types.rs:19-44` → Spark `bit_count(a ^ b)`).
  *
  * Empty input → 0L.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<bigint>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** Fused single-pass fingerprint kernel: text → (simhash, shingles, minhash).
  *
  * BYTE-COMPATIBLE with the column-combinator path in [[Fingerprints]]
  * (normalized → tokens → xxhash64 per token/shingle-string) but one fused
  * eval per row with zero per-shingle string allocation — profiling showed
  * the combinator plan (per shingle: `slice` + `concat_ws` + `xxhash64`,
  * each allocating UTF8Strings) dominating the signature stage, exactly the
  * hot spot SURVEY.md §7.3 predicted. Trick: after whitespace-collapse the
  * k-token shingle string "w1 w2 w3" IS a contiguous byte span of the
  * normalized text, so each shingle hash is XXH64 over a span — no copy.
  *
  * Reference analog: the fused per-item dual-hash kernel
  * (image-deduper `src/processing/core.rs:37-154` computes resize + luma +
  * mean + bitset in one pass per image, not as composed whole-image ops).
  *
  * Normalization semantics pinned to the combinator path (and its golden
  * tests): `lower` = UTF8String.toLowerCase; `\s+` = Java regex ASCII
  * whitespace [ \t\n\x0B\f\r]; single-space join; trim. Hash = Spark
  * builtin xxhash64 (XXH64, seed 42) over UTF-8 bytes.
  */
case class DocSignature(child: Expression, k: Int, numPerms: Int, seed: Long,
                        maxShingles: Int = Int.MaxValue)
    extends UnaryExpression {

  @transient private lazy val (as, bs) = HashKernels.coefficients(numPerms, seed)

  override def dataType: DataType = StructType(Seq(
    StructField("simhash", LongType, nullable = false),
    StructField("shingles", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("minhash", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"doc_signature expects string, got $other")
    }

  private val XxSeed = 42L // Spark xxhash64 default seed

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    // normalize: lowercase + collapse ASCII whitespace runs to single 0x20,
    // trim. ASCII fast path fuses the lowercase into the collapse loop (one
    // read of the input, one write — `toLowerCase.getBytes` is two full
    // copies of the document before normalization even starts, and this
    // kernel is memory-bandwidth-bound at high thread counts, BASELINE.md
    // round-5 scaling diagnosis). Non-ASCII takes the pinned slow path
    // (UTF8String.toLowerCase handles multi-byte case mapping; ASCII bytes
    // lowercase identically on both paths, so outputs stay byte-identical).
    var n = 0
    var norm: Array[Byte] = null
    if (u.isFullAscii) {
      val len = u.numBytes()
      norm = new Array[Byte](len)
      var pendingSpace = false
      var i = 0
      while (i < len) {
        val b = u.getByte(i)
        if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) {
          if (n > 0) pendingSpace = true
        } else {
          if (pendingSpace) { norm(n) = 0x20; n += 1; pendingSpace = false }
          norm(n) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          n += 1
        }
        i += 1
      }
    } else {
      val raw = u.toLowerCase.getBytes
      norm = new Array[Byte](raw.length)
      var pendingSpace = false
      var i = 0
      while (i < raw.length) {
        val b = raw(i)
        if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) {
          if (n > 0) pendingSpace = true
        } else {
          if (pendingSpace) { norm(n) = 0x20; n += 1; pendingSpace = false }
          norm(n) = b; n += 1
        }
        i += 1
      }
    }
    var i = 0
    // token spans in norm[0, n)
    var nTokens = 0
    if (n > 0) { nTokens = 1; i = 0; while (i < n) { if (norm(i) == 0x20) nTokens += 1; i += 1 } }
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    if (n > 0) {
      var t = 0; var s = 0; i = 0
      while (i < n) {
        if (norm(i) == 0x20) { starts(t) = s; ends(t) = i; t += 1; s = i + 1 }
        i += 1
      }
      starts(t) = s; ends(t) = n
    }
    // Hash the span in place (XXH64 over the same bytes the combinator
    // path's xxhash64 sees) — no UTF8String wrapper per token/shingle.
    @inline def hashSpan(from: Int, until: Int): Long =
      XXH64.hashUnsafeBytes(
        norm, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
        until - from, XxSeed)

    // simhash over token-hash multiset (≡ SimHash64(transform(tokens, xxhash64)))
    val votes = new Array[Int](64)
    var ti = 0
    while (ti < nTokens) {
      val h = hashSpan(starts(ti), ends(ti))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      ti += 1
    }
    var simhash = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) simhash |= (1L << b); b += 1 }

    // distinct shingle hashes, first-occurrence order
    // (≡ array_distinct(shingleHashes) incl. the whole-doc fallback for
    //  docs shorter than k tokens, Fingerprints.shingleHashes).
    // maxShingles is the length-tiered cost cap (reference analog:
    // size-tiered downscale, file_processing.rs:134-156) — huge documents
    // fingerprint their prefix instead of blowing up the signature stage.
    // the 2^29 clamp keeps the open-addressing table below 2^30 slots at
    // load <= 0.5 even with the API-default maxShingles = Int.MaxValue —
    // without it the power-of-two sizing loop overflows Int and spins on
    // a ~GB-scale document (the tiered-cost posture: fingerprint the
    // prefix, never wedge the task)
    val nShingles =
      if (nTokens >= k) math.min(math.min(nTokens - k + 1, maxShingles), 1 << 29)
      else 1
    val distinct = new Array[Long](nShingles)
    var nd = 0
    if (nTokens >= k) {
      // first-occurrence dedup via a primitive open-addressing set (same
      // 0-sentinel + hasZero scheme as ShingleOverlap) — the boxed
      // java.util.HashSet cost ~2 allocations per shingle on this path.
      var cap = 8
      while (cap < nShingles * 2) cap <<= 1
      val table = new Array[Long](cap)
      val mask = cap - 1
      var seenZero = false
      var si = 0
      while (si < nShingles) {
        val h = hashSpan(starts(si), ends(si + k - 1))
        if (h == 0L) {
          if (!seenZero) { seenZero = true; distinct(nd) = 0L; nd += 1 }
        } else {
          var idx = (HashKernels.avalanche(h) & 0x7fffffffffffffffL).toInt & mask
          while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
          if (table(idx) == 0L) { table(idx) = h; distinct(nd) = h; nd += 1 }
        }
        si += 1
      }
    } else {
      distinct(0) = hashSpan(0, n) // whole doc (empty text → hash of "")
      nd = 1
    }

    // minhash over the distinct shingle set (≡ MinHashSignature)
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, -1L)
    var j = 0
    while (j < nd) {
      val x = distinct(j)
      var p = 0
      while (p < numPerms) {
        val h = as(p) * x + bs(p)
        if ((h ^ Long.MinValue) < (mins(p) ^ Long.MinValue)) mins(p) = h
        p += 1
      }
      j += 1
    }

    val shingleArr = if (nd == nShingles) distinct else java.util.Arrays.copyOf(distinct, nd)
    new GenericInternalRow(Array[Any](
      simhash, new GenericArrayData(shingleArr), new GenericArrayData(mins)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("docSigExpr", this, classOf[DocSignature].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): DocSignature =
    copy(child = newChild)

  override def prettyName: String = "doc_signature"
}

/** Fused band-key kernel: one row's (minhash, shingles) → every
  * discovery-channel bucket key as array<struct<band, band_hash>>, in one
  * eval per row with no intermediate arrays:
  *
  *  - band b in [0, bands): XXH64 over (b, minhash[b*r, b*r + r)), the
  *    minhash bands;
  *  - band `bands`: XXH64 over the first `prefixShingles` shingles, and
  *    band `bands` + 2 over the first max(2, prefixShingles / 2), the
  *    two-level prefix ladder;
  *  - band `bands` + 1, once per adjacent pair of the shingles ≡ 0 (mod
  *    `anchorModulus`): XXH64 over the pair, the winnowed anchor bands.
  *
  * BIT-IDENTICAL to the combinator path it replaced (`xxhash64` over
  * `slice`s, `filter` + `zip_with` for the anchors; the property spec in
  * `BandKeysSpec` keeps that path as its oracle), including its null
  * semantics: a null array hashes like an empty one in the minhash and
  * prefix bands and yields no anchor keys, and null elements are skipped.
  * Reference analog: the fused per-item kernel of
  * `processing/core.rs:37-154`, as for [[DocSignature]].
  */
case class BandKeys(left: Expression, right: Expression, bands: Int, rowsPerBand: Int,
                    prefixShingles: Int, anchorModulus: Int)
    extends BinaryExpression {

  private val XxSeed = 42L // Spark xxhash64 default seed
  private val halfPrefix = math.max(2, prefixShingles / 2)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"band_keys expects (array<bigint>, array<bigint>), got $other")
    }

  override def eval(input: InternalRow): Any =
    keys(left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData])

  /** XXH64 chained over the non-null elements of `a` in [from, until). */
  private def hashRange(a: ArrayData, from: Int, until: Int, seed: Long): Long = {
    var h = seed
    var i = from
    while (i < until) {
      if (!a.isNullAt(i)) h = XXH64.hashLong(a.getLong(i), h)
      i += 1
    }
    h
  }

  def keys(minhash: ArrayData, shingles: ArrayData): ArrayData = {
    val nm = if (minhash == null) 0 else minhash.numElements()
    val ns = if (shingles == null) 0 else shingles.numElements()
    @inline def anchor(i: Int): Boolean =
      !shingles.isNullAt(i) && shingles.getLong(i) % anchorModulus == 0
    var nAnchors = 0
    var i = 0
    while (i < ns) { if (anchor(i)) nAnchors += 1; i += 1 }
    val out = new Array[Any](bands + 2 + math.max(nAnchors - 1, 0))
    var k = 0
    @inline def key(band: Int, h: Long): Unit = {
      out(k) = new GenericInternalRow(Array[Any](band, h))
      k += 1
    }

    var b = 0
    while (b < bands) {
      val from = math.min(b * rowsPerBand, nm)
      key(b, hashRange(minhash, from, math.min(from + rowsPerBand, nm),
        XXH64.hashInt(b, XxSeed)))
      b += 1
    }
    key(bands, hashRange(shingles, 0, math.min(prefixShingles, ns), XxSeed))
    key(bands + 2, hashRange(shingles, 0, math.min(halfPrefix, ns), XxSeed))
    var prev = 0L
    var havePrev = false
    i = 0
    while (i < ns) {
      if (anchor(i)) {
        val s = shingles.getLong(i)
        if (havePrev) key(bands + 1, XXH64.hashLong(s, XXH64.hashLong(prev, XxSeed)))
        prev = s
        havePrev = true
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandKeysExpr", this, classOf[BandKeys].getName)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val arrayData = classOf[ArrayData].getName
    ev.copy(code = code"""
      |${l.code}
      |${r.code}
      |$arrayData ${ev.value} = $ref.keys(
      |  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BandKeys =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "band_keys"
}

/** Fused shingle-set overlap: (jaccard, containment) of two array<long>
  * sets in ONE pass over a primitive open-addressing hash set — replaces
  * `array_intersect` + `array_union` + `least/size` combinators, which
  * build boxed hash sets per call (three set constructions per pair; at
  * millions of candidate pairs the verify stage was shuffle+alloc bound).
  *
  * Inputs are the deduplicated shingle arrays from [[DocSignature]], so
  * |A∪B| = |A| + |B| − |A∩B| and containment = |A∩B| / min(|A|,|B|).
  * Empty ∪ → jaccard 1.0; empty min-side → containment 1.0 (mirrors the
  * combinator definitions in [[Fingerprints]]).
  */
case class ShingleOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("jaccard", DoubleType, nullable = false),
    StructField("containment", DoubleType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_overlap expects (array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (small, large) = if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val ns0 = small.numElements()
    val nl0 = large.numElements()
    // open-addressing set over the smaller side; 0 is the empty slot, the
    // (vanishingly rare) real 0L key is tracked by a flag. Sizing compares
    // in Long (ns0 * 2 overflows Int past 2^30 elements).
    var cap = 8
    while (cap.toLong < math.min(ns0.toLong * 2, 1L << 30)) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var hasZero = false
    // NULL elements are skipped on both sides (the declared input type
    // allows them): getLong on a null slot would otherwise alias the 0L
    // key and inflate the intersection — MinHashSignature and SimHash64
    // handle element nulls the same way
    var ns = 0
    var i = 0
    while (i < ns0) {
      if (!small.isNullAt(i)) {
        ns += 1
        val v = small.getLong(i)
        if (v == 0L) hasZero = true
        else {
          var idx = (HashKernels.avalanche(v) & 0x7fffffffffffffffL).toInt & mask
          while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
          table(idx) = v
        }
      }
      i += 1
    }
    var inter = 0
    var nl = 0
    i = 0
    while (i < nl0) {
      if (!large.isNullAt(i)) {
        nl += 1
        val v = large.getLong(i)
        if (v == 0L) { if (hasZero) inter += 1 }
        else {
          var idx = (HashKernels.avalanche(v) & 0x7fffffffffffffffL).toInt & mask
          while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
          if (table(idx) == v) inter += 1
        }
      }
      i += 1
    }
    val union = ns + nl - inter
    val jaccard = if (union == 0) 1.0 else inter.toDouble / union
    val containment = if (ns == 0) 1.0 else inter.toDouble / ns
    new GenericInternalRow(Array[Any](jaccard, containment))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("overlapExpr", this, classOf[ShingleOverlap].getName)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleOverlap =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "shingle_overlap"
}

/** Deterministic HTML → text extraction.
  *
  * The web-text analog of the reference's per-format decoders
  * (image-deduper `src/formats/{jpeg,png,tiff,raw,heic}.rs`, dispatcher
  * `src/processing/utils/file_processing.rs:15-41`) including its
  * corrupt-input recovery (`src/formats/jpeg.rs:34-66`): malformed bytes
  * never throw — they degrade to best-effort text (and the pipeline layer
  * routes empty extractions to the quarantine table).
  *
  * Contract (pinned by golden tests): byte-identical output per url —
  *   1. decode UTF-8 (replacement char on invalid sequences),
  *   2. drop <script>/<style>/<nav>/<header>/<footer>/<head> blocks and
  *      HTML comments entirely (boilerplate),
  *   3. replace every remaining tag with a single space,
  *   4. decode the five core entities + &nbsp; + decimal &#NN;,
  *   5. collapse all whitespace runs to single spaces and trim.
  */
object TextExtraction {
  private val dropBlocks = Seq("script", "style", "nav", "header", "footer", "head")

  // precompiled once per JVM: String.replaceAll would recompile every
  // pattern on every row — at web scale that is millions of Pattern
  // compilations in the hottest map stage for zero semantic difference
  private val commentRe = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
  private val dropRes = dropBlocks.map(tag =>
    java.util.regex.Pattern.compile(s"(?is)<$tag\\b[^>]*>.*?</$tag\\s*>")).toArray
  private val tagRe = java.util.regex.Pattern.compile("(?s)<[^>]*>")
  private val wsRe = java.util.regex.Pattern.compile("\\s+")

  def extract(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    extractCore(stripComments(decoded))
  }

  /** The original regex-pipeline implementation, kept as the executable
    * spec for [[extract]]: the fused single-scan version below is pinned
    * byte-identical to this on the generated corpus plus an adversarial
    * battery (FingerprintSpec). The ONE documented divergence is
    * cross-tag-overlapping drop blocks (`<style>..<script>..</style>..
    * </script>`), where sequential per-tag passes and the fused
    * earliest-opener scan legitimately disagree — both are best-effort
    * text from malformed html, and each is deterministic for a given
    * input, which is all the per-url contract requires.
    */
  private[graft] def extractViaRegex(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    var s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    // comments first so commented-out tags don't confuse block dropping
    s = commentRe.matcher(s).replaceAll(" ")
    var i = 0
    while (i < dropRes.length) { s = dropRes(i).matcher(s).replaceAll(" "); i += 1 }
    s = tagRe.matcher(s).replaceAll(" ")
    s = decodeEntities(s)
    s = wsRe.matcher(s).replaceAll(" ").trim
    s
  }

  /** `<!--.*?-->` → " " without the regex engine; returns the SAME string
    * reference when no comment opener exists (the common case — zero
    * copies). Unterminated comments stay as-is, exactly like the
    * non-matching regex.
    */
  private def stripComments(s: String): String = {
    var from = s.indexOf("<!--")
    if (from < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (from >= 0) {
      val end = s.indexOf("-->", from + 4)
      if (end < 0) { out.append(s, i, s.length); return out.toString }
      out.append(s, i, from).append(' ')
      i = end + 3
      from = s.indexOf("<!--", i)
    }
    out.append(s, i, s.length)
    out.toString
  }

  private val dropNamesArr: Array[String] = dropBlocks.toArray

  // ASCII-only case-insensitive region compare (mirrors Pattern's plain
  // CASE_INSENSITIVE, which is US-ASCII-only — String.regionMatches(true,..)
  // would additionally fold Unicode case and diverge on e.g. U+017F)
  private def regionEqAscii(s: String, at: Int, name: String): Boolean = {
    if (at + name.length > s.length) return false
    var i = 0
    while (i < name.length) {
      val a = s.charAt(at + i); val b = name.charAt(i)
      val al = if (a >= 'A' && a <= 'Z') (a + 32).toChar else a
      if (al != b) return false
      i += 1
    }
    true
  }

  // Java's \b bounds on letters | digits | nonspacing marks | '_' over
  // code points regardless of the UNICODE_CHARACTER_CLASS flag — NOT the
  // ASCII \w class — so the word-boundary emulation must too, or
  // `<lié>`/`<navٰ>` classify differently than the regex spec (found by
  // differential fuzzing; the exact category set was derived empirically
  // and is pinned by a full-BMP sweep against the real regex in
  // FingerprintSpec)
  private def isWordCharAt(s: String, at: Int): Boolean = {
    val cp = s.codePointAt(at)
    cp == '_'.toInt || Character.isLetterOrDigit(cp) ||
      Character.getType(cp) == Character.NON_SPACING_MARK
  }

  private def isAsciiWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `<name\b` at position `i` (s(i) == '<') → index into dropNamesArr, or
    * -1. At most one name can match thanks to the word boundary
    * ("header" vs "head" resolve unambiguously).
    */
  private def dropNameAt(s: String, i: Int): Int = {
    var d = 0
    while (d < dropNamesArr.length) {
      val name = dropNamesArr(d)
      if (regionEqAscii(s, i + 1, name)) {
        val after = i + 1 + name.length
        if (after >= s.length || !isWordCharAt(s, after)) return d
      }
      d += 1
    }
    -1
  }

  /** Per-invocation failure caches that keep hostile inputs linear: a
    * fixed pattern absent from position p is absent from every later
    * position, so a failed search never repeats. Without these, N
    * closerless `<script>` openers (or a '>'-free tail of N '<' chars)
    * cost O(N²) — the regex spec has exactly that blowup; the fused path
    * must not, per the module's untrusted-crawl posture.
    */
  private final class ScanCtx(len: Int) {
    // first position from which the closer search for drop tag d is known
    // to fail
    val noCloserFrom: Array[Int] = Array.fill(dropNamesArr.length)(Int.MaxValue)
    // first position from which '>' is known to be absent through EOF
    var noGtFrom: Int = Int.MaxValue
    // '>' is absent in [gtCacheFrom, gtCachePos) and present at gtCachePos
    var gtCacheFrom: Int = Int.MaxValue
    var gtCachePos: Int = -1
    // total lookahead work allowance: failing-with-skips scans re-traverse
    // ground that neither cache can soundly memoize (skip alignment is
    // position-dependent), and matching the regex spec on those shapes is
    // inherently quadratic — the 1M floor keeps small documents exactly
    // byte-compatible (the spec's quadratic cost fits under it), while
    // 8×len bounds big hostile documents linearly; once burned, generic
    // scans stop attempting block skips and degrade to a plain linear '>'
    // hunt — deterministic best-effort, never a wedged task
    var budget: Long = math.max(1L << 20, 8L * len + 1024L)
  }

  /** First `</name\s*>` at or after `from` (ASCII case-insensitive, \s*
    * ASCII like the regex default); returns the index just past its '>',
    * or -1.
    */
  private def findCloser(s: String, from: Int, d: Int, ctx: ScanCtx): Int = {
    if (from >= ctx.noCloserFrom(d)) return -1
    val name = dropNamesArr(d)
    var i = from
    val limit = s.length - name.length - 2
    while (i <= limit) {
      ctx.budget -= 1
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '/' && regionEqAscii(s, i + 2, name)) {
        var j = i + 2 + name.length
        while (j < s.length && isAsciiWs(s.charAt(j))) j += 1
        if (j < s.length && s.charAt(j) == '>') return j + 1
      }
      i += 1
    }
    ctx.noCloserFrom(d) = math.min(ctx.noCloserFrom(d), from)
    -1
  }

  /** If a well-formed drop block (opener with a '>' plus a closer) starts
    * at `i`, the index just past its closing '>', else -1. Inner matching
    * is strict (no nested skipping), so hostile nesting cannot recurse.
    */
  private def dropBlockEnd(s: String, i: Int, ctx: ScanCtx): Int = {
    val dn = dropNameAt(s, i)
    if (dn < 0) return -1
    val name = dropNamesArr(dn)
    val searchFrom = i + 1 + name.length
    if (searchFrom >= ctx.noGtFrom) return -1
    // memoized first-'>' lookup: '>' is absent in [gtCacheFrom, gtCachePos),
    // so any search starting inside that window resolves O(1) — without
    // this, n closerless openers sharing one distant '>' re-scan to it n
    // times (O(N²), confirmed by measurement)
    val openEnd =
      if (searchFrom >= ctx.gtCacheFrom && searchFrom <= ctx.gtCachePos) ctx.gtCachePos
      else {
        val g = s.indexOf('>', searchFrom)
        if (g >= 0) { ctx.gtCacheFrom = searchFrom; ctx.gtCachePos = g }
        g
      }
    if (openEnd < 0) { ctx.noGtFrom = math.min(ctx.noGtFrom, searchFrom); return -1 }
    findCloser(s, openEnd + 1, dn, ctx)
  }

  /** The '>' ending a `[^>]*>` tail, as the tag-level passes see it: a
    * well-formed drop block inside the tail was already replaced by ' '
    * when any tag regex runs, so its contents can neither hide nor supply
    * the tag's '>'. With `skipBlockTags` (the tagRe view in the paras
    * pipeline, which runs after blockTagRe) block tags are skipped the
    * same way. Returns the index just past the '>', or -1.
    */
  private def scanForGt(s: String, from: Int, skipBlockTags: Boolean, ctx: ScanCtx): Int = {
    val len = s.length
    var j = from
    var unskippedFrom = from // start of the current skip-free region
    while (j < len) {
      if (j >= ctx.noGtFrom) return -1
      val c = s.charAt(j)
      if (c == '>') return j + 1
      ctx.budget -= 1
      if (c == '<' && ctx.budget > 0) {
        var skip = dropBlockEnd(s, j, ctx)
        if (skip < 0 && skipBlockTags) skip = blockTagEnd(s, j, ctx)
        if (skip >= 0) { j = skip; unskippedFrom = skip } else j += 1
      } else j += 1
    }
    // the region [unskippedFrom, EOF) was examined char by char: no '>'
    ctx.noGtFrom = math.min(ctx.noGtFrom, unskippedFrom)
    -1
  }

  /** Fused tag-strip + drop-block + entity-decode + whitespace-collapse in
    * ONE scan with ONE output build. The regex pipeline above re-scans and
    * re-copies the document up to nine times; this kernel sits in the
    * hottest map stage of the pipeline (scan → extract → fingerprint) and
    * the round-5 scaling diagnosis pinned that stage as DRAM-bandwidth-
    * bound, so copies ARE the cost. Byte-equivalence to the regex spec is
    * pinned in FingerprintSpec (corpus + adversarial battery).
    */
  private def extractCore(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    val ctx = new ScanCtx(len)
    var pendingSpace = false

    @inline def emit(c: Char): Unit = {
      if (isAsciiWs(c)) { if (out.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
    }
    @inline def emitSpace(): Unit = if (out.length > 0) pendingSpace = true

    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == '<') {
        // drop block first (those regex passes run before tagRe); a
        // blockless or closerless opener falls through to plain-tag
        // handling, same as the sequential passes
        var next = dropBlockEnd(s, i, ctx)
        if (next >= 0) emitSpace()
        else {
          val gt = scanForGt(s, i + 1, skipBlockTags = false, ctx)
          if (gt >= 0) { emitSpace(); next = gt } // <[^>]*>
          else { emit('<'); next = i + 1 }        // no '>': literal text
        }
        i = next
      } else if (c == '&') {
        // entity decode sees the post-tag-strip stream: a tag between '&'
        // and ';' becomes ' ' there, and no valid entity name contains a
        // space — so hitting '<' first always means "literal &"
        var semi = -1
        var j = i + 1
        val wlim = math.min(len - 1, i + 8)
        while (semi < 0 && j <= wlim && s.charAt(j) != '<') {
          if (s.charAt(j) == ';') semi = j
          j += 1
        }
        val rep = if (semi > i) entityRep(s.substring(i + 1, semi)) else null
        if (rep != null) {
          var k = 0
          while (k < rep.length) { emit(rep.charAt(k)); k += 1 }
          i = semi + 1
        } else { emit('&'); i += 1 }
      } else { emit(c); i += 1 }
    }
    out.toString.trim
  }

  // block-level boundaries become paragraph breaks in extractParas; the
  // sentinel is a char no decoded text contains (NUL is dropped by every
  // sane html producer, and a hostile one only affects its own doc's split)
  private val blockTagRe = java.util.regex.Pattern.compile(
    "(?is)</?(?:p|div|li|ul|ol|h[1-6]|tr|table|section|article|blockquote|pre)\\b[^>]*>" +
      "|<(?:br|hr)\\s*/?>")
  private val sentinelRunRe = java.util.regex.Pattern.compile(" ?(?:\u0000 ?)+")

  /** Paragraph-preserving variant ("html-paras"): identical pipeline to
    * [[extract]] except block-level tag boundaries become blank-line
    * paragraph breaks instead of spaces — the shape [[graft.text
    * .ParagraphDedup]] consumes. Raw newlines in the html are NOT breaks
    * (browsers collapse them; only markup structure is meaningful).
    * Deliberately a SEPARATE extractor: the default one is pinned by the
    * byte-identical `extract(html) == text` corpus invariant.
    */
  def extractParas(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    extractParasCore(stripComments(decoded))
  }

  /** Regex-pipeline spec for [[extractParas]], kept for the byte-
    * equivalence property test — see [[extractViaRegex]].
    */
  private[graft] def extractParasViaRegex(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    var s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    s = commentRe.matcher(s).replaceAll(" ")
    var i = 0
    while (i < dropRes.length) { s = dropRes(i).matcher(s).replaceAll(" "); i += 1 }
    s = s.replace('\u0000', ' ')
    s = blockTagRe.matcher(s).replaceAll("\u0000")
    s = tagRe.matcher(s).replaceAll(" ")
    s = decodeEntities(s)
    s = wsRe.matcher(s).replaceAll(" ")
    s = sentinelRunRe.matcher(s).replaceAll("\n\n")
    s.replaceAll("^\\s+|\\s+$", "")
  }

  private final val Nul: Char = 0

  private val blockNamesArr: Array[String] = Array(
    "blockquote", "section", "article", "table", "div", "pre",
    "li", "ul", "ol", "tr", "h1", "h2", "h3", "h4", "h5", "h6", "p")

  /** A blockTagRe match at position `i` (s(i) == '<') — a block-name tag
    * with word boundary, or a br/hr void tag; returns the index just past
    * the '>' or -1. Raw NUL counts as whitespace in the br/hr arm because
    * the regex pipeline maps NUL to ' ' before blockTagRe runs.
    */
  private def blockTagEnd(s: String, i: Int, ctx: ScanCtx): Int = {
    val len = s.length
    var nameAt = i + 1
    if (nameAt < len && s.charAt(nameAt) == '/') nameAt += 1
    var d = 0
    while (d < blockNamesArr.length) {
      val name = blockNamesArr(d)
      if (regionEqAscii(s, nameAt, name)) {
        val after = nameAt + name.length
        if (after >= len || !isWordCharAt(s, after))
          // the [^>]* tail sees drop blocks as already-removed, but NOT
          // other block tags: blockTagRe is one left-to-right pass, so a
          // leftmost match's tail may legitimately end on a later block
          // tag's '>'
          return scanForGt(s, after, skipBlockTags = false, ctx)
      }
      d += 1
    }
    // br|hr arm — no '/', no \b, no [^>]*; its \s* sees raw NUL and
    // removed drop blocks as whitespace (both are ' ' by the time
    // blockTagRe runs)
    if (nameAt == i + 1 && (regionEqAscii(s, nameAt, "br") || regionEqAscii(s, nameAt, "hr"))) {
      var j = nameAt + 2
      var scanning = true
      while (scanning && j < len) {
        val c = s.charAt(j)
        if (isAsciiWs(c) || c == Nul) j += 1
        else if (c == '<') {
          val sk = dropBlockEnd(s, j, ctx)
          if (sk >= 0) j = sk else scanning = false
        } else scanning = false
      }
      if (j < len && s.charAt(j) == '/') j += 1
      if (j < len && s.charAt(j) == '>') return j + 1
    }
    -1
  }

  /** Fused single-scan twin of [[extractCore]] for the paras pipeline:
    * block tags become paragraph breaks, raw NUL is plain whitespace (the
    * regex spec maps it to ' ' before inserting sentinels), an
    * entity-decoded NUL is a BREAK (entities decode after sentinel
    * insertion there), and trimming is \s-only (the spec trims via regex,
    * not String.trim). Byte-equivalence to [[extractParasViaRegex]] is
    * pinned in FingerprintSpec.
    */
  private def extractParasCore(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    val ctx = new ScanCtx(len)
    var pending = 0 // 0 none, 1 space, 2 paragraph break

    @inline def emit(c: Char): Unit = {
      if (isAsciiWs(c) || c == Nul) { if (out.length > 0 && pending == 0) pending = 1 }
      else {
        if (pending == 2) out.append('\n').append('\n')
        else if (pending == 1) out.append(' ')
        pending = 0
        out.append(c)
      }
    }
    @inline def emitSpace(): Unit = if (out.length > 0 && pending == 0) pending = 1
    @inline def emitBreak(): Unit = if (out.length > 0) pending = 2

    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == '<') {
        var next = dropBlockEnd(s, i, ctx)
        if (next >= 0) emitSpace()
        else {
          val bt = blockTagEnd(s, i, ctx)
          if (bt >= 0) { emitBreak(); next = bt }
          else {
            val gt = scanForGt(s, i + 1, skipBlockTags = true, ctx)
            if (gt >= 0) { emitSpace(); next = gt }
            else { emit('<'); next = i + 1 }
          }
        }
        i = next
      } else if (c == '&') {
        var semi = -1
        var j = i + 1
        val wlim = math.min(len - 1, i + 8)
        while (semi < 0 && j <= wlim && s.charAt(j) != '<') {
          if (s.charAt(j) == ';') semi = j
          j += 1
        }
        val rep = if (semi > i) entityRep(s.substring(i + 1, semi)) else null
        if (rep != null) {
          var k = 0
          while (k < rep.length) {
            val dch = rep.charAt(k)
            if (dch == Nul) emitBreak() else emit(dch) // decoded NUL = sentinel
            k += 1
          }
          i = semi + 1
        } else { emit('&'); i += 1 }
      } else { emit(c); i += 1 }
    }
    // \s-only trim (matches the regex spec's edge trim); trailing pending
    // ws/break is correctly dropped
    var b = 0
    var e = out.length
    while (b < e && isAsciiWs(out.charAt(b))) b += 1
    while (e > b && isAsciiWs(out.charAt(e - 1))) e -= 1
    out.substring(b, e)
  }

  /** Replacement for one entity name (the text between '&' and ';'), or
    * null when it isn't one — the ONE definition shared by the fused
    * kernels and the regex-pipeline specs, so entity semantics cannot
    * drift between them. The numeric arm keeps the spec's exact
    * Unicode-digit predicate, parse, and 16-bit toChar truncation.
    */
  private def entityRep(ent: String): String = ent match {
    case "amp"  => "&"
    case "lt"   => "<"
    case "gt"   => ">"
    case "quot" => "\""
    case "apos" | "#39" => "'"
    case "nbsp" => " "
    case e if e.startsWith("#") && e.drop(1).nonEmpty && e.drop(1).forall(_.isDigit) =>
      try String.valueOf(e.drop(1).toInt.toChar)
      catch { case _: Exception => "&" + e + ";" }
    case _ => null
  }

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 8) {
          val rep = entityRep(s.substring(i + 1, semi))
          if (rep != null) { out.append(rep); i = semi + 1 }
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
}

/** Catalyst wrapper for [[TextExtraction.extract]]: binary → string. */
case class ExtractText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"extract_text expects binary, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextExtraction.extract(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("extractExpr", this, classOf[ExtractText].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractText =
    copy(child = newChild)

  override def prettyName: String = "extract_text"
}

/** Catalyst wrapper for [[TextExtraction.extractParas]]: binary → string
  * with blank-line paragraph breaks at block-tag boundaries (the
  * `html-paras` extractor — feeds paragraph-level dedup).
  */
case class ExtractTextParas(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"extract_text_paras expects binary, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextExtraction.extractParas(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("extractParasExpr", this, classOf[ExtractTextParas].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractTextParas =
    copy(child = newChild)

  override def prettyName: String = "extract_text_paras"
}
