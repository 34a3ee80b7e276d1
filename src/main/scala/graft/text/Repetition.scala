package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Gopher/MassiveText-style repetition signals — the per-document quality
  * battery web-text pipelines compute before training (duplicate-line /
  * duplicate-paragraph fractions, top-n-gram and duplicated-n-gram
  * character fractions; Rae et al. 2021, table A1).
  *
  * Scale shape: every signal is PER-ROW array arithmetic — lines, paragraphs
  * and word n-grams are built with `split`/`transform`, then a single-pass
  * run-length fold over the `array_sort`-ed array (`functions.aggregate`)
  * yields duplicate counts/chars and the modal n-gram in O(L log L) per doc
  * with ZERO exchange: the whole battery is a narrow projection that rides
  * the scan, so at 100 TB it costs one pass over the text bytes and no
  * shuffle at all. No UDFs — everything stays inside whole-stage codegen.
  *
  * Definitions (deterministic, DuckDB-checkable; documented divergences from
  * the paper where the original needs per-character position marking):
  *   - lines = text split on '\n', regex-trimmed, empties dropped;
  *     paragraphs = split on blank lines (ParagraphDedup's boundary);
  *     words = lowercased whitespace tokens.
  *   - dup_* counts every occurrence belonging to a group of size >= 2
  *     (a line appearing 3x contributes 3 to dup_lines and 3*len to
  *     dup_line_chars — the paper's "characters in duplicated lines").
  *   - top{n}_chars = count * length of the most frequent n-gram (gram text
  *     joined with single spaces); ties resolve to the larger char product,
  *     which keeps the stat deterministic under any sort order.
  *   - dup{n}_chars = sum over duplicated n-grams of count * length — an
  *     overlap-counting upper bound of the paper's position-marked fraction
  *     (SQL-checkable; the ordering of docs it flags is the same).
  *
  * Reference analog: none — beyond-reference webtext operator (SURVEY §2
  * round-5 deltas).
  */
object Repetition {

  private[text] val Trim = "^\\s+|\\s+$"

  /** Default n-gram orders and fraction bounds (Rae et al. 2021, table A1)
    * — ONE definition shared by the column battery, [[gopherKeep]] and the
    * fused [[GopherKeepExpr]], so the spec path and the production path can
    * never disagree on a threshold.
    */
  val DefaultTopNs: Seq[Int] = Seq(2, 3, 4)
  val DefaultDupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)
  val DefaultTopBounds: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  val DefaultDupBounds: Map[Int, Double] =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Non-empty trimmed lines of `text`. */
  def linesOf(text: Column): Column =
    filter(transform(split(text, "\\n"), l => regexp_replace(l, Trim, "")),
      l => length(l) > 0)

  /** Non-empty trimmed paragraphs (blank-line boundaries, CRLF-tolerant). */
  def parasOf(text: Column): Column =
    filter(transform(split(text, ParagraphDedup.ParaSplit),
        p => regexp_replace(p, Trim, "")),
      p => length(p) > 0)

  /** Lowercased whitespace-token words. */
  def wordsOf(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => length(w) > 0)

  /** Consecutive word n-grams joined with single spaces. Pass a MATERIALIZED
    * words column (an attribute from `withColumn`), not a raw expression —
    * the lambda references it once per gram.
    */
  def ngramsOf(words: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    when(size(words) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(words) - lit(n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
  }

  private def st(prev: Column, run: Column, dupN: Column, dupC: Column,
                 topN: Column, topC: Column): Column =
    struct(prev.as("prev"), run.as("run"), dupN.as("dup_n"), dupC.as("dup_c"),
      topN.as("top_n"), topC.as("top_c"))

  // fold in the stats of a finished run of `run` copies of `prev`
  private def closeRun(a: Column): Column = {
    val run = a.getField("run")
    val chars = run * length(a.getField("prev")).cast("long")
    st(a.getField("prev"), run,
      a.getField("dup_n") + when(run >= 2, run).otherwise(lit(0L)),
      a.getField("dup_c") + when(run >= 2, chars).otherwise(lit(0L)),
      greatest(a.getField("top_n"), run),
      when(run > a.getField("top_n"), chars)
        .when(run === a.getField("top_n"), greatest(a.getField("top_c"), chars))
        .otherwise(a.getField("top_c")))
  }

  /** One-pass run-length stats over the SORTED copy of `arr`:
    * struct(n, chars, dup_n, dup_chars, top_n, top_chars). `n`/`chars`
    * count all elements; dup_* count elements in groups of size >= 2;
    * top_* describe the modal element (count, count*length).
    */
  def runStats(arr: Column): Column = {
    val folded = aggregate(
      array_sort(arr),
      st(lit(""), lit(0L), lit(0L), lit(0L), lit(0L), lit(0L)),
      (a, x) => when(x === a.getField("prev"),
          st(x, a.getField("run") + 1, a.getField("dup_n"), a.getField("dup_c"),
            a.getField("top_n"), a.getField("top_c")))
        .otherwise {
          val c = closeRun(a)
          st(x, lit(1L), c.getField("dup_n"), c.getField("dup_c"),
            c.getField("top_n"), c.getField("top_c"))
        },
      a => closeRun(a))
    val chars = aggregate(arr, lit(0L), (a, x) => a + length(x).cast("long"))
    struct(size(arr).cast("long").as("n"), chars.as("chars"),
      folded.getField("dup_n").as("dup_n"),
      folded.getField("dup_c").as("dup_chars"),
      folded.getField("top_n").as("top_n"),
      folded.getField("top_c").as("top_chars"))
  }

  /** Signal column names in output order, shared by [[withSignals]], the
    * combinator battery and [[GopherSignalsExpr]]'s struct schema.
    */
  def signalNames(topNs: Seq[Int], dupNs: Seq[Int]): Seq[String] =
    Seq("n_lines", "line_chars", "dup_lines", "dup_line_chars",
      "n_paras", "para_chars", "dup_paras", "dup_para_chars",
      "n_words", "word_chars") ++
      (topNs ++ dupNs).distinct.sorted.flatMap { n =>
        (if (topNs.contains(n))
           Seq(s"n_${n}grams", s"top${n}_count", s"top${n}_chars")
         else Seq(s"n_${n}grams")) ++
          (if (dupNs.contains(n)) Seq(s"dup${n}_chars") else Nil)
      }

  /** Append the repetition battery to `df` (all BIGINT, per-row, no
    * shuffle): n_lines/line_chars/dup_lines/dup_line_chars, the same four
    * for paragraphs, n_words/word_chars, and per n-gram order `n` in
    * `topNs` → n_{n}grams/top{n}_count/top{n}_chars, in `dupNs` →
    * dup{n}_chars. `word_chars` is the length of the space-joined word
    * string — the denominator the n-gram char stats are measured against.
    *
    * Computed by the fused [[GopherSignalsExpr]] — ONE pass over the text
    * per row. The higher-order-function battery it replaces
    * ([[withSignalsCombinators]], kept as the executable spec and pinned
    * equivalent by RepetitionSpec) evaluates ~20 interpreted expression
    * trees per row — HOFs never enter codegen, and measured at bench
    * scale the interpreted battery cost ~15 ms/doc where the fused pass
    * costs microseconds.
    */
  def withSignals(df: DataFrame, textCol: String,
                  topNs: Seq[Int] = DefaultTopNs,
                  dupNs: Seq[Int] = DefaultDupNs): DataFrame = {
    import org.apache.spark.sql.graftshim.shim
    val sig = shim.toColumn(
      GopherSignalsExpr(shim.toExpression(col(textCol)), topNs, dupNs))
    // two projections on purpose: `_sig` is expensive and extracted ~20
    // times — CollapseProject declines to inline a non-cheap multi-
    // referenced producer, so the kernel runs ONCE per row and the field
    // extraction is free attribute access (plan-gated in RepetitionSpec)
    df.withColumn("_gopher_sig", sig)
      .select(df.columns.map(col).toSeq ++ signalNames(topNs, dupNs).map(f =>
        col("_gopher_sig").getField(f).as(f)): _*)
  }

  /** The same battery as [[withSignals]] built purely from
    * `org.apache.spark.sql.functions` combinators — the executable
    * specification of the signal semantics (RepetitionSpec pins
    * fused ≡ combinators on crafted + random docs). Not the production
    * path: interpreted higher-order functions re-parse the text per
    * signal tree.
    */
  def withSignalsCombinators(df: DataFrame, textCol: String,
                             topNs: Seq[Int] = DefaultTopNs,
                             dupNs: Seq[Int] = DefaultDupNs): DataFrame = {
    val grams = (topNs ++ dupNs).distinct.sorted
    val base = df
      .withColumn("_lines", linesOf(col(textCol)))
      .withColumn("_paras", parasOf(col(textCol)))
      .withColumn("_words", wordsOf(col(textCol)))
    val withGrams = grams.foldLeft(base) { (d, n) =>
      d.withColumn(s"_g$n", ngramsOf(col("_words"), n))
    }
    val withStats = withGrams
      .withColumn("_ls", runStats(col("_lines")))
      .withColumn("_ps", runStats(col("_paras")))
    val withGramStats = grams.foldLeft(withStats) { (d, n) =>
      d.withColumn(s"_gs$n", runStats(col(s"_g$n")))
    }
    val gramCols = grams.flatMap { n =>
      val gs = col(s"_gs$n")
      (if (topNs.contains(n))
         Seq(gs.getField("n").as(s"n_${n}grams"),
           gs.getField("top_n").as(s"top${n}_count"),
           gs.getField("top_chars").as(s"top${n}_chars"))
       else Seq(gs.getField("n").as(s"n_${n}grams"))) ++
        (if (dupNs.contains(n)) Seq(gs.getField("dup_chars").as(s"dup${n}_chars"))
         else Nil)
    }
    withGramStats.select(
      withGrams.columns.filterNot(_.startsWith("_")).map(col).toSeq ++ Seq(
        col("_ls").getField("n").as("n_lines"),
        col("_ls").getField("chars").as("line_chars"),
        col("_ls").getField("dup_n").as("dup_lines"),
        col("_ls").getField("dup_chars").as("dup_line_chars"),
        col("_ps").getField("n").as("n_paras"),
        col("_ps").getField("chars").as("para_chars"),
        col("_ps").getField("dup_n").as("dup_paras"),
        col("_ps").getField("dup_chars").as("dup_para_chars"),
        size(col("_words")).cast("long").as("n_words"),
        length(array_join(col("_words"), " ")).cast("long").as("word_chars")
      ) ++ gramCols: _*)
  }

  /** Drop Gopher-repetitive docs from `df` (default thresholds), leaving
    * the column set unchanged — the CLI's `--gopher-filter` step. Per-row
    * signals + filter: no shuffle, no join-back.
    *
    * The keep decision is the fused [[GopherKeepExpr]] over ONE
    * [[GopherSignalsExpr]] — a single filter predicate that references the
    * signal kernel exactly once. The previous shape (withSignals → filter
    * on the ~20 extracted signal columns → drop) let predicate pushdown
    * substitute the kernel into EVERY conjunct of the threshold battery:
    * the pushed filter condition held ~40 copies of gopher_signals(text),
    * FilterExec codegen does no cross-conjunct subexpression elimination,
    * and the kernel ran ~40× per row (measured at the bench tier: the
    * isolated gopher stage fell 72.7 s → 2.3 s on identical input/output;
    * plan gate in RepetitionSpec counts kernel references in the
    * condition). gopherKeep() remains the executable spec of the
    * threshold semantics, pinned equivalent by RepetitionSpec.
    */
  def filterGopher(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim.shim
    val sig = GopherSignalsExpr(shim.toExpression(col(textCol)),
      DefaultTopNs, DefaultDupNs)
    df.filter(shim.toColumn(GopherKeepExpr(sig, DefaultTopNs, DefaultDupNs)))
  }

  /** Gopher's repetition keep-mask over `withSignals` output (paper
    * thresholds, table A1): a doc is dropped when any fraction exceeds its
    * bound. Fractions with a zero denominator count as 0 (an empty doc is
    * not "repetitive" — the length filters own that case).
    */
  def gopherKeep(topBounds: Map[Int, Double] = DefaultTopBounds,
                 dupBounds: Map[Int, Double] = DefaultDupBounds,
                 dupLineFrac: Double = 0.30, dupParaFrac: Double = 0.30,
                 dupLineCharFrac: Double = 0.20,
                 dupParaCharFrac: Double = 0.20): Column = {
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    val lineOk =
      frac(col("dup_lines"), col("n_lines")) <= dupLineFrac &&
      frac(col("dup_paras"), col("n_paras")) <= dupParaFrac &&
      frac(col("dup_line_chars"), col("line_chars")) <= dupLineCharFrac &&
      frac(col("dup_para_chars"), col("para_chars")) <= dupParaCharFrac
    // a modal n-gram occurring ONCE is not repetition: its coverage counts
    // as 0 (otherwise any short doc's longest n-gram mechanically busts the
    // bound — the paper's filter targets repeated grams on long web docs)
    val topOk = topBounds.toSeq.sortBy(_._1).map { case (n, b) =>
      col(s"top${n}_count") < 2 ||
        frac(col(s"top${n}_chars"), col("word_chars")) <= b
    }.reduce(_ && _)
    val dupOk = dupBounds.toSeq.sortBy(_._1).map { case (n, b) =>
      frac(col(s"dup${n}_chars"), col("word_chars")) <= b
    }.reduce(_ && _)
    lineOk && topOk && dupOk
  }

  // ---- fused kernel ------------------------------------------------------

  private val ParaPat = java.util.regex.Pattern.compile(ParagraphDedup.ParaSplit)
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  // Java-regex \s exactly (NOT Character.isWhitespace, which differs on
  // - and friends) — must match the combinators' regexp trim
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def trimWs(s: String): String = {
    var i = 0; var j = s.length
    while (i < j && isWs(s.charAt(i))) i += 1
    while (j > i && isWs(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  // Spark `length()` counts code points, not UTF-16 units
  private def nChars(s: String): Long = s.codePointCount(0, s.length).toLong

  // (n, chars, dup_n, dup_chars) over the group multiset — the closed form
  // of runStats' sorted run-length fold for the fields lines/paras consume
  private def groupStats(items: Array[String]): Array[Long] = {
    val m = new java.util.HashMap[String, Long]()
    var n = 0L; var chars = 0L
    items.foreach { s =>
      n += 1; chars += nChars(s)
      m.merge(s, 1L, (a, b) => a + b)
    }
    var dupN = 0L; var dupC = 0L
    m.forEach { (k, c) => if (c >= 2) { dupN += c; dupC += c * nChars(k) } }
    Array(n, chars, dupN, dupC)
  }

  /** One pass over `text` producing every [[signalNames]] value in order.
    * Semantics byte-identical to the combinator battery: same regexes for
    * line/paragraph/word boundaries, same regex-\s trim, same
    * default-locale lowercase as Spark's lower(), code-point char counts,
    * top ties to the larger count×length product.
    */
  private[text] def computeSignals(text: String,
                                   topNs: Seq[Int], dupNs: Seq[Int]): Array[Long] = {
    val lines = text.split("\n", -1).map(trimWs).filter(_.nonEmpty)
    val paras = ParaPat.split(text, -1).map(trimWs).filter(_.nonEmpty)
    // DEFAULT-locale lowercase, deliberately: the executable spec this
    // kernel is pinned byte-identical against is Spark's lower(), whose
    // UTF8String.toLowerCaseSlow calls String.toLowerCase() with the JVM
    // default locale — Locale.ROOT here would diverge on non-ASCII text
    // under e.g. a Turkish-locale JVM (dotted/dotless i)
    val words = WsPat.split(text.toLowerCase(), -1)
      .filter(_.nonEmpty)
    val out = Array.newBuilder[Long]
    out ++= groupStats(lines)
    out ++= groupStats(paras)
    out += words.length.toLong
    out += (if (words.isEmpty) 0L
            else words.map(nChars).sum + (words.length - 1))
    val sb = new java.lang.StringBuilder()
    (topNs ++ dupNs).distinct.sorted.foreach { n =>
      val m = new java.util.HashMap[String, Long]()
      var i = 0
      while (i + n <= words.length) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words(i + k))
          k += 1
        }
        m.merge(sb.toString, 1L, (a, b) => a + b)
        i += 1
      }
      var topCnt = 0L; var topChars = 0L; var dupC = 0L
      m.forEach { (g, c) =>
        val ch = c * nChars(g)
        if (c > topCnt) { topCnt = c; topChars = ch }
        else if (c == topCnt && ch > topChars) topChars = ch
        if (c >= 2) dupC += ch
      }
      out += math.max(0, words.length - n + 1).toLong
      if (topNs.contains(n)) { out += topCnt; out += topChars }
      if (dupNs.contains(n)) out += dupC
    }
    out.result()
  }
}

/** Catalyst wrapper for [[Repetition.computeSignals]]: string → struct of
  * every Gopher repetition signal, one tight JVM pass per row. The
  * combinator battery ([[Repetition.withSignalsCombinators]]) is the
  * executable spec; this is the production evaluator — higher-order
  * functions never enter whole-stage codegen, and their interpreted
  * evaluation re-walks the text once per signal tree (~20×/row), which
  * measured ~15 ms/doc at bench scale vs microseconds here.
  */
case class GopherSignalsExpr(child: Expression, topNs: Seq[Int], dupNs: Seq[Int])
    extends UnaryExpression {

  override def dataType: DataType =
    StructType(Repetition.signalNames(topNs, dupNs)
      .map(StructField(_, LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val vals = Repetition.computeSignals(
      input.asInstanceOf[UTF8String].toString, topNs, dupNs)
    new GenericInternalRow(vals.map(Long.box).toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherSignals", this, classOf[GopherSignalsExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherSignalsExpr =
    copy(child = newChild)
  override def prettyName: String = "gopher_signals"
}

/** Fused Gopher keep-decision: signals struct → boolean, the whole
  * threshold battery ([[Repetition.gopherKeep]]'s executable-spec
  * semantics, value-identical: same den==0→0.0 fraction rule, same
  * double division and comparisons, same modal-gram-occurring-once
  * exemption) evaluated in one tight JVM pass over ONE struct value.
  *
  * Exists for plan shape, not speed of the arithmetic itself: as a single
  * predicate expression referencing its child once, predicate pushdown can
  * relocate it freely without duplicating the expensive child — the
  * column-battery form (filter over ~20 extracted signal columns) gets its
  * alias substituted per conjunct on pushdown, and FilterExec codegen does
  * no cross-conjunct subexpression elimination, so the signals kernel ran
  * ~40× per row (RepetitionSpec pins both the equivalence and the
  * single-reference plan shape).
  */
case class GopherKeepExpr(child: Expression, topNs: Seq[Int], dupNs: Seq[Int],
    topBounds: Map[Int, Double] = Repetition.DefaultTopBounds,
    dupBounds: Map[Int, Double] = Repetition.DefaultDupBounds,
    dupLineFrac: Double = 0.30, dupParaFrac: Double = 0.30,
    dupLineCharFrac: Double = 0.20, dupParaCharFrac: Double = 0.20)
    extends UnaryExpression {

  // a bound on an n the struct does not carry would otherwise surface as a
  // NoSuchElementException at the first row's eval, inside a task
  locally {
    val missing = (topBounds.keys.toSeq.sorted.flatMap(n =>
        Seq(s"top${n}_count", s"top${n}_chars")) ++
      dupBounds.keys.toSeq.sorted.map(n => s"dup${n}_chars"))
      .filterNot(Repetition.signalNames(topNs, dupNs).toSet)
    require(missing.isEmpty,
      s"gopher bounds name signals absent from the struct: ${missing.mkString(", ")}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  // field ordinals of the signals struct — the ONE signalNames order
  @transient private lazy val idx: Map[String, Int] =
    Repetition.signalNames(topNs, dupNs).zipWithIndex.toMap
  // bounds resolved to ordinals once, not per row
  @transient private lazy val topChecks: Seq[(Int, Int, Double)] =
    topBounds.toSeq.sortBy(_._1).map { case (n, b) =>
      (idx(s"top${n}_count"), idx(s"top${n}_chars"), b) }
  @transient private lazy val dupChecks: Seq[(Int, Double)] =
    dupBounds.toSeq.sortBy(_._1).map { case (n, b) => (idx(s"dup${n}_chars"), b) }

  override def nullSafeEval(input: Any): Any = {
    val r = input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    def v(name: String): Long = r.getLong(idx(name))
    def frac(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else num.toDouble / den.toDouble
    val lineOk =
      frac(v("dup_lines"), v("n_lines")) <= dupLineFrac &&
        frac(v("dup_paras"), v("n_paras")) <= dupParaFrac &&
        frac(v("dup_line_chars"), v("line_chars")) <= dupLineCharFrac &&
        frac(v("dup_para_chars"), v("para_chars")) <= dupParaCharFrac
    val wordChars = v("word_chars")
    val topOk = topChecks.forall { case (cnt, chars, b) =>
      r.getLong(cnt) < 2 || frac(r.getLong(chars), wordChars) <= b }
    val dupOk = dupChecks.forall { case (chars, b) =>
      frac(r.getLong(chars), wordChars) <= b }
    java.lang.Boolean.valueOf(lineOk && topOk && dupOk)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherKeep", this, classOf[GopherKeepExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((Boolean) $ref.nullSafeEval($c)).booleanValue();")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherKeepExpr =
    copy(child = newChild)
  override def prettyName: String = "gopher_keep"
}
