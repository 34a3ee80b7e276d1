package graft

import org.apache.spark.sql.functions._

import graft.text.{GopherKeepExpr, GopherSignalsExpr, Repetition}

class RepetitionSpec extends SparkTestBase {
  import spark.implicits._

  // ---- brute-force reference implementation (independent of the Spark code)

  private def refTrim(s: String) = s.replaceAll("^\\s+|\\s+$", "")
  private def refLines(t: String) =
    t.split("\n", -1).map(refTrim).filter(_.nonEmpty).toSeq
  private def refParas(t: String) =
    t.split("[\\t \\r]*\\n(?:[\\t \\r]*\\n)+[\\t \\r]*", -1)
      .map(refTrim).filter(_.nonEmpty).toSeq
  private def refWords(t: String) =
    t.toLowerCase.split("\\s+", -1).filter(_.nonEmpty).toSeq
  private def refNgrams(ws: Seq[String], n: Int) =
    if (ws.size < n) Seq.empty[String] else ws.sliding(n).map(_.mkString(" ")).toSeq

  private case class Stats(n: Long, chars: Long, dupN: Long, dupChars: Long,
                           topN: Long, topChars: Long)
  private def refStats(xs: Seq[String]): Stats = {
    val g = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dup = g.filter(_._2 >= 2)
    val topN = if (g.isEmpty) 0L else g.values.max
    val topChars =
      if (g.isEmpty) 0L
      else g.collect { case (s, c) if c == topN => c * s.length }.max
    Stats(xs.size.toLong, xs.map(_.length.toLong).sum,
      dup.values.sum, dup.map { case (s, c) => c * s.length }.sum,
      topN, topChars)
  }

  private val docs: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val lineAlphabet = Seq("copyright footer", "menu  home about", "BODY text",
      "x", "the end.", "Tabbed\tline")
    val wordAlphabet = Seq("the", "cat", "sat", "on", "mat", "dog", "ran")
    val random = (1 to 24).map { _ =>
      val nl = rnd.nextInt(8)
      val lines = (0 until nl).map(_ => lineAlphabet(rnd.nextInt(lineAlphabet.size)))
      val nw = rnd.nextInt(14)
      val words = (0 until nw).map(_ => wordAlphabet(rnd.nextInt(wordAlphabet.size)))
      (lines :+ words.mkString(" ")).mkString(
        if (rnd.nextBoolean()) "\n" else "\n\n")
    }
    random ++ Seq(
      "",                       // empty doc
      "   \n \n\t\n",           // whitespace only
      "one line no dup",        // single line
      "dup\ndup\ndup",          // all-duplicate lines
      "a b a b a b a b",        // heavy bigram repetition
      "para one\n\npara one\n\n para one \n\npara two")
  }

  test("withSignals matches the brute-force reference on crafted + random docs") {
    val out = Repetition.withSignals(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "text", topNs = Seq(2, 3), dupNs = Seq(4, 5))
      .orderBy("id").collect()
    for ((row, t) <- out.zip(docs)) {
      val ls = refStats(refLines(t)); val ps = refStats(refParas(t))
      val ws = refWords(t)
      def gl(c: String) = row.getLong(row.fieldIndex(c))
      assert(gl("n_lines") == ls.n && gl("line_chars") == ls.chars &&
        gl("dup_lines") == ls.dupN && gl("dup_line_chars") == ls.dupChars,
        s"line stats mismatch on ${t.take(40)}")
      assert(gl("n_paras") == ps.n && gl("para_chars") == ps.chars &&
        gl("dup_paras") == ps.dupN && gl("dup_para_chars") == ps.dupChars,
        s"para stats mismatch on ${t.take(40)}")
      assert(gl("n_words") == ws.size.toLong)
      assert(gl("word_chars") == ws.mkString(" ").length.toLong)
      for (n <- Seq(2, 3)) {
        val gs = refStats(refNgrams(ws, n))
        assert(gl(s"n_${n}grams") == gs.n && gl(s"top${n}_count") == gs.topN &&
          gl(s"top${n}_chars") == gs.topChars,
          s"top-$n mismatch on ${t.take(40)}")
      }
      for (n <- Seq(4, 5))
        assert(gl(s"dup${n}_chars") == refStats(refNgrams(ws, n)).dupChars,
          s"dup-$n mismatch on ${t.take(40)}")
    }
  }

  test("gopherKeep drops repetitive docs, keeps diverse ones, ignores empty") {
    val repetitiveLines = (1 to 10).map(_ => "subscribe to our newsletter")
      .mkString("\n") + "\nunique closing line"
    val repetitiveGrams = ("click here " * 30).trim
    // no word pair repeats: every adjacent pair embeds the line index
    val clean = (1 to 60).map(i => s"r$i alpha$i beta$i gamma${i * 7} delta${i * 13}.")
      .mkString("\n")
    val out = Repetition.withSignals(
        Seq((1L, repetitiveLines), (2L, repetitiveGrams), (3L, clean), (4L, ""))
          .toDF("id", "text"), "text")
      .withColumn("keep", Repetition.gopherKeep())
      .orderBy("id").select("keep").as[Boolean].collect().toSeq
    assert(out == Seq(false, false, true, true))
  }

  test("signals are a shuffle-free narrow projection; the kernel runs once per row") {
    val plan = Repetition.withSignals(
      spark.range(10).select($"id", concat(lit("a\nb\na "), $"id").as("text")), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    // the ~20 field extractions must NOT inline the kernel 20x: exactly one
    // gopher_signals evaluation site in the physical plan
    assert("gopher_signals".r.findAllIn(plan).size == 1,
      s"kernel evaluated more than once:\n$plan")
  }

  test("fused kernel == combinator battery on crafted + random docs") {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fused = Repetition.withSignals(df, "text").orderBy("id").collect()
    val comb = Repetition.withSignalsCombinators(df, "text").orderBy("id").collect()
    assert(fused.length == comb.length)
    fused.zip(comb).foreach { case (f, c) =>
      assert(f.schema.fieldNames.toSeq == c.schema.fieldNames.toSeq)
      assert(f.toSeq == c.toSeq, s"fused/combinator mismatch for id ${f.get(0)}")
    }
  }

  test("filterGopher == the executable-spec path (withSignals + gopherKeep)") {
    // the gopherKeep fixture docs plus the crafted/random battery corpus:
    // repetitive-line, repetitive-gram, clean and empty docs all present
    val repetitiveLines = (1 to 10).map(_ => "subscribe to our newsletter")
      .mkString("\n") + "\nunique closing line"
    val repetitiveGrams = ("click here " * 30).trim
    val clean = (1 to 60).map(i => s"r$i alpha$i beta$i gamma${i * 7} delta${i * 13}.")
      .mkString("\n")
    val df = (docs ++ Seq(repetitiveLines, repetitiveGrams, clean))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fused = Repetition.filterGopher(df, "text")
      .orderBy("id").select("id").as[Long].collect().toSeq
    val spec = Repetition.withSignals(df, "text")
      .filter(Repetition.gopherKeep())
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(fused == spec, "fused keep-filter diverges from the spec path")
    // null text must drop the row in both paths (null predicate == false)
    val withNull = Seq((0L, null.asInstanceOf[String]), (1L, "fine text")).toDF("id", "text")
    assert(Repetition.filterGopher(withNull, "text").count() ==
      Repetition.withSignals(withNull, "text")
        .filter(Repetition.gopherKeep()).count())
  }

  test("filterGopher's plan evaluates the signals kernel exactly once per row") {
    val plan = Repetition.filterGopher(
      spark.range(10).select($"id", concat(lit("a\nb\na "), $"id").as("text")), "text")
      .queryExecution.executedPlan.toString
    // the column-battery form let predicate pushdown inline the kernel into
    // every threshold conjunct (~40 copies); the fused predicate references
    // it exactly once
    assert("gopher_signals".r.findAllIn(plan).size == 1,
      s"kernel duplicated in the filter condition:\n$plan")
    assert(plan.contains("gopher_keep"), s"fused keep predicate missing:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("GopherKeepExpr rejects a bounds key with no signal field at construction") {
    val sig = GopherSignalsExpr(
      org.apache.spark.sql.catalyst.expressions.Literal("a b"), Seq(2), Seq(5))
    val top = intercept[IllegalArgumentException](
      GopherKeepExpr(sig, Seq(2), Seq(5), topBounds = Map(3 -> 0.2), dupBounds = Map.empty))
    assert(top.getMessage.contains("top3_count, top3_chars"), top.getMessage)
    val dup = intercept[IllegalArgumentException](
      GopherKeepExpr(sig, Seq(2), Seq(5), topBounds = Map.empty, dupBounds = Map(6 -> 0.1)))
    assert(dup.getMessage.contains("dup6_chars"), dup.getMessage)
    // matching keys construct fine
    GopherKeepExpr(sig, Seq(2), Seq(5), topBounds = Map(2 -> 0.2), dupBounds = Map(5 -> 0.1))
  }
}
