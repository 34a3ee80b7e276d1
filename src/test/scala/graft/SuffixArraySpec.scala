package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.actions.Actions
import graft.fingerprint.{Fingerprints => FP, SuffixArray}
import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}

/** Suffix-array substring pass (north_rule) + stage-7 action planning. */
class SuffixArraySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  // ── suffix-array kernel ───────────────────────────────────────────────

  private def bruteLcs(a: String, b: String): Int = {
    var best = 0
    for (i <- 0 until a.length; j <- 0 until b.length) {
      var k = 0
      while (i + k < a.length && j + k < b.length && a(i + k) == b(j + k)) k += 1
      if (k > best) best = k
    }
    best
  }

  test("lcsLength on known strings") {
    assert(SuffixArray.lcsLength("abcde", "cdexx") == 3)   // "cde"
    assert(SuffixArray.lcsLength("banana", "anas") == 3)   // "ana"
    assert(SuffixArray.lcsLength("", "abc") == 0)
    assert(SuffixArray.lcsLength("abc", "") == 0)
    assert(SuffixArray.lcsLength("same", "same") == 4)
    assert(SuffixArray.lcsLength("xyz", "abc") == 0)
    assert(SuffixArray.lcsLength("aaaa", "aa") == 2)
  }

  test("lcsLength matches brute force on random strings (property)") {
    val gen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')))
      .map(_.mkString)
    val pairs = samples(gen, 200, 99L).grouped(2).collect { case Seq(a, b) => (a, b) }
    pairs.foreach { case (a, b) =>
      assert(SuffixArray.lcsLength(a, b) == bruteLcs(a, b), s"a='$a' b='$b'")
    }
  }

  test("lcsRatioAtLeast is decision-equivalent to lcsLength/min >= t (property)") {
    // random strings over a small alphabet (forces repeats and near-misses)
    val gen = Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')))
      .map(_.mkString)
    val pairs = samples(gen, 400, 1234L).grouped(2).collect { case Seq(a, b) => (a, b) }
    val thresholds = Seq(0.3, 0.5, 0.9, 0.95, 1.0)
    pairs.foreach { case (a, b) =>
      val minLen = math.min(a.length, b.length)
      val score =
        if (minLen == 0) 1.0
        else SuffixArray.lcsLength(a, b).toDouble / minLen
      thresholds.foreach { t =>
        assert(SuffixArray.lcsRatioAtLeast(a, b, t) == (score >= t),
          s"a='$a' b='$b' t=$t score=$score")
      }
    }
    // double-division ulp edges: 18/20 >= 0.9 is TRUE although
    // ceil(0.9*20) = 19 — the integer-T derivation must reproduce the
    // division's behavior, not a naive ceil
    val a20 = "abcdefghijklmnopqrst" // len 20
    val b18 = a20.take(18) + "XY"    // LCS 18, min 20
    assert(SuffixArray.lcsLength(a20, b18) == 18)
    assert(SuffixArray.lcsRatioAtLeast(a20, b18, 0.9) == (18.0 / 20 >= 0.9))
    // pathological repetitive inputs stay exact (chained equal hashes)
    assert(SuffixArray.lcsRatioAtLeast("aaaaaaaaaa", "aaaaab", 0.8))
    assert(!SuffixArray.lcsRatioAtLeast("ababababab", "bbbbbb", 0.9))
    // non-positive thresholds are vacuously satisfied (ratio >= 0 always):
    // the t-search floor must not demand a length-1 common substring —
    // disjoint alphabets were the inverting case
    assert(SuffixArray.lcsRatioAtLeast("abc", "xyz", 0.0))
    assert(SuffixArray.lcsRatioAtLeast("abc", "xyz", -0.5))
    assert(SuffixArray.lcsRatioAtLeast("", "xyz", 0.0))
  }

  test("saContainmentAtLeast column agrees with saContainment >= t on the ambiguous shapes") {
    val rows = Seq(
      ("the quick brown fox jumps over the lazy dog", "quick brown fox"), // verbatim quote
      ("the quick brown fox jumps over the lazy dog", "quick brown cat"), // near miss
      ("shared prefix words here then diverges completely", "shared prefix words here but other tail"),
      ("", "anything"), ("same", "same")
    ).toDF("a", "b")
    val got = rows
      .withColumn("dec", FP.saContainmentAtLeast(col("a"), col("b"), 0.9))
      .withColumn("score_dec", FP.saContainment(col("a"), col("b")) >= 0.9)
      .select("dec", "score_dec").as[(Boolean, Boolean)].collect()
    got.foreach { case (dec, scoreDec) => assert(dec == scoreDec) }
  }

  test("prefix containment: saContainment == 1.0 iff substring") {
    val df = Seq(
      ("full contains the middle part here", "the middle part", true),
      ("completely different words", "not present at all", false),
      ("exact", "exact", true)
    ).toDF("long_s", "short_s", "expect")
    val got = df.withColumn("c", FP.saContainment(col("short_s"), col("long_s")))
      .select(col("expect"), (col("c") === 1.0).as("got")).collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
  }

  test("saLcs as a column equals the Scala kernel") {
    val rows = Seq(("hello world text", "world te"), ("abc", "zzz")).toDF("a", "b")
    val out = rows.withColumn("l", FP.saLcs(col("a"), col("b")))
      .select("a", "b", "l").as[(String, String, Int)].collect()
    out.foreach { case (a, b, l) => assert(l == SuffixArray.lcsLength(a, b)) }
  }

  // ── the SA pass is load-bearing in the pipeline ───────────────────────

  test("truncate_30 (sub-Jaccard prefix) clusters with original; SA tier adds real containment edges") {
    val pages = PagesGen.pages(spark, numBase = 12L, seed = 7L, tokensPerDoc = 240).toDF().cache()
    val clusters = DedupPipeline.run(spark, pages, "url", "text", DedupConfig())
      .select($"id", $"cluster_id").cache()
    val t30 = PagesGen.truthPairs(spark, 12L, seed = 7L).toDF()
      .filter($"kind" === "truncate_30")
      .join(clusters.withColumnRenamed("id", "urlA").withColumnRenamed("cluster_id", "ca"), "urlA")
      .join(clusters.withColumnRenamed("id", "urlB").withColumnRenamed("cluster_id", "cb"), "urlB")
    val total = t30.count()
    val hit = t30.filter($"ca" === $"cb").count()
    assert(total == 12L)
    assert(hit.toDouble / total >= 0.95, s"truncate_30 recall $hit/$total")

    // contribution control: the SA tier must strictly ADD edges over the
    // cheap tier (Jaccard/SimHash) alone, and every added edge must be a
    // genuine containment pair (a truncate or mid-quote variant on at
    // least one side)
    // (the cheap tier accepts a pair on SimHash Hamming or exact shingle
    // Jaccard; the SA-added edges are the ones it rejects on both)
    val cfg = DedupConfig()
    val sigs = DedupPipeline.signatures(pages, "url", "text", cfg).cache()
    val withSa = DedupPipeline.nearEdges(spark, sigs, cfg,
      texts = Some(DedupPipeline.normTexts(pages, "url", "text", cfg))).cache()
    def side(s: String) = sigs.select($"id".as(s), $"simhash".as(s"sim_$s"),
      $"shingles".as(s"sh_$s"))
    val added = withSa.join(side("a"), "a").join(side("b"), "b")
      .filter(FP.hamming($"sim_a", $"sim_b") > cfg.simhashAcceptHamming &&
        FP.shingleOverlap($"sh_a", $"sh_b").getField("jaccard") < cfg.jaccardThreshold)
      .select("a", "b").cache()
    assert(added.count() > 0, "SA pass added no edges — not load-bearing")
    val isContainmentKind = (c: org.apache.spark.sql.Column) =>
      c.contains("/truncate_") || c.contains("/mid_quote")
    val nonContainment = added.filter(
      !isContainmentKind($"a") && !isContainmentKind($"b")).count()
    assert(nonContainment == 0,
      s"$nonContainment SA-added edges are not containment pairs (precision)")
  }

  // ── stage-7 action planning ───────────────────────────────────────────

  test("action planning: every non-representative gets exactly one action to its rep") {
    val clusters = Seq(
      ("u1", "c1", true), ("u2", "c1", false), ("u3", "c1", false),
      ("u4", "c2", true), // singleton: no action
      ("u5", "c3", false), ("u6", "c3", true)
    ).toDF("id", "cluster_id", "is_representative")
    val plan = Actions.plan(clusters, "symlink", dryRun = true).collect()
    assert(plan.length == 3)
    val m = plan.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("u2" -> "u1", "u3" -> "u1", "u5" -> "u6"))
    plan.foreach { r =>
      assert(r.getString(2) == "symlink" && r.getBoolean(3) && r.getBoolean(4))
      assert(r.isNullAt(5))
    }
  }

  test("action planning rejects unknown action kinds") {
    val clusters = Seq(("a", "c", true)).toDF("id", "cluster_id", "is_representative")
    intercept[IllegalArgumentException](Actions.plan(clusters, "shred"))
  }

  test("applyActions removes only successfully delete/move-tombstoned rows") {
    val pages = Seq("u1", "u2", "u3", "u4", "u5").toDF("url")
    val executed = Seq(
      ("u2", "u1", "delete", false, true, null.asInstanceOf[String]),   // removed
      ("u3", "u1", "symlink", false, true, null.asInstanceOf[String]),  // kept (link)
      ("u4", "u1", "move", false, true, null.asInstanceOf[String]),     // removed
      ("u5", "u1", "delete", false, false, "missing_id")                // failed -> kept
    ).toDF("id", "original_id", "action", "dry_run", "success", "error")
    val surviving = Actions.applyActions(pages, $"url", executed)
      .as[String].collect().toSet
    assert(surviving == Set("u1", "u3", "u5"))
    assert(Actions.tombstones(executed).select("id").as[String].collect().toSet
      == Set("u2", "u4"))
  }
}
