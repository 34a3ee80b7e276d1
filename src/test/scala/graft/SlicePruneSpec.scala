package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pages.PagesGen
import graft.pipeline.DedupConfig
import graft.state.{Checkpoints, SlicePrune}

/** Slice-keyed state pruning (state/SlicePrune.scala): the Bloom probe
  * expression, the prune's structural exactness under a deliberately
  * undersized (false-positive-heavy) sketch, and the runEpoch wiring.
  */
class SlicePruneSpec extends SparkTestBase {
  import spark.implicits._

  test("might_contain_key: no false negatives; misses on disjoint keys; null-safe") {
    val members = (0 until 200).map(i => s"url-$i")
    val keys = members.toDF("k")
    val sketch = SlicePrune.keySketch(keys, "k", expectedItems = 200, fpp = 0.03)

    // every inserted key probes true — Bloom filters cannot false-negative
    val hits = keys.filter(SlicePrune.mightContain(sketch, col("k"))).count()
    assert(hits == 200, s"false negatives: only $hits/200 members probe true")

    // a disjoint probe set mostly misses (fpp 3% over 2000 probes)
    val probes = (0 until 2000).map(i => s"other-$i").toDF("k")
    val fp = probes.filter(SlicePrune.mightContain(sketch, col("k"))).count()
    assert(fp < 300, s"sketch passes $fp/2000 disjoint keys — not filtering")

    // null key → null predicate → row filtered, no NPE (and nulls on the
    // BUILD side are skipped, not thrown)
    val withNull = Seq(Some("url-1"), None).toDF("k")
    val sketchN = SlicePrune.keySketch(withNull, "k", 10, 0.03)
    assert(withNull.filter(SlicePrune.mightContain(sketchN, col("k"))).count() == 1)
  }

  test("might_contain_key over bigint keys") {
    val keys = (0L until 100L).toDF("k")
    val sketch = SlicePrune.keySketch(keys, "k", 100, 0.03)
    assert(keys.filter(SlicePrune.mightContain(sketch, col("k"))).count() == 100)
    val far = (1000000L until 1002000L).toDF("k")
    val fp = far.filter(SlicePrune.mightContain(sketch, col("k"))).count()
    assert(fp < 300, s"long sketch passes $fp/2000 disjoint keys")
  }

  test("interpreted eval matches the codegen path") {
    val keys = (0 until 50).map(i => s"id-$i").toDF("k")
    val sketch = SlicePrune.keySketch(keys, "k", 50, 0.01)
    val probes = ((0 until 50).map(i => s"id-$i") ++ (0 until 50).map(i => s"no-$i"))
    val pred = SlicePrune.mightContain(sketch, col("k"))
    val viaPlan = probes.toDF("k").withColumn("hit", pred)
      .as[(String, Boolean)].collect().toMap
    val expr = graft.state.MightContainKey(
      org.apache.spark.sql.graftshim.shim.toExpression(col("k")), sketch)
    probes.foreach { p =>
      val interpreted = expr.hitString(org.apache.spark.unsafe.types.UTF8String.fromString(p))
      assert(viaPlan(p) == interpreted, s"codegen/eval divergence on $p")
    }
  }

  test("pruneByKeys is a superset of the semi-join and exact under a saturated sketch") {
    // state = corpus-aged side (no multiples of 7); slice = incoming batch
    // (multiples of 3) — so "new" docs are exactly the multiples of 21
    val state = (0 until 1000).filterNot(_ % 7 == 0).map(i => s"doc-$i").toDF("id")
    val slice = (0 until 100).map(i => (s"doc-${i * 3}", i)).toDF("id", "v")
    // expectedItems=5 for 100 slice keys: the sketch saturates, fpp
    // degrades hard — the structural exactness claim must survive that
    val pruned = SlicePrune.pruneByKeys(state, "id", slice.select("id"), "id",
      expectedItems = 5, fpp = 0.3)

    val exactSemi = state.join(slice.select("id"), Seq("id"), "left_semi")
      .as[String].collect().toSet
    val prunedIds = pruned.as[String].collect().toSet
    assert(exactSemi.subsetOf(prunedIds),
      s"prune dropped true members: ${(exactSemi -- prunedIds).take(5)}")

    // the resume join through the pruned state ≡ through the full state
    val viaPruned = slice.join(pruned, Seq("id"), "left_anti")
      .as[(String, Int)].collect().toSet
    val plain = slice.join(state, Seq("id"), "left_anti")
      .as[(String, Int)].collect().toSet
    assert(viaPruned == plain, "pruned anti-join diverges from the exact one")
    assert(plain.nonEmpty && plain.size < 100, "fixture lost its seen/new mix")
  }

  test("runEpoch with stateBloomFpp resumes identically to the plain path") {
    def dir() = Files.createTempDirectory("graft-sliceprune").toString
    val plainDir = dir(); val bloomDir = dir()
    // tiny expected + high fpp: force a saturated, fp-heavy sketch so the
    // equality below is evidence, not luck
    val cfg = DedupConfig(stateBloomFpp = 0.3, stateBloomExpected = 2L)
    val p1 = PagesGen.pages(spark, 6L, seed = 47L, tokensPerDoc = 60).toDF()
    val p2 = PagesGen.pages(spark, 9L, seed = 47L, tokensPerDoc = 60).toDF()

    val (a1, _) = Checkpoints.runEpoch(spark, p1, "url", "text", plainDir)
    val (a2, _) = Checkpoints.runEpoch(spark, p2, "url", "text", plainDir)
    val (b1, _) = Checkpoints.runEpoch(spark, p1, "url", "text", bloomDir, cfg)
    val (b2, _) = Checkpoints.runEpoch(spark, p2, "url", "text", bloomDir, cfg)
    assert((b1, b2) == (a1, a2),
      s"bloom-pruned resume counts ($b1, $b2) diverge from plain ($a1, $a2)")

    def content(d: String) = Checkpoints.readSignatures(spark, d)
      .select("id", "content_hash", "epoch")
      .as[(String, String, Long)].collect().toSet
    assert(content(bloomDir) == content(plainDir),
      "bloom-pruned epochs changed the persisted state")
  }

  test("pruned para/span incremental passes match the plain ones across epochs") {
    import graft.state.SubDocState
    def dir() = Files.createTempDirectory("graft-subdoc-bloom").toString
    val plainD = dir(); val bloomD = dir()
    val shared = "repeated paragraph body here\n\nshared sentence one. " +
      "shared sentence two. shared sentence three."
    val e1 = Seq(("d1", s"unique alpha\n\n$shared"), ("d2", s"$shared\n\nunique beta"))
      .toDF("id", "text")
    val e2 = Seq(("d3", s"$shared\n\nunique gamma"), ("d4", "all fresh text here"))
      .toDF("id", "text")

    def run(d: String, fpp: Double) = {
      // saturated tiny sketch again: exactness must be structural
      val cfg = DedupConfig(stateBloomFpp = fpp, stateBloomExpected = 2L)
      val r1 = SubDocState.dedupParagraphsIncremental(spark, d, e1, "id", "text", cfg)
        .select("id", "text").as[(String, String)].collect().toSet
      val r2 = SubDocState.dedupParagraphsIncremental(spark, d, e2, "id", "text", cfg)
        .select("id", "text").as[(String, String)].collect().toSet
      val s1 = SubDocState.dedupSpansIncremental(spark, d, e1, "id", "text", cfg)
        .select("id", "text").as[(String, String)].collect().toSet
      (r1, r2, s1)
    }
    assert(run(bloomD, 0.3) == run(plainD, 0.0),
      "bloom-pruned sub-document passes diverge from the plain ones")
  }

  test("the prune lands as a might_contain_key filter on the state side of the plan") {
    // parquet-backed, not a local relation: ConvertToLocalRelation would
    // otherwise evaluate the filter at optimize time and hide it
    val dir = Files.createTempDirectory("graft-prune-plan").toString + "/t"
    (0 until 100).map(i => s"s-$i").toDF("id").write.parquet(dir)
    val large = spark.read.parquet(dir)
    val keys = (0 until 10).map(i => s"s-$i").toDF("id")
    val pruned = SlicePrune.pruneByKeys(large, "id", keys, "id", 10, 0.01)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain_key"),
      s"expected a might_contain_key filter in the plan:\n$plan")
  }
}
