package graft

import org.apache.spark.sql.functions._

import graft.fingerprint.{Fingerprints => FP}
import graft.lsh.LSH

class LshSpec extends SparkTestBase {
  import spark.implicits._

  private def sigsFor(texts: Seq[(String, String)]) =
    texts.toDF("id", "text")
      .select(col("id"), FP.minhash(col("text"), 2).as("minhash"))

  test("identical docs collide in every band") {
    val sigs = sigsFor(Seq(("a", "x y z w"), ("b", "x y z w")))
    val exploded = LSH.explodeBands(sigs, "id", "minhash", 64, 2)
    val pairs = LSH.candidatePairs(exploded, "id").as[(String, String)].collect()
    assert(pairs.toSeq == Seq(("a", "b")))
  }

  test("hot-bucket salted path produces the exact same pair set as the cold path") {
    // 30 identical docs → one mega bucket per band; force the salted path
    // with hotThreshold=5 and compare against the plain path
    val docs = (0 until 30).map(i => (f"d$i%02d", "same text for every doc here"))
    val sigs = sigsFor(docs)
    val exploded = LSH.explodeBands(sigs, "id", "minhash", 64, 2).cache()
    val salted = LSH.candidatePairs(exploded, "id", hotThreshold = 5, saltFactor = 4)
      .as[(String, String)].collect().toSet
    val plain = LSH.candidatePairs(exploded, "id", hotThreshold = 1000000)
      .as[(String, String)].collect().toSet
    assert(salted == plain)
    assert(salted.size == 30 * 29 / 2, s"expected all C(30,2) pairs, got ${salted.size}")
  }

  test("maxBucketSize drops mega buckets entirely (logged, not silent partial)") {
    val docs = (0 until 20).map(i => (f"d$i%02d", "identical boilerplate page"))
    val sigs = sigsFor(docs)
    val exploded = LSH.explodeBands(sigs, "id", "minhash", 64, 2)
    val (pairs, log) = withQueryLog(LSH.candidatePairs(exploded, "id", maxBucketSize = 10)
      .as[(String, String)].collect())
    assert(pairs.isEmpty, "all buckets exceed the cap, so no pairs should emerge")
    // the drop count rides the pair job as an observation: one bucket per
    // band, every one over the cap, and no count action to learn it
    val bands = exploded.select("band").distinct().count()
    assert(log.observed("dropped") == Seq(bands), log.observations)
    assert(!log.actions.contains("count"), log.actions)
  }

  test("anchor bands are offset-invariant: shared middle region collides") {
    // shingle-hash arrays crafted so the shared region selects 6,12,18,24
    // (≡ 0 mod 6); the region sits at offset 2 in A and offset 0 in B —
    // the adjacent-pair bucket hashes must still intersect
    val region = Seq(6L, 13L, 12L, 7L, 18L, 25L, 24L)
    val a = Seq(1L, 2L) ++ region ++ Seq(3L, 4L)
    val b = region
    val df = Seq((a, b)).toDF("sa", "sb").select(
      BandOracle.anchorBandHashes(col("sa"), 6).as("ha"),
      BandOracle.anchorBandHashes(col("sb"), 6).as("hb"))
    val r = df.select(size(array_intersect(col("ha"), col("hb"))).as("shared"),
      size(col("ha")).as("na")).first()
    assert(r.getInt(0) == 3, "all three adjacent selected pairs must be shared")
    assert(r.getInt(1) == 3)
    // a doc with < 2 selected shingles emits no anchor rows
    val empty = Seq(Seq(1L, 7L, 13L)).toDF("s")
      .select(size(BandOracle.anchorBandHashes(col("s"), 6))).first().getInt(0)
    assert(empty == 0)
  }

  test("unrelated docs share no band buckets") {
    val sigs = sigsFor(Seq(
      ("a", "alpha beta gamma delta epsilon zeta"),
      ("b", "one two three four five six seven")))
    val exploded = LSH.explodeBands(sigs, "id", "minhash", 64, 2)
    val pairs = LSH.candidatePairs(exploded, "id").count()
    assert(pairs == 0)
  }
}
