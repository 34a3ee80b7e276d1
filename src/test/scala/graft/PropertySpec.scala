package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.fingerprint.{Fingerprints => FP, HashKernels}

/** Property-style tests (SURVEY.md §5) over seeded ScalaCheck generators:
  * MinHash Jaccard error bound, SimHash metric properties, union-find
  * partition invariant. Sampling is explicit (fixed seeds) so runs are
  * deterministic — no scalatestplus bridge in the offline cache.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val wordGen = Gen.oneOf((0 until 50).map(i => s"w$i"))
  private val docGen = Gen.listOfN(60, wordGen).map(_.mkString(" "))

  test("minhash jaccard estimate within 0.2 of exact jaccard (128 perms)") {
    val docs = samples(docGen, 16, 1000L)
    val pairs = docs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val rows = pairs.toDF("a", "b").select(
      FP.exactJaccard(FP.shingleHashes($"a", 2), FP.shingleHashes($"b", 2)).as("j"),
      FP.minhashJaccardEst(FP.minhash($"a", 2), FP.minhash($"b", 2)).as("e")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2,
        s"exact=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
  }

  test("simhash hamming: reflexive zero, symmetric, bounded by 64") {
    val docs = samples(docGen, 16, 2000L)
    val pairs = docs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val rows = pairs.toDF("a", "b").select(
      FP.hamming(FP.simhash($"a"), FP.simhash($"a")).as("aa"),
      FP.hamming(FP.simhash($"a"), FP.simhash($"b")).as("ab"),
      FP.hamming(FP.simhash($"b"), FP.simhash($"a")).as("ba")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == 0 && r.getInt(1) == r.getInt(2) && r.getInt(1) <= 64)
    }
  }

  test("union-find yields a partition: connected vertices share a root label") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0, 15), Gen.choose(0, 15)).suchThat { case (a, b) => a != b })
    // extra inputs: the empty edge set, and a node (99) whose only edge is
    // a self-loop
    for (es <- samples(edgeGen, 4, 3000L).filter(_.nonEmpty).map(_ :+ ((99, 99))) :+ Nil) {
      val edges = es.map { case (a, b) => (s"v$a", s"v$b") }.toDF("a", "b")
      val uf = unionFindBothPaths(edges)._1
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(uf.keySet == es.flatMap { case (a, b) => Seq(s"v$a", s"v$b") }.toSet)
      es.foreach { case (a, b) =>
        assert(uf(s"v$a") == uf(s"v$b"), s"edge ($a,$b) endpoints in different clusters")
      }
      uf.values.toSet.foreach { c: String => assert(uf(c) == c, s"label $c is not a root") }
      if (es.nonEmpty) assert(uf("v99") == "v99")
    }
  }

  test("union-find equals a reference sequential DSU on random graphs") {
    // in-memory path-compressed DSU as the trusted reference
    def dsuComponents(n: Int, es: Seq[(Int, Int)]): Map[Int, Int] = {
      val p = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (p(x) != x) p(x) = find(p(x)); p(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) p(math.max(ra, rb)) = math.min(ra, rb) // min-root union
      }
      // full compression, then remap every root to its component MIN member
      val root = (0 until n).map(find)
      val minOf = (0 until n).groupBy(root).map { case (r, m) => r -> m.min }
      (0 until n).map(i => i -> minOf(root(i))).toMap
    }
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 23), Gen.choose(0, 23)).suchThat { case (a, b) => a != b })
    // extra inputs: the empty edge set, and a node (24) whose only edge is
    // a self-loop
    for (es <- samples(edgeGen, 5, 4000L).filter(_.nonEmpty).map(_ :+ ((24, 24))) :+ Nil) {
      val expected = dsuComponents(25, es)
      val edges = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
      val got = unionFindBothPaths(edges)._1
        .map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      assert(got.keySet == es.flatMap { case (a, b) => Seq(a, b) }.toSet)
      got.foreach { case (id, label) =>
        assert(label == expected(id),
          s"node $id: spark label $label != reference ${expected(id)} (edges $es)")
      }
    }
  }

  test("minhash permutation coefficients are odd, distinct and deterministic") {
    val (a1, b1) = HashKernels.coefficients(128, 42L)
    val (a2, b2) = HashKernels.coefficients(128, 42L)
    assert(a1.sameElements(a2) && b1.sameElements(b2))
    assert(a1.forall(x => (x & 1L) == 1L))
    assert(a1.distinct.length == 128)
  }
}
