package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lsh.LSH
import graft.pipeline.{DedupConfig, DedupPipeline}

/** The combinator path the fused band-key kernel replaced, kept as its
  * oracle: `xxhash64` over `slice`s for the minhash bands and the prefix
  * ladder, `filter` + `zip_with` for the winnowed anchor pairs.
  */
object BandOracle {

  /** Anchor-pair bucket hashes: select the shingles ≡ 0 (mod `modulus`),
    * then hash each ADJACENT selected pair; empty when fewer than 2 are
    * selected.
    */
  def anchorBandHashes(shingles: Column, modulus: Int): Column = {
    val sel = filter(shingles, h => pmod(h, lit(modulus)) === 0)
    // zip the selection with its own tail; slice off the (last, null) pair
    slice(
      zip_with(sel, slice(sel, lit(2), greatest(size(sel) - 1, lit(0))),
        (a, b) => xxhash64(a, b)),
      lit(1), greatest(size(sel) - 1, lit(0)))
  }

  /** (id, band, band_hash) of every channel, built from four projections. */
  def rows(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val minhash = sigs.select(col("id"),
      posexplode(LSH.bandHashes(col("minhash"), cfg.bands, cfg.rowsPerBand))
        .as(Seq("band", "band_hash")))
    def prefix(band: Int, m: Int) = sigs.select(col("id"), lit(band).as("band"),
      LSH.prefixBandHash(col("shingles"), m).as("band_hash"))
    val anchors = sigs.select(col("id"), lit(cfg.bands + 1).as("band"),
      explode(anchorBandHashes(col("shingles"), cfg.anchorModulus)).as("band_hash"))
    minhash
      .unionByName(prefix(cfg.bands, cfg.prefixBandShingles))
      .unionByName(prefix(cfg.bands + 2, math.max(2, cfg.prefixBandShingles / 2)))
      .unionByName(anchors)
  }
}

/** The fused band-key kernel ([[LSH.bandKeys]]) emits exactly the rows of
  * the combinator path ([[BandOracle]]), as a multiset, on seeded samples.
  */
class BandKeysSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = DedupConfig()

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def multiset(df: DataFrame): Map[(String, Int, Long), Int] =
    df.select("id", "band", "band_hash").as[(String, Int, Long)].collect().toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def kernelRows(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), inline(LSH.bandKeys(col("minhash"), col("shingles"),
      cfg.bands, cfg.rowsPerBand, cfg.prefixBandShingles, cfg.anchorModulus)))

  /** Both evaluation paths of the kernel: generated code inside a
    * whole-stage stage, and interpreted `eval` under the generator.
    */
  private def bothPaths(f: => Unit): Unit = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      for (wholeStage <- Seq("true", "false")) {
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        f
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  // shingle arrays: lengths across the ladder's floors (1 = the whole-doc
  // shingle, < m/2, between m/2 and m, past m), anchor densities from none
  // to every element
  private val shinglesGen: Gen[Seq[Long]] = for {
    n <- Gen.oneOf(1, 2, 3, 4, 5, 7, 8, 9, 40)
    anchorEvery <- Gen.oneOf(1, 2, 5, 1000)
    xs <- Gen.listOfN(n, Gen.choose(Long.MinValue / 8, Long.MaxValue / 8))
  } yield xs.zipWithIndex.map { case (x, i) =>
    if ((i + 1) % anchorEvery == 0) x - x % cfg.anchorModulus
    else if (x % cfg.anchorModulus == 0) x + 1 else x
  }
  // minhash arrays: exactly bands*rowsPerBand slots or wider
  private val minhashGen: Gen[Seq[Long]] = for {
    n <- Gen.oneOf(cfg.numPerms, cfg.numPerms + 1, cfg.numPerms + 8, 128)
    xs <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
  } yield xs

  test("band keys equal the combinator path: generated shingle and minhash arrays") {
    val rows = samples(Gen.zip(minhashGen, shinglesGen), 60, 1800L).zipWithIndex
      .map { case ((mh, sh), i) => (s"d$i", mh, sh) }
    // the anchor counts the samples reach: none, one (no pair) and several
    val anchorCounts = rows.map(_._3.count(_ % cfg.anchorModulus == 0)).toSet
    assert(anchorCounts.contains(0) && anchorCounts.contains(1) && anchorCounts.exists(_ > 2))
    assert(rows.exists(_._2.size > cfg.numPerms) && rows.exists(_._3.size == 1))
    val sigs = rows.toDF("id", "minhash", "shingles")
    bothPaths {
      assert(multiset(kernelRows(sigs)) == multiset(BandOracle.rows(sigs, cfg)))
    }
  }

  test("band keys equal the combinator path: null arrays, null elements, empty minhash") {
    val sigs = Seq[(String, Option[Seq[java.lang.Long]], Option[Seq[java.lang.Long]])](
      ("null-minhash", None, Some(Seq(6L, 7L, 12L, 18L))),
      ("null-shingles", Some(Seq.tabulate(cfg.numPerms)(i => Long.box(i * 31L))), None),
      ("empty-minhash", Some(Nil), Some(Seq(6L, 12L))),
      ("null-elements", Some(Seq.tabulate(cfg.numPerms)(i => if (i % 5 == 0) null else Long.box(i))),
        Some(Seq(6L, null, 12L, 5L, null, 18L, 24L)))
    ).toDF("id", "minhash", "shingles")
    bothPaths {
      assert(multiset(kernelRows(sigs)) == multiset(BandOracle.rows(sigs, cfg)))
    }
  }

  test("fullBandRows of fingerprinted docs equals the combinator path") {
    val words = (0 until 300).map(i => s"w$i")
    val texts = Seq(
      "one", // fewer than k tokens: the whole-doc shingle
      "one two", "one two three", // one shingle
      "a b c d e", // 3 shingles: under the half-prefix level
      words.take(9).mkString(" "), // 7 shingles: between m/2 and m
      words.mkString(" "), words.reverse.mkString(" "),
      words.slice(50, 180).mkString(" ")).zipWithIndex.map { case (t, i) => (s"t$i", t) }
    val sigs = texts.toDF("id", "text")
      .select(col("id"), graft.fingerprint.Fingerprints.docSignature(col("text"),
        cfg.shingleK, 50, cfg.maxShingles).as("ds"))
      .select(col("id"), col("ds.minhash").as("minhash"),
        col("ds.simhash").as("simhash"), col("ds.shingles").as("shingles"))
    bothPaths {
      assert(multiset(DedupPipeline.fullBandRows(sigs, cfg)) ==
        multiset(BandOracle.rows(sigs, cfg)))
    }
  }
}
