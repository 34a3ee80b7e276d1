package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pages.PagesGen
import graft.pipeline.DedupConfig
import graft.state.{Checkpoints, SubDocState}

/** The state dir's one commit rule: every table write lands in a `gen=`
  * directory that only a published manifest line makes visible. These
  * specs kill each state-layer call at every write and publish point and
  * pin that readers keep seeing the previous complete generation, that the
  * next run completes or rolls the call back to exactly what an
  * uninterrupted run leaves, and that a committed call leaves one `gen=`
  * dir per table.
  */
class CommitSpec extends SparkTestBase {
  import spark.implicits._

  private val tables =
    Seq("signatures", "quarantine", "clusters", "previews", "actions", "executed", "bands")

  private val cfg = DedupConfig(deltaCluster = true, previewChars = 40)

  private final class Crash(point: String) extends RuntimeException(s"injected crash at $point")

  private def tempDir(): String =
    Files.createTempDirectory("graft-commit").toString

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val paths = Files.walk(s)
    try paths.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally paths.close()
  }

  /** Pages with one unusable-text row, so quarantine is written too. */
  private def pagesWithBad(bases: Long) = {
    val pages = PagesGen.pages(spark, bases, seed = 61L, tokensPerDoc = 80).toDF()
    pages.unionByName(pages.orderBy("url").limit(1)
      .withColumn("url", concat(col("url"), lit(s"#bad$bases")))
      .withColumn("text", lit("")))
  }

  /** The generation each table's published line names, by table. */
  private def gens(dir: String): Map[String, String] =
    tables.flatMap(t => Checkpoints.generationPath(spark, dir, t)
      .map(p => t -> p.substring(p.lastIndexOf('/') + 1))).toMap

  /** Each published table's distinct rows (`quarantined_at` excluded) and
    * the manifest's epoch counter.
    */
  private def contents(dir: String): (Map[String, Set[String]], Long) =
    (tables.flatMap(t => Checkpoints.generationPath(spark, dir, t).map(p =>
      t -> spark.read.parquet(p).drop("quarantined_at").toJSON.collect().toSet)).toMap,
      SubDocState.nextEpoch(spark, dir))

  /** The `new_signatures` and `clusters` counts on the last manifest line. */
  private def lineCounts(dir: String): Map[String, String] = {
    val line = Checkpoints.readManifest(spark, dir).last.replaceAll(""""gens":\{[^}]*\}""", "")
    Seq("new_signatures", "clusters").flatMap(k =>
      s""""$k":(\\d+)""".r.findFirstMatchIn(line).map(k -> _.group(1))).toMap
  }

  private def uncommitted(dir: String): Long =
    Checkpoints.diagnose(spark, dir).as[(String, Long)].collect().toMap
      .apply("uncommitted_generations")

  /** Every table dir holds exactly one `gen=` dir. */
  private def assertOneGeneration(dir: String, what: String): Unit =
    tables.map(t => new java.io.File(s"$dir/$t")).filter(_.exists()).foreach { d =>
      val g = d.listFiles().map(_.getName).filter(_.startsWith("gen="))
      assert(g.length == 1, s"$what: ${d.getName} holds ${g.mkString(", ")}")
    }

  /** Clusters and actions come from one generation, and every planned
    * duplicate points at an original in its own cluster.
    */
  private def assertPlanMatchesClusters(dir: String, what: String): Unit =
    if (Checkpoints.generationPath(spark, dir, "clusters").isDefined) {
      val g = gens(dir)
      assert(g.get("actions") == g.get("clusters"), s"$what: $g")
      val c = spark.read.parquet(Checkpoints.generationPath(spark, dir, "clusters").get)
      val bad = spark.read.parquet(Checkpoints.generationPath(spark, dir, "actions").get)
        .join(c.select($"id", $"cluster_id".as("c_dup")), Seq("id"), "left")
        .join(c.select($"id".as("original_id"), $"cluster_id".as("c_orig")),
          Seq("original_id"), "left")
        .filter($"c_dup".isNull || ($"original_id".isNotNull && !($"c_dup" <=> $"c_orig")))
      assert(bad.count() == 0, s"$what: plan rows outside the committed clusters")
    }

  /** Kill `call` (run on a copy of `base`) at each point it reports — the
    * table writes `writes`, in order, then the two publish points — check
    * what readers see, resume, and compare with an uninterrupted run.
    */
  private def crashEveryPoint(name: String, base: String, writes: String*)
                             (call: String => Unit): String = {
    val ref = tempDir() + "/s"
    copyDir(base, ref)
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    Checkpoints.commitTestHook = p => trace += p
    try call(ref) finally Checkpoints.commitTestHook = _ => ()
    val expected = contents(ref)
    val expectedCounts = lineCounts(ref)
    assertOneGeneration(ref, s"$name uninterrupted")
    val before = gens(base)
    val after = gens(ref)
    val baseContents = contents(base)._1
    // tables the call writes a new generation of, and published ones it supersedes
    val freshTables = after.collect { case (t, g) if !before.get(t).contains(g) => t }.toSet
    val superseded = before.exists { case (t, g) => !after.get(t).contains(g) }
    assert(trace == writes ++ Seq("manifest", "published"), s"$name: $trace")

    trace.indices.foreach { k =>
      val point = s"$name@${trace(k)}#$k"
      val dir = tempDir() + "/s"
      copyDir(base, dir)
      var n = -1
      Checkpoints.commitTestHook = p => { n += 1; if (n == k) throw new Crash(point) }
      try intercept[Crash](call(dir)) finally Checkpoints.commitTestHook = _ => ()

      // between the crash and the resume
      val durable = trace(k) == "published"
      val seen = contents(dir)._1
      assert(gens(dir) == (if (durable) after else before), s"$point: published generations")
      Seq("clusters", "actions", "previews").foreach { t =>
        assert(seen.get(t) == (if (durable) expected._1 else baseContents).get(t),
          s"$point: readers see a torn $t")
      }
      assertPlanMatchesClusters(dir, point)
      val torn = if (durable) superseded else trace.take(k + 1).exists(freshTables)
      assert((uncommitted(dir) > 0) == torn, s"$point: uncommitted_generations")

      // the resume: the next lease holder sweeps; an uncommitted call re-runs
      if (durable) Checkpoints.withStateLock(spark, dir)(())
      else call(dir)
      val (rows, epochs) = contents(dir)
      val differ = tables.filter(t => rows.get(t) != expected._1.get(t))
      assert(differ.isEmpty && epochs == expected._2,
        s"$point: resumed state differs from an uninterrupted run")
      assert(lineCounts(dir) == expectedCounts, s"$point: the resumed line's counts")
      assertOneGeneration(dir, point)
      assert(uncommitted(dir) == 0L, point)
    }
    ref
  }

  test("a call killed at any write or publish point resumes to the uninterrupted state") {
    val base = tempDir() + "/s"
    Checkpoints.clusterEpoch(spark, pagesWithBad(3L), "url", "text", base, cfg,
      action = "delete")
    Checkpoints.executeEpoch(spark, base)
    assertOneGeneration(base, "base")
    val more = pagesWithBad(4L)

    val ingest = Seq("signatures", "quarantine")
    crashEveryPoint("runEpoch", base, ingest: _*) { d =>
      Checkpoints.runEpoch(spark, more, "url", "text", d, cfg)
    }
    crashEveryPoint("forceRescan", base, ingest: _*) { d =>
      Checkpoints.runEpoch(spark, more, "url", "text", d, cfg.copy(forceRescan = true))
    }
    val clustered = crashEveryPoint("clusterEpoch", base,
        ingest ++ Seq("bands", "clusters", "actions", "previews"): _*) { d =>
      Checkpoints.clusterEpoch(spark, more, "url", "text", d, cfg, action = "delete")
    }
    crashEveryPoint("executeEpoch", clustered, "executed") { d =>
      Checkpoints.executeEpoch(spark, d)
    }
    crashEveryPoint("compactSignatures", clustered, "signatures", "executed", "bands") { d =>
      Checkpoints.compactSignatures(spark, d)
    }
  }

  test("executeEpoch ignores an unpublished newer actions generation") {
    val dir = tempDir()
    Checkpoints.clusterEpoch(spark, pagesWithBad(3L), "url", "text", dir, action = "delete")
    val committed = spark.read.parquet(Checkpoints.generationPath(spark, dir, "actions").get)
    val plan = committed.select("id", "original_id", "action").as[(String, String, String)]
      .collect().toSet
    // what a clusterEpoch killed before its manifest line leaves: a newer
    // plan generation, here one that would delete a representative
    val rep = spark.read.parquet(Checkpoints.generationPath(spark, dir, "clusters").get)
      .filter($"is_representative").select("id").as[String].collect().min
    val planted = new java.io.File(s"${Checkpoints.actionsPath(dir)}/gen=1")
    committed.limit(1).withColumn("id", lit(rep)).write.parquet(planted.toString)
    Checkpoints.executeEpoch(spark, dir)
    val executed = spark.read.parquet(Checkpoints.generationPath(spark, dir, "executed").get)
      .select("id", "original_id", "action").as[(String, String, String)].collect().toSet
    assert(executed == plan, "executed rows must be exactly the committed plan")
    assert(!planted.exists(), "the unpublished generation must be swept")
  }

  test("a plain read of the clusters dir returns one row per live id, crash or not") {
    // the form the benchmark's gate reads the committed clusters in
    def assertOneRowPerLiveId(dir: String): Unit = {
      val ids = spark.read.parquet(Checkpoints.clustersPath(dir)).select("id")
      val live = Checkpoints.liveSignatures(spark, dir).select("id")
      assert(ids.count() == ids.distinct().count(), "an id sits in more than one row")
      assert(ids.except(live).isEmpty && live.except(ids).isEmpty)
    }
    val dir = tempDir()
    Checkpoints.clusterEpoch(spark, pagesWithBad(3L), "url", "text", dir, cfg)
    assertOneRowPerLiveId(dir)
    // killed after writing its clusters generation, before publishing it
    val more = pagesWithBad(4L)
    Checkpoints.commitTestHook = p => if (p == "clusters") throw new Crash(p)
    try intercept[Crash](Checkpoints.clusterEpoch(spark, more, "url", "text", dir, cfg))
    finally Checkpoints.commitTestHook = _ => ()
    Checkpoints.clusterEpoch(spark, more, "url", "text", dir, cfg)
    assertOneRowPerLiveId(dir)
  }

  test("a library rescan hides the earlier sub-document winners from later elections") {
    val dir = tempDir()
    val para = "Shared paragraph that the first epoch elected."
    val first = Seq(("http://a.test/1", s"$para\n\nAlpha tail.")).toDF("url", "text")
    Checkpoints.runEpoch(spark,
      SubDocState.dedupParagraphsIncremental(spark, dir, first, "url", "text"),
      "url", "text", dir)
    assert(new java.io.File(s"${SubDocState.parasPath(dir)}/epoch=0").exists())
    Checkpoints.runEpoch(spark, first, "url", "text", dir, DedupConfig(forceRescan = true))
    val later = Seq(("http://b.test/2", s"$para\n\nBeta tail.")).toDF("url", "text")
    val cleaned = SubDocState.dedupParagraphsIncremental(spark, dir, later, "url", "text")
      .select("text").as[String].collect().toSeq
    assert(cleaned == Seq(s"$para\n\nBeta tail."),
      "a pre-rescan winner must not defeat the paragraph after the rescan")
    // the rescan's line hid the epoch-0 winners; its sweep deleted them
    assert(!new java.io.File(s"${SubDocState.parasPath(dir)}/epoch=0").exists())
  }

  test("a --force-rescan --para-dedup run killed at either publish point resumes cleanly") {
    def run(dir: String, pages: Seq[(String, String)], flags: String*): Unit = {
      val p = tempDir()
      pages.toDF("url", "text").write.mode("overwrite").parquet(p)
      Main.run(spark, Main.parse(Seq("--pages", p, "--state", dir) ++ flags).toOption.get)
    }
    def seenHashes(dir: String): Set[String] =
      SubDocState.seen(spark, dir, SubDocState.parasPath(dir), "para_hash",
        SubDocState.nextEpoch(spark, dir)).fold(Set.empty[String])(_.as[String].collect().toSet)
    def cleanedText(dir: String): Set[(String, String)] =
      Checkpoints.readSignatures(spark, dir).select("id", "content_hash")
        .as[(String, String)].collect().toSet
    val para = "Header paragraph every page repeats."
    val base = tempDir() + "/s"
    run(base, Seq(("http://a.test/1", s"$para\n\nAlpha body."),
      ("http://a.test/2", s"$para\n\nBeta body.")), "--para-dedup")
    val preRescan = seenHashes(base)
    val rescan = Seq(("http://a.test/2", s"$para\n\nBeta body."),
      ("http://a.test/3", s"$para\n\nGamma body."))
    val flags = Seq("--force-rescan", "--para-dedup")
    val ref = tempDir() + "/s"
    copyDir(base, ref)
    run(ref, rescan, flags: _*)
    val (expected, expectedSeen) = (cleanedText(ref), seenHashes(ref))
    assert(expectedSeen.nonEmpty && expectedSeen != preRescan)
    val epoch0 = (dir: String) => new java.io.File(s"${SubDocState.parasPath(dir)}/epoch=0")

    Seq("manifest", "published").foreach { point =>
      val dir = tempDir() + "/s"
      copyDir(base, dir)
      Checkpoints.commitTestHook = p => if (p == point) throw new Crash(point)
      try intercept[Crash](run(dir, rescan, flags: _*))
      finally Checkpoints.commitTestHook = _ => ()
      if (point == "manifest") {
        // the rescan line is not durable: elections still see the old winners
        assert(seenHashes(dir) == preRescan, s"$point: seen before the re-run")
        run(dir, rescan, flags: _*)
      } else {
        // durable: the old winners are hidden while still on disk, and the
        // next lease holder deletes them
        assert(seenHashes(dir) == expectedSeen, s"$point: seen after the line")
        assert(epoch0(dir).exists(), s"$point: swept before a lease holder ran")
        Checkpoints.withStateLock(spark, dir)(())
      }
      assert(!epoch0(dir).exists(), s"$point: pre-rescan partition left behind")
      assert(cleanedText(dir) == expected, s"$point: cleaned text differs from an uninterrupted run")
      assert(seenHashes(dir) == expectedSeen, point)
    }
  }
}
