package graft.perfbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.shim

/** The dedup benchmark's entry point: one workload, one process, on
  * `local[cores]`. Prints human-readable lines, then one JSON result line:
  * the end-to-end metrics, or with `--trace 1` the per-layer metrics of a
  * traced composition of the same step.
  *
  * {{{
  * Main --workload flagship|skew|epoch --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath)
  }

  val SpanNames: Seq[String] = Seq("pages.scan_extract", "fingerprint.signatures",
    "lsh.candidates", "pipeline.near_edges", "cluster.union_find",
    "cluster.representatives", "state.ingest", "state.recluster")

  /** Funnel counts at the span boundaries; a count the workload's
    * composition does not reach reads 0.
    */
  val Funnel: Seq[(String, String)] = Seq(
    "pages.rows" -> "count", "fingerprint.exact_groups" -> "count",
    "fingerprint.rep_rows" -> "count", "lsh.band_rows" -> "count",
    "lsh.candidates_minhash" -> "count", "lsh.candidates_prefix" -> "count",
    "lsh.candidates_anchor" -> "count", "lsh.capped_buckets" -> "count",
    "lsh.max_bucket" -> "count", "pipeline.verify.candidates" -> "count",
    "pipeline.verify.edges" -> "count", "pipeline.verify.accept_ratio" -> "ratio",
    "cluster.round_pairs" -> "count", "cluster.clusters" -> "count",
    "cluster.max_cluster" -> "count", "cluster.singletons" -> "count",
    "state.ingest.new_rows" -> "count", "state.ingest.quarantined" -> "count",
    "state.ingest.sig_rows" -> "count")

  val SetupReps = 3
  // one warm-up step for every workload: the epoch's base-state build does
  // not warm the delta path, and a cold first delta epoch ran ~40% slower
  val WarmUpSteps = 1

  /** One timed step; `heldMb` is what block storage still held when it
    * started, `peakMb` the peak above that.
    */
  final case class Step(wallS: Double, heldMb: Double, peakMb: Double, outputMb: Double,
                        rows: Seq[ClusterRow], gate: Gate)

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      // the frozen bench's session shape: AQE on, one shuffle partition per
      // core, 8 MB scan splits
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Release what earlier steps left in block storage before a step: drop
    * every cache, then let the engine's own cleaner remove the blocks of
    * RDDs the driver no longer references (a driver GC queues them; the
    * cleaner removes them; the bus delivers the removals). Polls until the
    * bytes held stop falling; returns them.
    */
  private def dropState(spark: SparkSession, storage: StorageTracker): Long = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    var held = Long.MaxValue
    var steady = 0
    val deadline = System.nanoTime() + 30000000000L
    while (held > 0 && steady < 5 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
      shim.drainListenerBus(sc, 60000)
      val now = storage.heldBytes
      steady = if (now < held) 0 else steady + 1
      held = now
    }
    held
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    JFiles.createDirectories(a.work)
    val (spark, sessionS) = seconds(session(a))
    val sc = spark.sparkContext
    def drain(): Unit = shim.drainListenerBus(sc, 60000)
    val storage = new StorageTracker
    sc.addSparkListener(storage)
    val wl = Workloads(a.workload, spark, a.work, a.seed)

    // set-up: corpus generation + materialization (repeated), base state
    val setupReps = (1 to SetupReps).map(_ => seconds(wl.setup())._2)
    val (_, stateS) = seconds(wl.buildState())
    val badExtract = wl.extractionMismatches()
    val (ids, truth) = (wl.ids, wl.truth)

    var stepNo = 0
    def step(): Step = {
      stepNo += 1
      val dir = a.work.resolve(s"step_$stepNo")
      wl.prepare(dir)
      val heldBefore = dropState(spark, storage)
      storage.resetPeak()
      // a step that throws is a failed operation, not the end of the run
      val s = scala.util.Try(seconds(wl.run(dir))).map { case (problems, wallS) =>
        drain()
        val rows = Workloads.rowsOf(wl.committed(dir))
        Step(wallS, heldBefore / 1e6, storage.peakBytes / 1e6, Dirs.bytes(dir) / 1e6, rows,
          Gate.check(rows, ids, truth).and(problems))
      }.recover { case e: Exception =>
        Step(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Nil,
          Gate(0, 0, 0, 0, Seq(s"step threw $e")))
      }.get
      Dirs.delete(dir)
      s
    }

    // warm-up: untimed, ungated steps (JIT, codegen caches)
    val (_, warmS) = seconds((1 to WarmUpSteps).foreach { i =>
      val dir = a.work.resolve(s"warm_$i")
      wl.prepare(dir)
      wl.run(dir)
      Dirs.delete(dir)
    })
    val setupS = sessionS + Stats.median(setupReps) + stateS + warmS

    val steps = mutable.ArrayBuffer.empty[Step]
    val loopT0 = System.nanoTime()
    while (steps.isEmpty || (System.nanoTime() - loopT0) / 1e9 < a.seconds) steps += step()

    val done = steps.filterNot(_.wallS.isNaN).toSeq
    if (done.isEmpty) {
      steps.foreach(s => System.err.println(s"perfbench: ${s.gate.problems.mkString("; ")}"))
      spark.stop()
      sys.exit(1)
    }
    val walls = done.map(_.wallS)
    val g = done.last.gate
    val e2e = Seq(
      ("docs_per_s", Stats.median(done.map(wl.stepPages / _.wallS)), "1/s"),
      ("pair_recall", Stats.median(done.map(_.gate.recall)), "ratio"),
      ("peak_storage_mb", Stats.median(done.map(_.peakMb)), "MB"),
      ("state_mb", Stats.median(done.map(_.outputMb)), "MB"),
      ("setup_s", setupS, "s"))

    println(f"# perfbench workload=${a.workload} seed=${a.seed} cores=${a.cores} " +
      f"steps=${steps.length} step_pages=${wl.stepPages}")
    println(f"# step wall s: ${walls.map(w => f"$w%.3f").mkString(" ")}" +
      (if (walls.length >= 2) {
        val (q1, q2, q3) = Stats.quartiles(walls)
        f" (q1 $q1%.3f median $q2%.3f q3 $q3%.3f)"
      } else ""))
    println(f"# setup s: session $sessionS%.3f, set-up reps " +
      setupReps.map(r => f"$r%.3f").mkString(" ") +
      f", base state $stateS%.3f, warm-up $warmS%.3f")
    println(f"# block storage held at step start, median: ${Stats.median(done.map(_.heldMb))}%.3f MB " +
      "(peak_storage_mb counts bytes above it)")
    println(f"# pair_recall ${g.recall}%.6f ratio (${g.recallHits}/${g.recallBase} planted dup pairs)")
    println(f"# false_merge_rate ${g.falseMergeRate}%.6f ratio " +
      f"(${g.falseMerges}/${g.falseBase} planted non-dup pairs)")
    println(s"# extract(html) != text rows: $badExtract")
    e2e.foreach { case (n, v, u) => println(f"$n%-18s $v%14.4f $u") }

    val (attempted, failedSteps, metrics) =
      if (!a.trace) {
        (steps.length, steps.count(!_.gate.ok), e2e)
      } else {
        val tracer = new Tracer(spark, a.cores)
        val dir = a.work.resolve("traced")
        wl.prepare(dir)
        dropState(spark, storage)
        val ((funnel, problems), tracedS) = seconds(wl.traced(tracer, dir))
        drain()
        val rows = Workloads.rowsOf(wl.committed(dir))
        Dirs.delete(dir)
        val same = rows.toSet == done.last.rows.toSet
        val tg = Gate.check(rows, ids, truth).and(problems)
          .and(if (same) Nil else Seq("traced partition differs from the untraced step's"))
        val counts = funnel ++ Workloads.clusterFunnel(rows)
        val spanWall = tracer.spans.map(_.wallS).sum
        val untracedS = Stats.median(walls)
        def wall(n: String) = tracer.stats(n).wallS
        val layer =
          SpanNames.flatMap(tracer.stats(_).metrics) ++
            Funnel.map { case (n, u) => (n, counts.getOrElse(n, 0.0), u) } ++ Seq(
              ("pipeline.verify_self.wall_s",
                if (wall("pipeline.near_edges") > 0)
                  wall("pipeline.near_edges") - wall("lsh.candidates") else 0.0, "s"),
              ("trace.wall_s", tracedS, "s"),
              ("trace.uncovered_s", tracedS - spanWall, "s"),
              ("trace.untraced_median_s", untracedS, "s"),
              ("trace.overhead_s", tracedS - untracedS, "s"))
        println(s"# traced partition equals untraced: $same")
        tg.problems.foreach(p => println(s"# traced gate: $p"))
        println(f"# traced wall $tracedS%.3f s = spans $spanWall%.3f s + uncovered " +
          f"${tracedS - spanWall}%.3f s; pipeline.verify_self.wall_s is derived " +
          "(pipeline.near_edges - lsh.candidates)")
        layer.foreach { case (n, v, u) => println(f"$n%-40s $v%14.4f $u") }
        (steps.length + 1, steps.count(!_.gate.ok) + (if (tg.ok) 0 else 1), layer)
      }
    steps.filterNot(_.gate.ok).foreach(s => println(s"# gate: ${s.gate.problems.mkString("; ")}"))

    val correct = failedSteps == 0 && badExtract == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failedSteps, """ +
      s""""metrics": {$body}}""")
    spark.stop()
  }
}
