package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pages.PagesIO
import graft.pipeline.DedupConfig
import graft.state.Checkpoints

/** The user-facing spark-submit entry — the analog of the reference's CLI
  * (image-deduper `src/cli.rs:18-106`, `image-deduper-cli/src/main.rs:1`):
  * parse args → merge into a validated [[DedupConfig]] → run one
  * incremental epoch (discover/fingerprint/cluster/plan) over the given
  * pages table, optionally execute the planned actions.
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   --pages hdfs:///data/pages --state s3a://bucket/dedup-state \
  *   --action symlink --execute --backup-dir s3a://bucket/backup
  * }}}
  *
  * `--pages` accepts a path (parquet) or a catalog table name (Iceberg) —
  * the [[graft.pages.PagesIO]] seam. `--state` is any Hadoop FS URI.
  */
object Main {

  case class CliArgs(
      pages: String = "",
      state: String = "",
      idCol: String = "url",
      textCol: String = "text",
      action: String = "symlink",
      execute: Boolean = false,
      backupDir: Option[String] = None,
      fastPath: Boolean = false,
      forceRescan: Boolean = false,
      jaccardThreshold: Option[Double] = None,
      maxHamming: Option[Int] = None,
      extractFrom: Option[String] = None,
      extractor: String = "html",
      diagnose: Boolean = false,
      compact: Boolean = false,
      reliable: Boolean = false,
      checkpointDir: Option[String] = None,
      pagesFormat: String = "auto",
      containmentCap: Option[Int] = None,
      previewChars: Option[Int] = None,
      stateBuckets: Option[Int] = None,
      stateBloomFpp: Option[Double] = None,
      stateBloomExpected: Option[Long] = None,
      deltaCluster: Boolean = false,
      textsFrom: Option[String] = None,
      canonUrls: Boolean = false,
      blockHosts: Option[String] = None,
      siteCap: Option[Int] = None,
      paraDedup: Boolean = false,
      scrubPii: Boolean = false,
      decontaminate: Option[String] = None,
      c4Clean: Boolean = false,
      gopherFilter: Boolean = false,
      spanDedup: Boolean = false,
      exportShards: Option[String] = None,
      nShards: Int = 64,
      mixRates: Option[String] = None,
      mixBudgets: Option[String] = None,
      mixFrom: Option[String] = None,
      mixCol: String = "",
      mixSalt: String = "mix-v1",
      mixExact: Boolean = false,
      mixHeadroom: Option[Double] = None,
      packLen: Option[Int] = None,
      tokenMetric: String = "ws",
      exportFormat: String = "parquet",
      embeddings: Option[String] = None,
      semdedupTau: Option[Double] = None,
      verifyExport: Option[String] = None) {
    /** The column mix rates/budgets key on: an explicit --mix-col wins;
      * a --mix-from union keys on its corpus tag; else the lang column.
      */
    def mixKeyCol: String =
      if (mixCol.nonEmpty) mixCol
      else if (mixFrom.isDefined) "source"
      else "lang"
  }

  /** Pure, testable arg parser (reference `cli.rs` parse → validate).
    * Left(message) on any unknown flag, missing value or missing required.
    */
  def parse(args: Seq[String]): Either[String, CliArgs] = {
    def loop(rest: List[String], acc: CliArgs): Either[String, CliArgs] = rest match {
      case Nil => Right(acc)
      case "--pages" :: v :: t       => loop(t, acc.copy(pages = v))
      case "--state" :: v :: t       => loop(t, acc.copy(state = v))
      case "--id-col" :: v :: t      => loop(t, acc.copy(idCol = v))
      case "--text-col" :: v :: t    => loop(t, acc.copy(textCol = v))
      case "--action" :: v :: t      => loop(t, acc.copy(action = v))
      case "--backup-dir" :: v :: t  => loop(t, acc.copy(backupDir = Some(v)))
      case "--jaccard" :: v :: t     =>
        v.toDoubleOption.toRight(s"--jaccard: not a number: $v")
          .flatMap(d => loop(t, acc.copy(jaccardThreshold = Some(d))))
      case "--max-hamming" :: v :: t =>
        v.toIntOption.toRight(s"--max-hamming: not an int: $v")
          .flatMap(h => loop(t, acc.copy(maxHamming = Some(h))))
      case "--extract-from" :: v :: t => loop(t, acc.copy(extractFrom = Some(v)))
      case "--extractor" :: v :: t   => loop(t, acc.copy(extractor = v))
      case "--execute" :: t          => loop(t, acc.copy(execute = true))
      case "--fast-path" :: t        => loop(t, acc.copy(fastPath = true))
      case "--force-rescan" :: t     => loop(t, acc.copy(forceRescan = true))
      case "--diagnose" :: t         => loop(t, acc.copy(diagnose = true))
      case "--compact" :: t          => loop(t, acc.copy(compact = true))
      // preemptible-cluster posture: reliable checkpoint() instead of
      // executor-local blocks (dir defaults to <state>/_spark_checkpoints)
      case "--reliable" :: t          => loop(t, acc.copy(reliable = true))
      case "--checkpoint-dir" :: v :: t => loop(t, acc.copy(checkpointDir = Some(v)))
      case "--pages-format" :: v :: t => loop(t, acc.copy(pagesFormat = v))
      // web-native identity: canonicalize the id column (scheme/host case,
      // default ports, dup slashes, tracking params, param order, fragments)
      // before the pipeline sees it — trivially-respelled re-crawls of the
      // same page stop minting fresh ids
      case "--canon-urls" :: t        => loop(t, acc.copy(canonUrls = true))
      // host blocklist: drop pages from these domains (and their
      // subdomains) before anything else touches them; one domain per
      // line, '#' comments — a config artifact, compiled to plan literals
      case "--block-hosts" :: v :: t  => loop(t, acc.copy(blockHosts = Some(v)))
      // per-site quota: keep at most N pages per SURT host key — crawl
      // skew control that runs before every expensive pass (the election
      // is a WindowGroupLimit: over-quota rows never reach the shuffle)
      case "--site-cap" :: v :: t     =>
        v.toIntOption.filter(_ >= 1).toRight(s"--site-cap: not a positive int: $v")
          .flatMap(n => loop(t, acc.copy(siteCap = Some(n))))
      // sub-document pass: drop corpus-wide repeated paragraphs (first
      // occurrence survives) BEFORE fingerprinting — boilerplate stops
      // dominating shingle signatures and the cleaned text is what ships
      case "--para-dedup" :: t        => loop(t, acc.copy(paraDedup = true))
      // PII scrub: mask emails/IPv4/phones with typed tokens BEFORE
      // fingerprinting — pages differing only in masked PII dedup as the
      // duplicates they are, and the shipped text is release-clean
      case "--scrub-pii" :: t         => loop(t, acc.copy(scrubPii = true))
      // benchmark decontamination: drop docs sharing any 13-gram with the
      // named eval-set table (text column matches --text-col) — shipped
      // training text must not leak into downstream evals
      case "--decontaminate" :: v :: t => loop(t, acc.copy(decontaminate = Some(v)))
      // C4 line+page cleaning: keep lines with terminal punct / >=3 words /
      // no javascript; drop pages under 5 sentences or tainted by lorem
      // ipsum / curly braces — runs before any dedup sees the text
      case "--c4-clean" :: t          => loop(t, acc.copy(c4Clean = true))
      // Gopher repetition filter: drop docs whose duplicate-line/paragraph
      // or top/dup n-gram fractions exceed the MassiveText thresholds
      case "--gopher-filter" :: t     => loop(t, acc.copy(gopherFilter = true))
      // C4 three-sentence-span dedup: corpus-wide first occurrence of any
      // duplicated 3-sentence run survives, every other copy drops
      case "--span-dedup" :: t        => loop(t, acc.copy(spanDedup = true))
      case "--containment-cap" :: v :: t =>
        v.toIntOption.toRight(s"--containment-cap: not an int: $v")
          .flatMap(c => loop(t, acc.copy(containmentCap = Some(c))))
      case "--preview-chars" :: v :: t =>
        v.toIntOption.toRight(s"--preview-chars: not an int: $v")
          .flatMap(p => loop(t, acc.copy(previewChars = Some(p))))
      // bucketed state layout: N buckets on `id` so the per-epoch resume
      // anti-join never re-shuffles the grown state side (sticky per state
      // dir; takes effect at first write or with --force-rescan)
      case "--state-buckets" :: v :: t =>
        v.toIntOption.toRight(s"--state-buckets: not an int: $v")
          .flatMap(b => loop(t, acc.copy(stateBuckets = Some(b))))
      // slice-keyed state prune: Bloom-sketch the incoming slice's ids
      // and filter the corpus-aged state scan before the resume anti-join
      // (byte-identical result at any fpp; see state/SlicePrune.scala)
      case "--state-bloom-fpp" :: v :: t =>
        v.toDoubleOption.filter(f => f >= 0 && f < 1)
          .toRight(s"--state-bloom-fpp: not a number in [0,1): $v")
          .flatMap(f => loop(t, acc.copy(stateBloomFpp = Some(f))))
      case "--state-bloom-expected" :: v :: t =>
        v.toLongOption.filter(_ > 0)
          .toRight(s"--state-bloom-expected: not a positive long: $v")
          .flatMap(n => loop(t, acc.copy(stateBloomExpected = Some(n))))
      // delta-incremental clustering: near-pair discovery runs only over
      // this epoch's re-verify frontier; prior connectivity enters
      // union-find as assignment edges (epoch cost scales with the delta)
      case "--delta-cluster" :: t     => loop(t, acc.copy(deltaCluster = true))
      // slice-fed posture: --pages carries ONLY the crawl slice; the
      // authoritative pages table named here serves the verify pass's
      // text fetch for frontier docs from earlier epochs (pruned to the
      // frontier before any shuffle under --delta-cluster)
      case "--texts-from" :: v :: t   => loop(t, acc.copy(textsFrom = Some(v)))
      // training export mode: write the kept corpus (dedup verdict applied,
      // optionally mixed) as N deterministic id-keyed shards + manifest
      case "--export-shards" :: v :: t => loop(t, acc.copy(exportShards = Some(v)))
      case "--n-shards" :: v :: t     =>
        v.toIntOption.toRight(s"--n-shards: not an int: $v")
          .flatMap(n => loop(t, acc.copy(nShards = n)))
      // mix config files: one `<source> <value>` per line, '#' comments;
      // rates accept a `* <rate>` default line (what is unlisted is not in
      // the training set otherwise)
      case "--mix-rates" :: v :: t    => loop(t, acc.copy(mixRates = Some(v)))
      case "--mix-budgets" :: v :: t  => loop(t, acc.copy(mixBudgets = Some(v)))
      // multi-corpus export: a sources file (one `<name> <path-or-table>`
      // per line) unions SEPARATE corpora — tagged `source` — in place of
      // --pages; rates/budgets then key on the corpus name
      case "--mix-from" :: v :: t     => loop(t, acc.copy(mixFrom = Some(v)))
      case "--mix-col" :: v :: t      => loop(t, acc.copy(mixCol = v))
      case "--mix-salt" :: v :: t     => loop(t, acc.copy(mixSalt = v))
      // exact-budget mixing: sample at (1+ε)·budget/tokens, then truncate
      // the survivor set on the same u60 order — bit-identical to
      // truncating the full source, window never sees more than ~budget
      case "--mix-exact" :: t         => loop(t, acc.copy(mixExact = true))
      // ε for --mix-exact's pre-truncation sample: undershoot probability
      // is exp(−Θ(ε²·budget/max_doc_tokens)) — raise it for small sources
      case "--mix-headroom" :: v :: t =>
        v.toDoubleOption.filter(_ >= 0).toRight(s"--mix-headroom: not a non-negative number: $v")
          .flatMap(h => loop(t, acc.copy(mixHeadroom = Some(h))))
      // sequence packing: write a GPT-style fixed-length example plan
      // (dir/_pack) and order shard rows so a sequential read IS the stream
      case "--pack-len" :: v :: t =>
        v.toIntOption.filter(_ >= 1).toRight(s"--pack-len: not a positive int: $v")
          .flatMap(n => loop(t, acc.copy(packLen = Some(n))))
      // the unit budgets / n_tokens / the pack plan count in: whitespace
      // words (default) or the BPE-ish subword count for model-token budgets
      case "--token-metric" :: v :: t => loop(t, acc.copy(tokenMetric = v))
      // semantic dedup at export (A22 SemDeDup): drop the ids the
      // embedding-space verdict votes out; the table must carry the corpus
      // id column plus an `embedding` array<float> column
      case "--embeddings" :: v :: t => loop(t, acc.copy(embeddings = Some(v)))
      case "--semdedup-tau" :: v :: t =>
        v.toDoubleOption.toRight(s"--semdedup-tau: not a number: $v")
          .flatMap(d => loop(t, acc.copy(semdedupTau = Some(d))))
      // loader container: parquet (default; prunable read-back, pack plans)
      // or gzipped json-lines (the loader lingua franca; observe-fused stats)
      case "--export-format" :: v :: t => loop(t, acc.copy(exportFormat = v))
      // standalone integrity check of a shard dir against its manifest —
      // what a training job runs before trusting an export it didn't write
      case "--verify-export" :: v :: t => loop(t, acc.copy(verifyExport = Some(v)))
      case flag :: _ if flag.startsWith("--") => Left(s"unknown or valueless flag: $flag")
      case other :: _                => Left(s"unexpected argument: $other")
    }
    loop(args.toList, CliArgs()).flatMap(validate)
  }

  private def validate(a: CliArgs): Either[String, CliArgs] =
    if (a.state.isEmpty && a.verifyExport.isEmpty)
      Left("--state <dir-uri> is required")
    else if (a.pages.isEmpty && !a.diagnose && !a.compact &&
             a.verifyExport.isEmpty && a.mixFrom.isEmpty)
      Left("--pages <path-or-table> is required")
    else if (a.mixFrom.isDefined && a.pages.nonEmpty)
      Left("--mix-from and --pages are mutually exclusive: the sources " +
        "file IS the corpus list")
    else if (a.mixFrom.isDefined && a.exportShards.isEmpty)
      Left("--mix-from assembles the export corpus: add --export-shards")
    else if (!graft.actions.Actions.ValidActions.contains(a.action))
      Left(s"--action must be one of ${graft.actions.Actions.ValidActions.mkString("/")}")
    else if (a.jaccardThreshold.exists(j => j.isNaN || j <= 0 || j > 1))
      Left("--jaccard must be in (0, 1]")
    // NaN fails every comparison, so 'tau <= 0 || tau > 1' alone would
    // accept it and turn the whole pass into a silent no-op (cos >= NaN
    // is never true) — reject it explicitly
    else if (a.semdedupTau.exists(tau => tau.isNaN || tau <= 0 || tau > 1))
      Left("--semdedup-tau must be in (0, 1]")
    else if (a.semdedupTau.isDefined && a.embeddings.isEmpty)
      Left("--semdedup-tau needs --embeddings <path-or-table>")
    else if (a.embeddings.isDefined && a.semdedupTau.isEmpty)
      Left("--embeddings has no effect without --semdedup-tau")
    else if (a.semdedupTau.isDefined && a.exportShards.isEmpty)
      Left("--semdedup-tau is an export-stage filter: add --export-shards")
    else if (!Set("html", "html-paras", "plaintext").contains(a.extractor))
      Left("--extractor must be html, html-paras or plaintext")
    else if (!Set("auto", "parquet", "table", "warc", "jsonl").contains(a.pagesFormat))
      Left("--pages-format must be auto, parquet, table, warc or jsonl")
    else if (a.containmentCap.exists(_ <= 0))
      Left("--containment-cap must be positive")
    else if (a.previewChars.exists(_ <= 0))
      Left("--preview-chars must be positive")
    else if (a.stateBuckets.exists(_ <= 0))
      Left("--state-buckets must be positive")
    else if (a.textsFrom.isDefined && (a.paraDedup || a.spanDedup))
      Left("--texts-from cannot be combined with --para-dedup/--span-dedup: " +
        "the sub-document elections depend on the hash state at each epoch, " +
        "so a batch-pure replay of the corpus produces different text than " +
        "was fingerprinted; point --texts-from at already-cleaned text " +
        "(e.g. an export of the epoch outputs) or drop the sub-document flags")
    else if (a.exportShards.isDefined && (a.paraDedup || a.spanDedup))
      Left("--export-shards cannot be combined with --para-dedup/--span-dedup " +
        "(same reason as --texts-from: the elections are per-epoch state, " +
        "not batch-pure replayable); point --pages at already-cleaned text")
    else if (a.exportShards.isDefined && a.nShards < 1)
      Left("--n-shards must be positive")
    else if (a.exportShards.isDefined && a.forceRescan)
      Left("--force-rescan cannot be combined with --export-shards: the " +
        "export is a read-only consumer of the state, but the rescan wipe " +
        "destroys the cross-epoch sub-document hash state with no epoch " +
        "run to rebuild it; rescan in a dedup run first, then export")
    else if (a.exportShards.isDefined && a.siteCap.isDefined)
      Left("--site-cap applies to the epoch batch, not the export corpus " +
        "(the export loads pages batch-pure, where the quota window could " +
        "evict ids the state references); cap during the dedup run instead")
    else if (a.mixRates.isDefined && a.mixBudgets.isDefined)
      Left("--mix-rates and --mix-budgets are mutually exclusive")
    else if ((a.mixRates.isDefined || a.mixBudgets.isDefined) &&
             a.exportShards.isEmpty)
      Left("--mix-rates/--mix-budgets apply to the export: add --export-shards")
    else if (a.mixExact && a.mixBudgets.isEmpty)
      Left("--mix-exact needs --mix-budgets (rates have no budget to hit)")
    else if (a.mixHeadroom.isDefined && !a.mixExact)
      Left("--mix-headroom only affects --mix-exact's pre-sample: add --mix-exact")
    else if (a.packLen.isDefined && a.exportShards.isEmpty)
      Left("--pack-len applies to the export: add --export-shards")
    else if (!graft.mix.TokenMetric.Names.contains(a.tokenMetric))
      Left(s"--token-metric must be one of ${graft.mix.TokenMetric.Names.mkString("/")}")
    else if (a.tokenMetric != "ws" && a.exportShards.isEmpty)
      Left("--token-metric applies to the export: add --export-shards")
    else if (!Set("parquet", "jsonl").contains(a.exportFormat))
      Left("--export-format must be parquet or jsonl")
    else if (a.exportFormat != "parquet" && a.exportShards.isEmpty)
      Left("--export-format applies to the export: add --export-shards")
    else if (a.packLen.isDefined && a.exportFormat != "parquet")
      Left("--pack-len needs the parquet format: the plan pass reads back " +
        "(shard, id, n_tokens) with column pruning, which jsonl cannot do")
    else Right(a)

  /** Read a mix config file: one `<source> <value>` per line (whitespace
    * separated), `#` comments; a `*` source sets the default. Returns the
    * map and the default-value option.
    */
  private[graft] def readMixFile[V](path: String, what: String,
                                    parse: String => Option[V])
      : Either[String, (Map[String, V], Option[V])] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val entries = src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          l.split("\\s+", 2) match {
            case Array(s, v) => parse(v.trim).toRight(s"$what: bad value for $s: $v")
              .map(pv => s -> pv)
            case _ => Left(s"$what: expected '<source> <value>': $l")
          }
        }.toList
      entries.collectFirst { case Left(e) => e }.toLeft {
        val m = entries.collect { case Right(kv) => kv }
        (m.filter(_._1 != "*").toMap, m.collectFirst { case ("*", v) => v })
      }
    } finally src.close()
  }

  /** Read a `--mix-from` sources file: one `<name> <path-or-table>` per
    * line, `#` comments. Order-preserving, and duplicate names are an
    * ERROR (unlike mix VALUES, where last-wins is a harmless override, a
    * duplicated corpus line silently doubling a corpus would corrupt the
    * mix); `*` is reserved for mix defaults and means nothing here.
    */
  private[graft] def readSourcesFile(path: String)
      : Either[String, Seq[(String, String)]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val entries = src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          l.split("\\s+", 2) match {
            case Array(n, p) if n != "*" => Right(n -> p.trim)
            case Array("*", _) => Left(s"--mix-from: '*' is not a corpus name: $l")
            case _ => Left(s"--mix-from: expected '<name> <path-or-table>': $l")
          }
        }.toList
      entries.collectFirst { case Left(e) => e }.toLeft(()).flatMap { _ =>
        val named = entries.collect { case Right(kv) => kv }
        val dups = named.map(_._1).groupBy(identity).collect {
          case (n, vs) if vs.size > 1 => n
        }
        if (dups.nonEmpty)
          Left(s"--mix-from: duplicate corpus names: ${dups.mkString(", ")}")
        else Right(named)
      }
    } finally src.close()
  }

  /** Args → validated engine config (reference `Config` merge, cli.rs:58-83). */
  def toConfig(a: CliArgs): DedupConfig = {
    // the <state>/_spark_checkpoints default must be resolved HERE, not
    // only inside clusterEpoch: the battery's Materializer is built from
    // this config before clusterEpoch runs, and Materializer.reliable
    // requires a non-empty dir
    val base = DedupConfig(fastPath = a.fastPath, forceRescan = a.forceRescan,
      reliableCheckpoints = a.reliable, checkpointDir = a.checkpointDir.getOrElse(""))
      .checkpointsIn(a.state)
    val withJ = a.jaccardThreshold.fold(base)(j => base.copy(jaccardThreshold = j))
    val withH = a.maxHamming.fold(withJ)(h => withJ.copy(simhashAcceptHamming = h))
    val withC = a.containmentCap.fold(withH)(c => withH.copy(containmentMaxBucket = c))
    val withP = a.previewChars.fold(withC)(p => withC.copy(previewChars = p))
    val withB = a.stateBuckets.fold(withP)(b => withP.copy(stateBuckets = b))
    val withBf = a.stateBloomFpp.fold(withB)(f => withB.copy(stateBloomFpp = f))
    val withBe = a.stateBloomExpected.fold(withBf)(n => withBf.copy(stateBloomExpected = n))
    if (a.deltaCluster) withBe.copy(deltaCluster = true) else withBe
  }

  def main(args: Array[String]): Unit = parse(args.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(s"graft: $err")
      System.err.println(
        "usage: graft.Main --pages <path-or-table> --state <dir-uri> " +
          "[--id-col url] [--text-col text] [--action move|delete|symlink] " +
          "[--execute] [--backup-dir <uri>] [--fast-path] [--force-rescan] " +
          "[--jaccard <0..1>] [--max-hamming <int>] " +
          "[--extract-from <binary-col>] [--extractor html|plaintext] " +
          "[--reliable] [--checkpoint-dir <uri>] [--preview-chars <n>] " +
          "[--state-buckets <n>] [--state-bloom-fpp <0..1> [--state-bloom-expected <n>]] " +
          "[--delta-cluster] [--texts-from <path-or-table>] " +
          "[--pages-format auto|parquet|table|warc|jsonl] | " +
          "--state <dir-uri> --diagnose | --state <dir-uri> --compact | " +
          "(--pages <t> | --mix-from <sources-file>) --state <s> " +
          "--export-shards <dir> [--n-shards <n>] " +
          "[--mix-rates <file> | --mix-budgets <file>] [--mix-col lang] " +
          "[--mix-salt <s>] [--embeddings <t> --semdedup-tau <0..1>]")
      sys.exit(2)
    case Right(a) =>
      // spark-submit provides the master (spark.master system property);
      // fall back to local[n] for direct-JVM dev runs
      val builder = SparkSession.builder()
        .appName("graft-dedup")
        .config("spark.sql.adaptive.enabled", "true")
      val spark = (
        if (sys.props.contains("spark.master")) builder
        else {
          val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
          builder.master(s"local[$cores]")
            .config("spark.sql.shuffle.partitions", cores)
            .config("spark.ui.enabled", "false")
        }).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      run(spark, a).foreach(println)
      spark.stop()
  }

  /** The whole job given a live session — separated from [[main]] so tests
    * drive the full CLI path without the session lifecycle. Returns the
    * emitted JSON lines.
    */
  def run(spark: SparkSession, a: CliArgs): Seq[String] = {
    a.verifyExport.foreach { dir =>
      val (issues, docs, tokens) =
        graft.mix.ShardedExport.verifyExport(spark, dir)
      // Verify.jsonQuote, not bare interpolation: a backslash or newline
      // in a path or issue string must not break the machine parse
      return Seq(s"""{"verified":${issues.isEmpty},"dir":${Verify.jsonQuote(dir)},""" +
        s""""docs":$docs,"tokens":$tokens,""" +
        issues.map(Verify.jsonQuote)
          .mkString("\"issues\":[", ",", "]}"))
    }
    if (a.diagnose)
      // inspection mode (reference `diagnose_database` user command):
      // report state consistency and exit without processing anything
      return Checkpoints.diagnose(spark, a.state).collect().toSeq.map(r =>
        s"""{"category":${Verify.jsonQuote(r.getString(0))},"n":${r.getLong(1)}}""")
    if (a.compact) {
      val (tables, before, after) = Checkpoints.compactSignatures(spark, a.state)
      return Seq(s"""{"compacted":"${tables.mkString("+")}","files_before":$before,""" +
        s""""files_after":$after,"state":${Verify.jsonQuote(a.state)}}""")
    }
    val cfg = toConfig(a)
    // the blocklist is CLI config: read once on the driver, shipped as
    // plan literals (HostBlocklist doc) — one domain per line, # comments
    val blockedDomains: Seq[String] = a.blockHosts.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }.getOrElse(Nil)
    // S12 seam: derive the text column from a binary payload column with
    // the selected extractor strategy before the pipeline sees it.
    // `stateful` marks the EPOCH BATCH (the --pages load): its sub-document
    // passes elect against the cross-epoch hash state, and their winners
    // come back with the frame for the epoch's line to publish. The
    // --texts-from corpus view replays the per-row cleaning batch-pure —
    // it is a read-only id→text lookup, never a state writer, so the
    // corpus-wide passes are excluded from it: the site quota is skipped
    // (extra ids are inert in a lookup; evicted ones are not) and the
    // sub-document flags are rejected at parse time (their elections are
    // not replayable without the per-epoch state).
    def load(src: String, stateful: Boolean = false)
        : (DataFrame, Seq[graft.state.SubDocState.Elected]) = {
      val raw = PagesIO.read(spark, src, a.pagesFormat)
      // WARC containers carry no text column — extraction from the HTTP
      // payload is implied unless the caller picked a binary column
      val extractFrom =
        if (a.pagesFormat == "warc" && a.extractFrom.isEmpty) Some("html")
        else a.extractFrom
      val extracted = extractFrom match {
        case Some(bin) => raw.withColumn(a.textCol,
          graft.fingerprint.Fingerprints.extractorByName(a.extractor)(
            org.apache.spark.sql.functions.col(bin)))
        case None => raw
      }
      val canoned =
        if (a.canonUrls) graft.text.UrlCanon.canonicalizePages(extracted, a.idCol)
        else extracted
      val unblocked =
        if (blockedDomains.nonEmpty)
          graft.text.HostBlocklist.dropBlockedHosts(canoned, a.idCol, blockedDomains)
        else canoned
      // crawl-skew guard next: over-quota pages must not pay for
      // extraction-downstream cleaning or fingerprinting at all. The quota
      // applies ONLY to the epoch batch — the --texts-from corpus is an
      // id→text lookup, where extra ids are inert but re-running the
      // corpus-wide window over a different population than the
      // fingerprinted slices could evict ids the lookup needs.
      val capped =
        if (!stateful) unblocked
        else a.siteCap match {
          case Some(n) => graft.text.SiteQuota.capPerSite(unblocked, a.idCol, n)
          case None    => unblocked
        }
      // the cleaning battery, in the order real webtext pipelines run it:
      // line-level cleaning, then doc-level repetition drop (both per-row,
      // no shuffle), then the corpus-wide sub-document passes. The battery
      // runs over a SLIM (id, text) projection and joins back ONCE at the
      // end: per-row filters and elections are computed exactly once, and
      // the join-back's left branch re-reads the pruned scan instead of
      // re-running them (docs the filters dropped vanish via the inner
      // join). The sub-document passes consume their input from several
      // branches (totals + election + rebuild, plus the stateful winners
      // write) — a Materializer lineage cut before each keeps every
      // upstream stage single-evaluation instead of K× per branch.
      val anyBattery = a.scrubPii || a.decontaminate.isDefined || a.c4Clean ||
        a.gopherFilter || a.spanDedup || a.paraDedup
      if (!anyBattery) (capped, Nil)
      else {
        import org.apache.spark.sql.functions.col
        val mat = cfg.materializer(spark)
        val slim0 = capped.select(col(a.idCol), col(a.textCol))
        val scrubbed =
          if (a.scrubPii)
            slim0.withColumn(a.textCol, graft.text.PiiScrub.scrub(col(a.textCol)))
          else slim0
        val c4ed =
          if (a.c4Clean)
            graft.text.C4Clean.clean(scrubbed, a.textCol)
              .filter(col("kept")).select(col(a.idCol), col(a.textCol))
          else scrubbed
        val gophered =
          if (a.gopherFilter) graft.text.Repetition.filterGopher(c4ed, a.textCol)
          else c4ed
        // decontamination consumes its input from TWO branches (the 13-gram
        // explode that builds the contaminated-id set, and the anti-join's
        // left side) — without a cut the whole upstream battery runs twice
        val deconned = a.decontaminate match {
          case Some(b) => graft.text.Decontaminate.decontaminate(
            mat(gophered), a.idCol, a.textCol,
            PagesIO.read(spark, b, "auto"), a.textCol)
          case None => gophered
        }
        // paragraph pass BEFORE span pass: the span rebuild joins surviving
        // sentences with single spaces (documented sentence normalization),
        // which erases the blank-line boundaries the paragraph election
        // keys on — para-first sees real paragraphs, span then cleans the
        // sub-paragraph runs (the para rebuild preserves its "\n\n"s)
        val preSub =
          if (a.spanDedup || a.paraDedup) mat(deconned) else deconned
        val (paraed, paraElected) =
          if (!a.paraDedup) (preSub, None)
          else if (stateful) {
            val (df, e) = graft.state.SubDocState.dedupParagraphsIncremental(
              spark, a.state, preSub, a.idCol, a.textCol, cfg)
            (df, Some(e))
          } else (graft.text.ParagraphDedup.dedupParagraphs(preSub, a.idCol, a.textCol), None)
        val paraText = paraed.select(col(a.idCol), col(a.textCol))
        val preSpan = if (a.paraDedup && a.spanDedup) mat(paraText) else paraText
        val (spanned, spanElected) =
          if (!a.spanDedup) (preSpan, None)
          else if (stateful) {
            val (df, e) = graft.state.SubDocState.dedupSpansIncremental(
              spark, a.state, preSpan, a.idCol, a.textCol, cfg)
            (df, Some(e))
          } else (graft.text.SpanDedup.dedupSpans(preSpan, a.idCol, a.textCol), None)
        // join back from the PRE-quota frame: the battery side started from
        // `capped`, so the inner join re-applies the quota by id — the
        // full-width left branch (html payloads and all) must not pay the
        // per-site window shuffle a second time
        (unblocked.drop(a.textCol)
          .join(spanned.select(col(a.idCol), col(a.textCol)), Seq(a.idCol), "inner"),
          paraElected.toSeq ++ spanElected)
      }
    }
    // training-export mode: apply the state's dedup verdict to the corpus,
    // optionally sample the mix, write deterministic shards + manifest —
    // a read-only consumer of the state (same posture as --texts-from:
    // per-row cleaning flags replay fine, sub-document flags are rejected)
    def exportRun(dir: String): Seq[String] = {
      import org.apache.spark.sql.functions.col
      // the corpus is either ONE table (--pages) or a UNION of separate
      // corpora (--mix-from), each branch loaded through the same routing /
      // extraction / cleaning path and tagged with its corpus name — the
      // tag then keys the mix (a.mixKeyCol defaults to it)
      val corpus0 = a.mixFrom match {
        case Some(f) =>
          val sources = readSourcesFile(f)
            .fold(e => throw new IllegalArgumentException(e), identity)
          graft.mix.CorpusMix.unionCorpora(
            sources.map { case (name, path) => name -> load(path)._1 })
        case None => load(a.pages)._1
      }
      val lexKept = Checkpoints.keepIds(spark, a.state) match {
        case Some(ids) => corpus0.join(
          ids.withColumnRenamed("id", a.idCol), Seq(a.idCol), "left_semi")
        case None => corpus0 // no epoch has run: export unfiltered
      }
      // semantic dedup (A22 SemDeDup): drop the ids the embedding-space
      // verdict votes out. Docs WITHOUT an embedding row carry no evidence
      // and survive, so the verdict applies as an anti-join on the DROPPED
      // id set — slim ids, the same shuffle shape as the state verdict
      val kept = (a.embeddings, a.semdedupTau) match {
        case (Some(ep), Some(tau)) =>
          // the side table reads RAW (parquet path or catalog table) —
          // never through the corpus routing/extraction/cleaning path,
          // which expects page columns the embeddings table doesn't have
          val emb = PagesIO.read(spark, ep, "auto")
          // and the verdict forms over the EXPORT CANDIDATES only: an
          // embedding whose doc the lexical verdict already dropped (or
          // that is not in this corpus at all) must not join a component —
          // it could win the keeper election for docs it cannot represent,
          // and the whole component would silently vanish from the export
          val candidates = emb.join(
            lexKept.select(a.idCol), Seq(a.idCol), "left_semi")
          val verdict = graft.ann.Ann.semDeDup(candidates, a.idCol, "embedding", tau)
          lexKept.join(verdict.filter(!col("keep")).select(col("id").as(a.idCol)),
            Seq(a.idCol), "left_anti")
        case _ => lexKept
      }
      def mixFile[V](p: String, what: String, parse: String => Option[V]) =
        readMixFile(p, what, parse)
          .fold(e => throw new IllegalArgumentException(e), identity)
      val tok = graft.mix.TokenMetric.of(a.tokenMetric)
      val (mixed, mixLines, epochCol) = (a.mixRates, a.mixBudgets) match {
        case (Some(f), _) =>
          val (rates, dflt) = mixFile(f, "--mix-rates", _.toDoubleOption)
          val d = dflt.getOrElse(0.0)
          // rates above 1 = up-sampling: repeat curated sources, each copy
          // tagged with its epoch ordinal (sharded independently below)
          if ((rates.valuesIterator ++ Iterator(d)).exists(_ > 1.0))
            (graft.mix.CorpusMix.upsampleBySourceRates(kept, a.idCol, a.mixKeyCol,
              rates, a.mixSalt, d), Seq.empty[String], Some("epoch"))
          else
            (graft.mix.CorpusMix.sampleBySourceRates(kept, a.idCol, a.mixKeyCol,
              rates, a.mixSalt, d), Seq.empty[String], None)
        case (_, Some(f)) =>
          val (budgets, _) = mixFile(f, "--mix-budgets", _.toLongOption)
          if (a.mixExact)
            // exact mode does its own measuring pass; per-source stat
            // lines would cost a second agg, so the manifest's per-shard
            // token counts are the accounting surface here
            (graft.mix.CorpusMix.sampleThenTruncate(
              kept, a.idCol, a.textCol, a.mixKeyCol, budgets, a.mixSalt,
              headroom = a.mixHeadroom.getOrElse(0.05), tokensOf = tok),
              Seq.empty[String], None)
          else {
            val (df, stats) = graft.mix.CorpusMix.mixByTokenBudget(
              kept, a.idCol, a.textCol, a.mixKeyCol, budgets, a.mixSalt, tok)
            (df, stats.map(s =>
              s"""{"mix_source":${Verify.jsonQuote(s.source)},"docs":${s.docs},""" +
                s""""tokens":${s.tokens},"budget":${s.budget},"rate":${s.rate}}"""), None)
          }
        case _ => (kept, Seq.empty[String], None)
      }
      // the payload column the text was derived from has done its job —
      // training shards carry the text, not the crawl bytes
      val binCol =
        if (a.pagesFormat == "warc" && a.extractFrom.isEmpty) Some("html")
        else a.extractFrom
      val out = binCol.fold(mixed)(mixed.drop(_))
      if (a.exportFormat == "jsonl") {
        val (docs, tokens) = graft.mix.ShardedExport.exportShardsJsonl(
          spark, out, a.idCol, a.textCol, dir, a.nShards,
          epochCol = epochCol, tokenMetric = a.tokenMetric)
        mixLines :+
          (s"""{"exported":${Verify.jsonQuote(dir)},"format":"jsonl","n_shards":${a.nShards},""" +
            s""""docs":$docs,"tokens":$tokens}""")
      } else {
        val stats = graft.mix.ShardedExport.exportShards(
          spark, out, a.idCol, a.textCol, dir, a.nShards,
          epochCol = epochCol, packOrder = a.packLen.isDefined,
          tokenMetric = a.tokenMetric)
        // the pack plan reads back only (shard, id, n_tokens) from the
        // written shards — the corpus is never evaluated a second time
        val packLines = a.packLen.toSeq.map { len =>
          val (examples, rows) = graft.mix.SequencePack.writePlan(
            spark, dir, a.idCol, len, a.nShards, epochCol)
          s"""{"packed":${Verify.jsonQuote(s"$dir/_pack")},"seq_len":$len,""" +
            s""""examples":$examples,"plan_rows":$rows}"""
        }
        mixLines ++ packLines :+
          (s"""{"exported":${Verify.jsonQuote(dir)},"n_shards":${a.nShards},""" +
            s""""docs":${stats.map(_.docs).sum},"tokens":${stats.map(_.tokens).sum}}""")
      }
    }
    if (a.exportShards.isDefined) return exportRun(a.exportShards.get)

    val (pages, elections) = load(a.pages, stateful = true)
    val (nNew, nClusters) =
      Checkpoints.clusterEpoch(spark, pages, a.idCol, a.textCol, a.state, cfg, a.action,
        textsOf = a.textsFrom.map(p => load(p)._1), elections = elections)
    val (nExec, nFail) =
      if (a.execute) Checkpoints.executeEpoch(spark, a.state, a.backupDir, cfg)
      else (0L, 0L)
    Seq(s"""{"new_signatures":$nNew,"clusters":$nClusters,""" +
      s""""executed":$nExec,"failed":$nFail,"state":${Verify.jsonQuote(a.state)}}""")
  }
}
