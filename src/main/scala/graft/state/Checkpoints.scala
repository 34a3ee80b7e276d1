package graft.state

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{DedupConfig, DedupPipeline}

/** Incremental state, resume, quarantine and metrics — the analog of the
  * reference's persistence layer (image-deduper `src/persistence/db.rs`):
  *
  *  - the RocksDB twin-key store (`db.rs:79-84`) becomes a `signatures`
  *    Parquet table (one row per url — both hashes are columns, so the
  *    `diagnose_database` half-row scan `db.rs:213-278` is impossible by
  *    construction);
  *  - `find_new_images` chunked point-lookups (`db.rs:132-164`) become one
  *    distributed LEFT ANTI join — the resume primitive;
  *  - the problematic-file skip list
  *    (`processing/utils/hash_computation_with_timeout.rs:19-42`) becomes a
  *    persistent `quarantine` table, anti-joined before processing;
  *  - the one write batch per item (`db.rs:64-92`) becomes ONE commit rule
  *    for the whole state dir, the Iceberg snapshot model: every table write
  *    lands in a part, `<state>/<table>/gen=<g>/part=<k>/`, where k is the
  *    index of the `_manifest.jsonl` line that publishes it, and a part is
  *    visible only once that line is published by [[appendManifest]]'s
  *    double rename. Each line names the current generation of every table
  *    plus the layout facts readers need (`signature_buckets`, the band
  *    index's `knobs` and `through_epoch`, the clusters' `similarity`);
  *    [[snapshot]] resolves them and every reader goes through [[read]],
  *    which keeps only the parts with k below the published line count.
  *
  * A call that replaces a table (clusterEpoch's clusters, actions and
  * previews, compaction, a rescan) starts generation n — n is the index of
  * the line that will publish it — with its part n; a call that appends
  * (epoch signature rows, quarantine, executed, band-index deltas, the
  * sub-document winners of [[SubDocState]]) adds part n to the published
  * generation. One line publishes all of a call's parts. Lineage is the
  * `epoch` and `part_id` columns of every signature row; an epoch's counts
  * and throughput are fields of its manifest line. A writer deletes
  * superseded generations only after its line is durable, and every lease
  * holder first deletes every generation the manifest does not name and
  * every part no line published, so a call killed at any write leaves state
  * the next run rolls back and writes again, and a committed call leaves
  * one `gen=` dir per table.
  */
object Checkpoints {

  def signaturesPath(stateDir: String) = s"$stateDir/signatures"
  def quarantinePath(stateDir: String) = s"$stateDir/quarantine"
  def clustersPath(stateDir: String) = s"$stateDir/clusters"
  def previewsPath(stateDir: String) = s"$stateDir/previews"
  def actionsPath(stateDir: String) = s"$stateDir/actions"
  def executedPath(stateDir: String) = s"$stateDir/executed"
  def bandsPath(stateDir: String) = s"$stateDir/bands"
  def manifestPath(stateDir: String) = s"$stateDir/_manifest.jsonl"
  def lockPath(stateDir: String) = s"$stateDir/_lock"

  /** Every table a manifest line can name, by directory name. */
  private val tables = Seq("signatures", "quarantine", "clusters", "previews", "actions",
    "executed", "bands", "paras", "spans")

  /** The column each keyed table is bucketed on in a bucketed layout: the
    * id-keyed tables and the sub-document hash tables.
    */
  private val bucketKey =
    Map("signatures" -> "id", "executed" -> "id", "paras" -> "para_hash", "spans" -> "h")

  /** All state IO goes through the Hadoop FileSystem API so `stateDir` may
    * be any supported URI (file://, hdfs://, s3a://, …) — java.nio would
    * silently bind the manifest to the DRIVER'S local disk on a real
    * cluster while the parquet tables land on the distributed store.
    */
  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ------------------------------------------------------------------
  // Generations: what one manifest line publishes.
  // ------------------------------------------------------------------

  /** The tables one manifest line names: each one's current generation,
    * plus what readers need to interpret them. A writer extends its
    * snapshot with the generations it writes and publishes the result with
    * [[commit]]; readers resolve the published one with [[snapshot]].
    *
    * @param next    generation and part number of a write made now: the
    *                index of the manifest line that will publish it
    * @param visible parts below this number are read: the published line
    *                count, or `next + 1` in a writer's view of its own parts
    * @param buckets bucket count of the keyed tables (signatures, executed
    *                and the sub-document hashes); 0 = plain parquet. A property of the STATE
    *                DIR, not of the caller's config: every later reader and
    *                writer — fresh sessions and other drivers included —
    *                follows it
    * @param knobs   channel knobs the band index was built with
    * @param through last signature epoch the band index covers
    * @param similarity edge-shaping values the clusters were built with
    */
  private[state] final case class Snapshot(stateDir: String, gens: Map[String, Long],
                                           next: Long, visible: Long, buckets: Int = 0,
                                           knobs: String = "", through: Long = -1L,
                                           similarity: String = "") {
    def path(table: String): Option[String] =
      gens.get(table).map(g => s"$stateDir/$table/gen=$g")

    /** The part a write made now lands in. */
    def part(table: String): String = s"${path(table).get}/part=$next"

    /** The writer's view: the parts it writes now are read too. */
    def writing: Snapshot = copy(visible = next + 1)

    /** A new generation of each table, unpublished until this snapshot is. */
    def fresh(ts: String*): Snapshot = copy(gens = gens ++ ts.map(_ -> next)).writing

    /** A part appended to `table`'s generation, or a new one if none. */
    def orFresh(table: String): Snapshot = if (gens.contains(table)) writing else fresh(table)

    /** Whether a write (a rescan or not) starts a new signature store. */
    def restarts(rescan: Boolean): Boolean = rescan || !gens.contains("signatures")

    /** Layout of a write: sticky once a store exists — mixing layouts in one
      * table would corrupt the bucket invariant — so only a write that
      * starts a new store takes the `requested` one.
      */
    def layout(rescan: Boolean, requested: Int): Int = if (restarts(rescan)) requested else buckets

    def json: String =
      gens.toSeq.sorted.map { case (t, g) => s""""$t":$g""" }.mkString("\"gens\":{", ",", "}") +
        s""","signature_buckets":$buckets""" +
        (if (gens.contains("bands")) s""","knobs":$knobs,"through_epoch":$through""" else "") +
        // a line written before the values were recorded has none to carry
        (if (gens.contains("clusters") && similarity.nonEmpty) s""","similarity":$similarity"""
         else "")
  }

  /** The published snapshot: the last manifest line's generations. A state
    * dir whose manifest names none predates generation commits; it has no
    * reader here and is rebuilt into a fresh state dir.
    */
  private[state] def snapshot(spark: SparkSession, stateDir: String): Snapshot = {
    val lines = readManifest(spark, stateDir)
    val empty = Snapshot(stateDir, Map.empty, lines.length, lines.length)
    lines.reverseIterator.find(_.contains("\"gens\":")) match {
      case None =>
        require(lines.isEmpty,
          s"$stateDir predates generation commits: rebuild it into a fresh state dir")
        empty
      case Some(line) =>
        def field(key: String, value: String): Option[String] =
          s""""$key":($value)""".r.findFirstMatchIn(line).map(_.group(1))
        empty.copy(
          // a table this code no longer keeps (an older dir's `metrics`)
          // drops out of the next line
          gens = """"(\w+)":(\d+)""".r.findAllMatchIn(field("gens", """\{[^}]*\}""").get)
            .map(m => m.group(1) -> m.group(2).toLong).filter(g => tables.contains(g._1)).toMap,
          buckets = field("signature_buckets", """\d+""").fold(0)(_.toInt),
          knobs = field("knobs", """\{[^}]*\}""").getOrElse(""),
          through = field("through_epoch", """-?\d+""").fold(-1L)(_.toLong),
          similarity = field("similarity", """\{[^}]*\}""").getOrElse(""))
    }
  }

  /** Dir of `table`'s published generation; None if the manifest names
    * none. Its `part=` dirs include those of a crashed call until the next
    * lease holder deletes them: read a table through [[readTable]].
    */
  def generationPath(spark: SparkSession, stateDir: String, table: String): Option[String] =
    snapshot(spark, stateDir).path(table)

  /** `table`'s published rows; None if the manifest names no generation of
    * it. After a committed call each table dir holds only these rows, so
    * `spark.read.parquet(<table dir>)` reads the same rows plus int `gen`
    * and `part` partition columns.
    */
  def readTable(spark: SparkSession, stateDir: String, table: String): Option[DataFrame] =
    read(spark, snapshot(spark, stateDir), table)

  /** `table`'s rows in `snap`: the parts of its generation below
    * `snap.visible` (a partition filter on the inferred `part` column, so
    * no other part's files are opened), bucketed on the table's key in a
    * bucketed layout.
    */
  private[state] def read(spark: SparkSession, snap: Snapshot,
                          table: String): Option[DataFrame] =
    snap.path(table).map { p =>
      val df =
        if (snap.buckets > 0 && bucketKey.contains(table))
          spark.table(ensureBucketedTable(spark, table, p, snap.buckets))
        else spark.read.parquet(p)
      df.filter(col("part") < snap.visible).drop("part")
    }

  /** Dirs on disk that `snap` does not publish: generations it does not
    * name (a crashed writer's, or ones a durable line superseded before its
    * writer could delete them) and parts of named ones at or past
    * `snap.visible` (a crashed writer's appends).
    */
  private def unnamed(spark: SparkSession, snap: Snapshot): Seq[(FileSystem, Path)] =
    tables.flatMap { t =>
      val (fs, dir) = fsFor(spark, s"${snap.stateDir}/$t")
      val keep = snap.gens.get(t).map(g => s"gen=$g")
      def dirs(p: Path, prefix: String) =
        fs.listStatus(p).toSeq.map(_.getPath).filter(_.getName.startsWith(prefix))
      if (!fs.exists(dir)) Nil
      else dirs(dir, "gen=").flatMap { g =>
        if (!keep.contains(g.getName)) Seq(g)
        else dirs(g, "part=").filter(_.getName.stripPrefix("part=").toLong >= snap.visible)
      }.map(fs -> _)
    }

  /** Delete what `snap` does not publish: unnamed generations and parts,
    * and the dirs of tables it does not name at all.
    */
  private def sweep(spark: SparkSession, snap: Snapshot): Unit = {
    unnamed(spark, snap).foreach { case (fs, p) => fs.delete(p, true) }
    tables.filterNot(snap.gens.contains).foreach { t =>
      val (fs, dir) = fsFor(spark, s"${snap.stateDir}/$t")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
  }

  /** Publish `snap` with one manifest line carrying `fields`; once the line
    * is durable, delete the generations it supersedes.
    */
  private def commit(spark: SparkSession, snap: Snapshot, fields: String): Unit = {
    appendManifest(spark, snap.stateDir,
      Seq(fields, snap.json).filter(_.nonEmpty).mkString("{", ",", "}"))
    commitTestHook("published")
    sweep(spark, snap)
  }

  /** Test seam: called with the table's name after every table write,
    * with "manifest" between the manifest's two renames and with
    * "published" once a line is durable, so a spec can kill a call at each
    * of its write and publish points.
    */
  private[graft] var commitTestHook: String => Unit = _ => ()

  /** Write `df` as `table`'s part in `snap`: bucketed on the table's key
    * when `buckets` > 0, else plain parquet.
    */
  private def write(spark: SparkSession, snap: Snapshot, table: String, df: DataFrame,
                    buckets: Int = 0): Unit = {
    val p = snap.part(table)
    if (buckets > 0) {
      val key = bucketKey(table)
      val tbl = catalogName(table, p, buckets)
      // the part's path may carry a catalog entry from a crashed attempt
      // whose files the sweep removed
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      // one writer task per bucket: without the repartition every task
      // writes up to `buckets` files (tasks × buckets small files)
      df.repartition(buckets, col(key))
        .write.mode("append").format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", p)
        .saveAsTable(tbl)
    } else df.write.mode("append").parquet(p)
    commitTestHook(table)
  }

  // ------------------------------------------------------------------
  // Bucketed keyed tables. Spark's bucket metadata lives in the session
  // catalog (in-memory, per-session), so each session registers a
  // deterministic table name over each generation's files on first touch;
  // the files themselves carry the bucket ids in their names.
  // ------------------------------------------------------------------

  /** Deterministic catalog name per path and bucket count (every session
    * derives the same name for the same files, and an entry declaring
    * another layout is never reused).
    */
  private def catalogName(table: String, path: String, buckets: Int): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$path#$buckets".getBytes(UTF_8))
    s"graft_${table}_" + digest.take(6).map(b => f"$b%02x").mkString
  }

  /** Buckets the persisted signatures were written with; 0 = plain parquet. */
  private[graft] def signatureBuckets(spark: SparkSession, stateDir: String): Int =
    snapshot(spark, stateDir).buckets

  private[graft] def sigTableName(spark: SparkSession, stateDir: String): String = {
    val snap = snapshot(spark, stateDir)
    catalogName("signatures", snap.path("signatures").get, snap.buckets)
  }

  private[graft] def execTableName(spark: SparkSession, stateDir: String): String = {
    val snap = snapshot(spark, stateDir)
    catalogName("executed", snap.path("executed").get, snap.buckets)
  }

  /** Register (if absent) a bucketed table over a generation's files and
    * return its name. Schema comes from the parquet footers (the `part`
    * dirs add an int column the file index infers as a partition column),
    * so registration works in a session that has never written this state.
    */
  private def ensureBucketedTable(spark: SparkSession, table: String, path: String,
                                  buckets: Int): String = {
    val tbl = catalogName(table, path, buckets)
    if (!spark.catalog.tableExists(tbl)) {
      val schema = spark.read.parquet(path).schema
      val key = bucketKey(table)
      spark.sql(
        s"""CREATE TABLE $tbl (${schema.toDDL}) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
           |LOCATION '${new Path(path)}'""".stripMargin)
    }
    // another driver may have published a part since this session cached
    // the file listing; the lease serializes writers, not readers
    spark.catalog.refreshTable(tbl)
    tbl
  }

  /** Layout-aware scan of the persisted signatures. In the bucketed layout
    * the scan carries HashPartitioning(id, N), so the resume/tombstone/
    * as-of anti-joins on `id` need no exchange on the state side — the
    * side that grows with corpus age (see DedupConfig.stateBuckets) — and
    * an `id` equality/IN filter reads only the matching buckets.
    */
  def readSignatures(spark: SparkSession, stateDir: String): DataFrame =
    readSignatures(spark, snapshot(spark, stateDir))

  private def readSignatures(spark: SparkSession, snap: Snapshot): DataFrame =
    read(spark, snap, "signatures").getOrElse(
      throw new IllegalStateException(s"no committed signatures in ${snap.stateDir}"))

  /** Thrown when the state lease is held by another writer. Subclasses
    * IllegalStateException so existing catch sites keep working; a distinct
    * type so retry loops (streaming ingest under a batch clusterEpoch) can
    * match contention without parsing messages.
    */
  final class StateLockedException(msg: String, cause: Throwable = null)
    extends IllegalStateException(msg, cause)

  /** Test seam: runs between the staleness observation and the takeover
    * rename so a spec can interleave a competing writer deterministically
    * inside the otherwise-nanoseconds takeover window.
    */
  private[graft] var lockTakeoverTestHook: () => Unit = () => ()

  /** Single-writer lease over a state dir. The reference's single-process
    * RocksDB handle made concurrent writers impossible (`db.rs` opens the
    * store exclusively); on a cluster two drivers pointed at one stateDir
    * would interleave the manifest's double-rename and parquet appends, so
    * every mutating epoch runs inside this lease. The holder first deletes
    * every generation and part the manifest does not publish (see
    * [[sweep]]).
    *
    * `FileSystem.create(path, overwrite = false)` is atomic on HDFS-like
    * stores (and good enough on local FS for tests); the loser gets a clean
    * IllegalStateException instead of a corrupted store. A lease older than
    * `staleMs` is treated as abandoned by a crashed holder and broken —
    * epochs are minutes-long, so the default 30 min bound never fences out
    * a live writer. (On S3, creation is not atomic; front a real lock
    * service or DynamoDB-style conditional put there.)
    */
  def withStateLock[T](spark: SparkSession, stateDir: String,
                       staleMs: Long = 30L * 60 * 1000)(f: => T): T = {
    val (fs, root) = fsFor(spark, stateDir)
    fs.mkdirs(root)
    val lp = new Path(lockPath(stateDir))
    def locked(cause: Throwable): Nothing =
      throw new StateLockedException(
        s"state dir is locked by another writer (${lockPath(stateDir)}); " +
          "concurrent epochs over one state dir are not supported", cause)
    if (fs.exists(lp) &&
        System.currentTimeMillis() - fs.getFileStatus(lp).getModificationTime > staleMs) {
      lockTakeoverTestHook()
      // Break the abandoned lease by ATOMIC RENAME to a unique name — never
      // delete in place. Between our staleness check and this point another
      // racer may have broken the stale lock AND a third writer re-created a
      // FRESH one at the same path; a delete here would destroy that live
      // lease (the check-then-act race). Rename moves whatever file holds
      // the lock path right now; re-statting what we actually took tells us
      // whose it was: fresh → restore it and fail as locked, stale → discard
      // it and contend for the create below like everyone else.
      val broken = new Path(lockPath(stateDir) + s".broken.${System.nanoTime()}")
      val renamed =
        try fs.rename(lp, broken)
        catch { case _: java.io.IOException => false } // racer broke it first
      if (renamed) {
        val tookMtime = fs.getFileStatus(broken).getModificationTime
        if (System.currentTimeMillis() - tookMtime <= staleMs) {
          // we grabbed a fresh lease created inside our takeover window —
          // put it back (we hold it exclusively under the unique name, so
          // only a writer two races deep could have re-created the path)
          fs.rename(broken, lp)
          locked(null)
        }
        fs.delete(broken, false)
      }
    }
    val out =
      try fs.create(lp, false)
      catch { case e: java.io.IOException => locked(e) }
    // unique holder token: release must verify the lease is still OURS —
    // an epoch that outlives staleMs can have its lock legitimately broken
    // by a newer writer, and an unconditional delete here would destroy
    // that writer's LIVE lease (opening the store to a third concurrent
    // writer — exactly the interleaving the lease exists to prevent)
    val holderToken =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}/${java.util.UUID.randomUUID()}"
    try out.write(
      (s"""{"holder":"$holderToken",""" +
        s""""acquired_ms":${System.currentTimeMillis()}}""").getBytes(UTF_8))
    finally out.close()
    try {
      sweep(spark, snapshot(spark, stateDir))
      f
    } finally {
      // a token MISMATCH is the only positive takeover signal. A missing
      // file means the lease is gone (nothing to release); any other read
      // failure on a healthy lease is retried once, then defaults to
      // releasing — the write above succeeded under this holder, and
      // leaving the lock in place on a transient read hiccup would block
      // every subsequent writer until staleMs with no live holder.
      def readIsOurs(): Boolean = {
        val in = fs.open(lp)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.contains(holderToken)
      }
      val stillOurs =
        try readIsOurs()
        catch {
          case _: java.io.FileNotFoundException => false // gone: nothing to release
          case _: java.io.IOException =>
            try readIsOurs()
            catch {
              case _: java.io.FileNotFoundException => false
              case _: java.io.IOException => true // transient reads; release anyway
            }
        }
      if (stillOurs) fs.delete(lp, false)
      else System.err.println(
        s"[state-lock] lease at ${lockPath(stateDir)} is no longer ours " +
          "(taken over as stale during a long epoch); leaving it in place — " +
          "check for overlapping writers and raise staleMs above the epoch time")
    }
  }

  /** One incremental epoch: fingerprint only never-seen urls and append.
    * `elections` are the winners of the sub-document passes that cleaned
    * `pages` ([[SubDocState]]); the epoch's line publishes them.
    *
    * @return (numNewSignatures, numQuarantined)
    */
  def runEpoch(spark: SparkSession, pages: DataFrame, idCol: String, textCol: String,
               stateDir: String, cfg: DedupConfig = DedupConfig(),
               elections: Seq[SubDocState.Elected] = Nil): (Long, Long) =
    withStateLock(spark, stateDir) {
      val in = ingest(spark, pages, idCol, textCol, snapshot(spark, stateDir), cfg, elections)
      commit(spark, in.snap, in.line)
      (in.nNew, in.nQuarantined)
    }

  /** What an ingest leaves for its caller to publish: the snapshot naming
    * the generations it wrote, and the fields of the epoch's manifest line.
    */
  private final case class Ingest(snap: Snapshot, epoch: Long, nNew: Long,
                                  nQuarantined: Long, line: String)

  private def ingest(spark: SparkSession, pages: DataFrame, idCol: String,
                     textCol: String, published: Snapshot, cfg: DedupConfig,
                     elections: Seq[SubDocState.Elected]): Ingest = {
    val epochT0 = System.nanoTime()
    // an election made against an older snapshot missed the winners a line
    // published since: writing it would elect those hashes twice
    elections.find(_.against != published.next).foreach { e =>
      throw new IllegalStateException(
        s"${e.table} elections were made against ${e.against} manifest lines, but " +
          s"${published.stateDir} has published ${published.next}: re-run the sub-document pass")
    }

    // resume primitive (J1): anti-join against persisted state + skip list.
    // force_rescan (reference config.rs:81 / reinitialise semantics) bypasses
    // both filters and starts a new store instead of appending duplicates.
    val fresh = published.restarts(cfg.forceRescan)
    val seen = if (fresh) None else Some(readSignatures(spark, published))
    val quarantined = if (cfg.forceRescan) None else read(spark, published, "quarantine")
    // slice-keyed prune (cfg.stateBloomFpp): the state side of the
    // resume anti-join is the corpus-aged one; a Bloom sketch of the
    // incoming slice's ids (one slim aggregation over the pruned id
    // column — never the text) filters it to ~|slice| rows before
    // the join. Byte-identical result at any fpp (SlicePrune doc). The
    // handle is kept so the epoch can unpersist the executor-side blocks
    // once its writes are committed — a long-lived driver looping epochs
    // must not accumulate one pinned sketch per epoch.
    // PRECONDITION: `pages` must evaluate deterministically — the sketch
    // is one evaluation, the anti-join another, and an id present in the
    // second but absent from the first would prune its state row and
    // re-append a seen doc. The resumable-epoch contract already demands
    // this (a re-run must see the same slice); an upstream unordered
    // limit()/sample would violate both.
    val sliceSketch =
      if (seen.isDefined && cfg.stateBloomFpp > 0)
        Some(SlicePrune.keySketch(pages.select(col(idCol)), idCol,
          cfg.stateBloomExpected, cfg.stateBloomFpp))
      else None
    val unseen0 = seen match {
      case Some(s) =>
        val stateKeys = s.select(col("id").as(idCol))
        val joinKeys = sliceSketch match {
          case Some(bf) => stateKeys.filter(SlicePrune.mightContain(bf, col(idCol)))
          case None     => stateKeys
        }
        pages.join(joinKeys, Seq(idCol), "left_anti")
      case None    => pages
    }
    val unseen = quarantined match {
      case Some(q) => unseen0.join(q.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      case None    => unseen0
    }

    // quarantine: rows whose text is unusable (≙ per-item timeout skip list);
    // extraction upstream never throws, it degrades to empty text
    val bad = unseen.filter(col(textCol).isNull || length(col(textCol)) === 0)
      .select(col(idCol).as("id"), lit("empty_or_null_text").as("reason"),
        current_timestamp().as("quarantined_at"))
    val good = unseen.filter(col(textCol).isNotNull && length(col(textCol)) > 0)

    // order_len is persisted with the signature so representative selection
    // on resume never needs the text again. The new-row count rides the
    // write: a crashed attempt's part is deleted before the retry writes
    // the same rows again, so the count is the same for a resumed epoch
    val sigObs = org.apache.spark.sql.Observation("sig_metrics")
    val sigs = DedupPipeline.signatures(
      good.withColumn("order_len", length(col(textCol))),
      idCol, textCol, cfg, carry = Seq("order_len"))
      .observe(sigObs, count(lit(1)).as("n_rows"))

    // per-partition lineage (north_rule): which partition produced how many
    // signature rows in which epoch — epoch is stamped on every row, so the
    // state table itself carries its commit history (≙ Iceberg snapshot id)
    val epoch = nextEpoch(spark, published.stateDir)
    val withPart = sigs
      .withColumn("part_id", spark_partition_id())
      .withColumn("epoch", lit(epoch))
    // forceRescan (which starts a new store) is the documented way to
    // re-layout
    val buckets = published.layout(cfg.forceRescan, cfg.stateBuckets)
    if (buckets != cfg.stateBuckets && cfg.stateBuckets > 0)
      System.err.println(s"[state] stateBuckets=${cfg.stateBuckets} requested but " +
        s"existing layout has $buckets bucket(s); keeping the existing layout " +
        "(use forceRescan to re-layout)")
    // A rescan publishes its new signatures generation with none of the
    // tables that describe the old store: a later delta clusterEpoch would
    // read the old clusters as trusted connectivity and the band index
    // would keep their rows forever; the executed table is keyed by — and
    // bucketed like — the old store, so its tombstones would suppress ids
    // the rescan re-mints; a restarted store re-evaluates every
    // quarantined doc; and its sub-document elections start over, so no
    // earlier winner hash defeats a paragraph or span.
    val kept =
      if (cfg.forceRescan)
        published.gens -- Seq("clusters", "actions", "previews", "bands", "executed",
          "quarantine", "paras", "spans")
      else published.gens
    val snap = elections.map(_.table).foldLeft(
      (if (fresh) published.copy(gens = kept, buckets = buckets).fresh("signatures")
       else published).orFresh("quarantine"))(_.orFresh(_))
    write(spark, snap, "signatures", withPart, buckets)

    // quarantine count rides the write as an observe metric — one action,
    // no cache/count/write triple (an empty append just writes a footer)
    val qObs = org.apache.spark.sql.Observation()
    write(spark, snap, "quarantine", bad.observe(qObs, count(lit(1)).as("n")))
    val nQuarantined = Observed.long(qObs)
    // the sub-document winners follow the signature store's layout
    elections.foreach(e => write(spark, snap, e.table, e.winners, snap.buckets))

    // both consumers of the pruned anti-join (signature + quarantine
    // writes) have run; release the sketch's executor blocks now.
    // unpersist (not destroy) keeps the driver copy, so a recompute after
    // executor loss just re-fetches — correctness is unaffected.
    sliceSketch.foreach(_.unpersist())
    val nNew = Observed.long(sigObs)

    // X13 rate metrics (reference progress.rs ETA math): each commit line
    // records its own throughput, so an operator can project the remaining
    // corpus (eta = remaining / docs_per_sec) from the manifest alone
    val elapsed = (System.nanoTime() - epochT0) / 1e9
    val rate = if (elapsed > 0) nNew / elapsed else 0.0
    // explicit ROOT locale: the manifest is machine-parsed JSON and this is
    // library code — a comma-decimal host locale must not leak into it
    Ingest(snap, epoch, nNew, nQuarantined,
      s""""epoch":$epoch,"new_signatures":$nNew,"quarantined":$nQuarantined,""" +
        s""""elapsed_sec":${"%.2f".formatLocal(java.util.Locale.ROOT, elapsed)},""" +
        s""""docs_per_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, rate)}""")
  }

  /** Full incremental epoch: fingerprint new pages (as [[runEpoch]]), then
    * re-cluster from the PERSISTED signature state (fingerprints are never
    * recomputed — clustering alone is re-derived, which is the cheap part)
    * and write new clusters, actions and previews generations. One manifest
    * line publishes the epoch and all three, so [[executeEpoch]] only ever
    * sees the plan of the committed clusters. The suffix-array verify
    * pass fetches normalized text for its ambiguous slice from `textsOf`
    * when given, else from `pages`.
    *
    * SLICE-FED posture (the 10^12-doc operating mode): pass only the crawl
    * slice as `pages` — the anti-join, extraction and fingerprinting then
    * cost O(slice), not O(corpus) — and the authoritative pages table
    * (e.g. the full lazily-scanned catalog table) as `textsOf`, so the
    * verify pass can still fetch text for FRONTIER docs from earlier
    * epochs (a new page's near-mates are old pages whose text is not in
    * the slice). Under `deltaCluster` the fetch prunes that table to the
    * frontier before any shuffle, so feeding the full table costs one
    * column scan, never a corpus shuffle. Without `textsOf`, old-doc
    * text is simply absent and ambiguous pairs with a missing side fall
    * back to the shingle-containment decision (documented in
    * [[DedupPipeline.nearEdges]]) — convergent, but not bit-identical to
    * the full-fed epoch; DeltaClusterSpec pins that the textsOf route IS
    * bit-identical. `elections` are published as in [[runEpoch]].
    *
    * @return (numNewSignatures, numClusters)
    */
  def clusterEpoch(spark: SparkSession, pages: DataFrame, idCol: String, textCol: String,
                   stateDir: String, cfg: DedupConfig = DedupConfig(),
                   action: String = "symlink",
                   textsOf: Option[DataFrame] = None,
                   elections: Seq[SubDocState.Elected] = Nil): (Long, Long) =
      withStateLock(spark, stateDir) {
    val cfg0 = cfg.checkpointsIn(stateDir)
    val in = ingest(spark, pages, idCol, textCol, snapshot(spark, stateDir), cfg0, elections)

    // cluster the LIVE state: rows vacated by executed delete/move actions
    // must not re-enter clusters (or worse, win representative selection
    // and direct new duplicates at originals that no longer exist)
    val stateSigs = liveSignatures(spark, in.snap)
    val texts =
      DedupPipeline.normTexts(textsOf.getOrElse(pages), idCol, textCol, cfg0)
    // keep the band index warm on full/first epochs too (when the flag is
    // set): the NEXT delta epoch then starts from a delta-sized append
    // instead of a corpus-wide bootstrap pass
    val (bandIndex, snap) =
      if (cfg0.deltaCluster) {
        val (index, s) = ensureBandIndex(spark, in.snap, in.epoch)
        (Some(index), s)
      } else (None, in.snap)
    // delta-incremental clustering (cfg.deltaCluster): re-derive near
    // edges only for the re-verify frontier — this epoch's new docs plus
    // members of clusters invalidated by executed removals (a removal can
    // sever the only path connecting surviving members, so those clusters
    // cannot trust their old assignment edges) — and splice the stable
    // clusters' connectivity in as assignment edges. Falls back to the
    // full re-cluster on the first epoch or after a rescan (neither
    // publishes prior clusters), and when the prior clusters were built
    // under other edge-shaping values: their merges would otherwise carry
    // over unverified.
    val similarity = similarityJson(cfg0)
    val clusters = bandIndex match {
      case Some(index) if in.snap.gens.contains("clusters") && in.snap.similarity == similarity =>
        val prior = read(spark, in.snap, "clusters").get
        // "new" = every live doc the prior clusters table has never seen —
        // NOT just the epoch ingested above: signature epochs accrue
        // WITHOUT clustering under the streaming-ingest cadence and
        // under repeated runEpoch calls, and an epoch filter would silently
        // skip those docs' near-pair discovery (they are absent from the
        // assignment edges too, so nothing else re-derives them; pinned by
        // the accrued-epochs DeltaClusterSpec case). One slim id-column
        // anti-join per epoch — corpus-sized but 2 columns wide.
        val newSids = stateSigs.select(col("id").as("sid"))
          .join(prior.select(col("id").as("sid")), Seq("sid"), "left_anti")
        val tombs = tombstones(spark, in.snap).select("id")
        val affected = prior.join(tombs, Seq("id"), "left_semi")
          .select("cluster_id").distinct()
        val liveMembers = prior.join(tombs, Seq("id"), "left_anti")
        val invalidated = liveMembers
          .join(affected, Seq("cluster_id"), "left_semi")
          .select(col("id").as("sid"))
        val stable = liveMembers.join(affected, Seq("cluster_id"), "left_anti")
        val focus = newSids.union(invalidated).distinct()
        val assigns = stable.filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("sid_a"), col("cluster_id").as("sid_b"))
        DedupPipeline.clusterSignaturesDelta(
          spark, stateSigs, focus, assigns, Some(texts), index, cfg0)
      case _ =>
        DedupPipeline.clusterSignatures(spark, stateSigs, Some(texts), cfg0)
    }

    // previews are per-epoch and opt-in: a run without them publishes none,
    // so a table left by a prior opt-in run is superseded, never served
    // with another epoch's cluster_ids
    val out =
      (if (cfg0.previewChars > 0) snap.fresh("clusters", "actions", "previews")
       else snap.copy(gens = snap.gens - "previews").fresh("clusters", "actions"))
        .copy(similarity = similarity)
    // the cluster count rides the clusters write: every cluster has exactly
    // one representative (pipeline invariant, oracled per-row by
    // q_dedup_invariants), so sum(is_representative) ≡
    // count(distinct cluster_id) without a second scan + distinct exchange
    val cObs = org.apache.spark.sql.Observation()
    write(spark, out, "clusters", clusters.observe(cObs,
      coalesce(sum(col("is_representative").cast("long")), lit(0L)).as("n_clusters")))
    write(spark, out, "actions",
      graft.actions.Actions.plan(clusters, action, dryRun = true))

    // preview surface (reference generate_thumbnails, config.rs:54,106):
    // one snippet row per cluster, from its representative's normalized
    // text — clusters is eagerly checkpointed, so this join reads
    // materialized rows, and the texts side is the already-built normTexts
    // projection (capped at saMaxChars upstream)
    if (cfg0.previewChars > 0)
      // LEFT join: under the slice-fed posture without textsOf, `texts`
      // covers only this epoch's slice — an inner join would silently
      // shrink the table to the few clusters whose representative is new,
      // while the contract is one row per cluster (preview null when the
      // representative's text was not among this epoch's inputs). The
      // substring projects BEFORE the join so the exchange ships
      // previewChars per row, not the full saMaxChars norm_text.
      write(spark, out, "previews",
        clusters.filter(col("is_representative"))
          .select(col("cluster_id"), col("id"))
          .join(texts.select(col("id"),
            substring(col("norm_text"), 1, cfg0.previewChars).as("preview")),
            Seq("id"), "left")
          .select(col("cluster_id"), col("id").as("representative_id"),
            col("preview")))

    val nClusters = Observed.long(cObs)
    commit(spark, out, in.line + s""","clusters":$nClusters""")
    (in.nNew, nClusters)
  }

  /** Execute the committed actions plan against the live signature state —
    * the reference's final pipeline stage, which it specifies but stubs
    * (`action.rs:1`, CLI contract `cli.rs:27-37`, README.md:26-42):
    *
    *  - the plan read is the one the published manifest line names, which
    *    is always the plan of the committed clusters (one line publishes
    *    both), never an unpublished or older generation;
    *  - idempotent with bounded retries: a plan row is attempted at most
    *    once per PLAN IDENTITY (id, original_id, action) — the anti-join on
    *    the persisted `executed` table skips rows already SETTLED: succeeded,
    *    or failed PERMANENTLY (a validation failure — `missing_id`/
    *    `missing_original` — is deterministic in the state, so re-running it
    *    unchanged would only accumulate duplicate failure rows). A failure
    *    with any OTHER error class (a transient infrastructure fault from a
    *    side-effecting executor) stays pending and is retried on the next
    *    run. Re-clustering that assigns a failed duplicate a NEW original
    *    emits a new plan identity, which runs — retry-on-replan for
    *    validation failures, retry-on-rerun for transient ones;
    *  - validate-exists: both sides of every action must still be live
    *    signature ids, else success=false with an error reason;
    *  - backup-before-remove (`config.rs:57` backup_dir): the signature
    *    rows a successful delete/move will vacate are appended to
    *    `backupDir` BEFORE the commit (a crash in between re-appends the
    *    backup on retry — duplicate safety copies, never missing ones);
    *  - ATOMIC commit: the `executed` append is the only table write.
    *    Tombstones are DERIVED from it on read ([[tombstones]] /
    *    [[liveSignatures]]), so there is no second table whose partial
    *    write could desynchronize the store.
    *
    * @return (nExecuted, nFailed) for this run (0, 0) when nothing pending
    */
  def executeEpoch(spark: SparkSession, stateDir: String,
                   backupDir: Option[String] = None,
                   cfg: DedupConfig = DedupConfig()): (Long, Long) =
      withStateLock(spark, stateDir) {
    val cfg0 = cfg.checkpointsIn(stateDir)
    val snap = snapshot(spark, stateDir)
    val plan = read(spark, snap, "actions").getOrElse(throw new IllegalStateException(
      s"no committed actions plan in $stateDir: run clusterEpoch first"))
    val pending = read(spark, snap, "executed") match {
      case Some(prior) =>
        val settled = prior.filter(col("success") ||
          col("error").isin("missing_id", "missing_original"))
        // NULL-SAFE key compare: plan rows for clusters with no
        // representative carry original_id = null (Actions.plan surfaces
        // them as error rows), and a plain equi-join's null = null is
        // never true — such a row would count as forever-pending and
        // append a fresh failure row on EVERY run, violating the
        // at-most-once-per-plan-identity contract
        val s = settled.select(col("id").as("s_id"),
          col("original_id").as("s_orig"), col("action").as("s_action"))
        plan.join(s,
          col("id") <=> col("s_id") && col("original_id") <=> col("s_orig") &&
            col("action") <=> col("s_action"),
          "left_anti")
      case None => plan
    }
    // validate against the LIVE view: a signature row vacated by an earlier
    // executed delete/move must not validate as an existing original/dup.
    // Materialized ONCE: execute() probes it from two join branches (dup +
    // original) — left lazy, the whole live-state derivation (parquet scan
    // + tombstone anti-join + distinct) would evaluate per branch
    val universe = cfg0.materializer(spark)(
      liveSignatures(spark, snap).select("id").distinct())
    // small table (one row per planned duplicate): materialize once, every
    // consumer below (backup, commit, counts) reads the checkpoint — via the
    // CONFIGURED materializer, so `--reliable` covers the executor stage too
    // (a preemption mid-execute recomputes from checkpoint files instead of
    // wasting the epoch). Stamped with the manifest epoch it ran under so
    // [[signaturesAsOf]] can scope tombstones per snapshot.
    val executed = cfg0.materializer(spark)(
      graft.actions.Actions.execute(pending, universe)
        .withColumn("epoch", lit(math.max(0L, nextEpoch(spark, stateDir) - 1))))

    backupDir.foreach { bd =>
      readSignatures(spark, snap)
        .join(graft.actions.Actions.tombstones(executed).select("id"), Seq("id"), "left_semi")
        .write.mode("append").parquet(bd)
    }
    // one aggregation pass over the checkpointed result serves both counts
    val r = executed.agg(
      coalesce(sum(when(col("success"), 1L).otherwise(0L)), lit(0L)),
      count(lit(1))).first()
    val nExecuted = r.getLong(0)
    val nFailed = r.getLong(1) - nExecuted
    val out =
      if (nExecuted + nFailed == 0) snap
      else {
        // the executed table follows the store's bucket layout: with both
        // scans carrying HashPartitioning(id, N), liveSignatures' tombstone
        // anti-join on `id` runs with zero exchange (BucketedStateSpec)
        val s = snap.orFresh("executed")
        write(spark, s, "executed", executed, s.buckets)
        s
      }
    commit(spark, out, s""""executed":$nExecuted,"failed":$nFailed""")
    (nExecuted, nFailed)
  }

  /** Tombstoned rows, derived on read from the executed table (successful
    * delete/move actions vacate their row). Derivation — not a second
    * persisted table — is what makes [[executeEpoch]]'s commit atomic.
    */
  def tombstones(spark: SparkSession, stateDir: String): DataFrame =
    tombstones(spark, snapshot(spark, stateDir))

  private def tombstones(spark: SparkSession, snap: Snapshot): DataFrame = {
    import spark.implicits._
    read(spark, snap, "executed")
      .map(graft.actions.Actions.tombstones)
      .getOrElse(Seq.empty[(String, String, String)].toDF("id", "original_id", "action"))
  }

  /** The live signature state: persisted signatures minus tombstoned rows. */
  def liveSignatures(spark: SparkSession, stateDir: String): DataFrame =
    liveSignatures(spark, snapshot(spark, stateDir))

  private def liveSignatures(spark: SparkSession, snap: Snapshot): DataFrame =
    withoutTombstones(spark, snap, readSignatures(spark, snap), identity)

  /** `df` minus the ids tombstoned by the executed rows `scope` keeps. */
  private def withoutTombstones(spark: SparkSession, snap: Snapshot, df: DataFrame,
                                scope: DataFrame => DataFrame): DataFrame =
    read(spark, snap, "executed") match {
      case Some(ex) =>
        df.join(graft.actions.Actions.tombstones(scope(ex)).select("id"), Seq("id"), "left_anti")
      case None => df
    }

  /** The dedup verdict as an id set — what a training export keeps: cluster
    * representatives (every clustered doc is in exactly one cluster with
    * exactly one representative — singletons represent themselves — so the
    * non-representative rows ARE the planned duplicates) minus tombstoned
    * rows. None when the state has no clusters table yet (no epoch has
    * run); callers then export the corpus unfiltered.
    */
  def keepIds(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val snap = snapshot(spark, stateDir)
    read(spark, snap, "clusters").map { c =>
      withoutTombstones(spark, snap, c.filter(col("is_representative")).select("id"), identity)
    }
  }

  // ------------------------------------------------------------------
  // Persisted band index — the delta-cluster frontier's slim lookup table.
  //
  // (id, band, band_hash) for every discovery channel of every persisted
  // signature (~tens of bytes/row vs the KB-scale shingle arrays they
  // derive from). Without it, every delta epoch re-winnows every doc's
  // shingle array just to FIND the frontier — measured 10.5 s of the
  // 42 s delta epoch at the 220k tier, erasing the mode's win; with it,
  // frontier selection is a slim scan + broadcast semi-join. The index is
  // maintained append-only per epoch and is a pure function of the
  // signatures table + the channel shapes, so it can always be rebuilt.
  // ------------------------------------------------------------------

  /** The band-index format: the channel shapes its rows depend on, from
    * DedupConfig's fixed banding values. An index published under another
    * format (written by other code) is rebuilt.
    */
  private val BandIndexFormat: String = {
    val c = DedupConfig()
    s"""{"bands":${c.bands},"rows_per_band":${c.rowsPerBand},""" +
      s""""prefix_band_shingles":${c.prefixBandShingles},""" +
      // structural version of the prefix channel (two-level ladder):
      // bumping it invalidates pre-ladder indexes so they rebuild with
      // the new level rows instead of silently missing half the buckets
      s""""prefix_band_levels":2,""" +
      s""""anchor_modulus":${c.anchorModulus},""" +
      s""""fast_path_bands":${c.fastPathBands}}"""
  }

  /** The settable values that shape near-dup edges, recorded on every line
    * that publishes clusters: a delta epoch reuses prior clusters only when
    * they were built under the same values.
    */
  private def similarityJson(cfg: DedupConfig): String =
    s"""{"jaccard_threshold":${cfg.jaccardThreshold},""" +
      s""""simhash_accept_hamming":${cfg.simhashAcceptHamming},""" +
      s""""containment_max_bucket":${cfg.containmentMaxBucket},""" +
      s""""fast_path":${cfg.fastPath}}"""

  /** Band index covering every committed epoch, building or repairing as
    * needed under the state lease; returns the index frame (id, band,
    * band_hash).
    */
  def ensureBandIndex(spark: SparkSession, stateDir: String): DataFrame =
    withStateLock(spark, stateDir) {
      val snap = snapshot(spark, stateDir)
      val (index, out) = ensureBandIndex(spark, snap, nextEpoch(spark, stateDir) - 1)
      if (out != snap) commit(spark, out, "")
      index
    }

  /** The band index of `snap` brought up to signature epoch `through`:
    *
    *  - none published / another format → a new generation rebuilt from
    *    the signatures table;
    *  - published `through_epoch` behind (epochs ingested without it: a
    *    runEpoch, or a clusterEpoch without `deltaCluster`) → a part with
    *    just the missing epochs' rows. Like every append it is published by
    *    the caller's line or deleted with the crashed call, so a replay
    *    writes each row once.
    *
    * Tombstoned docs keep their index rows (they only widen the frontier;
    * live-state semi-joins drop them downstream) — [[compactSignatures]]
    * prunes them during maintenance. The returned snapshot carries the
    * index's knobs and `through_epoch` for the caller's line to publish.
    */
  private def ensureBandIndex(spark: SparkSession, snap: Snapshot,
                              through: Long): (DataFrame, Snapshot) = {
    def rows(sigs: DataFrame) = DedupPipeline.allChannelBandRows(sigs)
    val out =
      if (snap.gens.contains("bands") && snap.knobs == BandIndexFormat) {
        if (snap.through < through) {
          val s = snap.writing.copy(through = through)
          write(spark, s, "bands",
            rows(readSignatures(spark, snap).filter(col("epoch") > snap.through)))
          s
        } else snap
      } else {
        val s = snap.fresh("bands").copy(knobs = BandIndexFormat, through = through)
        write(spark, s, "bands", rows(readSignatures(spark, snap)))
        s
      }
    (read(spark, out, "bands").get, out)
  }

  /** SNAPSHOT read — the signature state exactly as of `epoch`, inclusive
    * (Iceberg-style time travel over the epoch manifest, which is this
    * store's snapshot log: every row carries the epoch that committed it,
    * and executed actions are stamped with the epoch they ran under).
    * Signature commits after the epoch are invisible; only tombstones from
    * executions at or before it apply. `signaturesAsOf(latest epoch)` ≡
    * [[liveSignatures]].
    */
  def signaturesAsOf(spark: SparkSession, stateDir: String, epoch: Long): DataFrame = {
    val snap = snapshot(spark, stateDir)
    withoutTombstones(spark, snap,
      readSignatures(spark, snap).filter(col("epoch") <= epoch),
      _.filter(col("epoch") <= epoch))
  }

  /** State consistency diagnosis — the runnable analog of the reference's
    * `diagnose_database` user command (`src/persistence/db.rs:213-278`,
    * which counts crypto-only / perceptual-only half-rows). The one-row
    * twin-column design makes half-rows impossible, so the checks that
    * remain meaningful here are CROSS-TABLE, and they must respect epoch
    * staleness: clusterEpoch clusters the LIVE view, so a signature row is
    * "unclustered" drift only if it is LIVE and absent from clusters (a
    * tombstoned row legitimately drops out of the next clusters table);
    * conversely a cluster id is "dangling" only if it never had a signature
    * AT ALL (tombstoned ids still exist in the raw table). Output:
    * (category, n) — both drift categories are zero on a healthy store at
    * any point in the runEpoch/clusterEpoch/executeEpoch cycle.
    * `uncommitted_generations` counts the `gen=` dirs the manifest does not
    * name and the `part=` dirs no published line wrote: zero on a healthy
    * store, more after a crash until the next writer sweeps them — a torn
    * epoch, appends included, is visible from the state dir alone.
    */
  def diagnose(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, stateDir)
    val empty = spark.emptyDataset[String].toDF("id")
    val hasSigs = snap.gens.contains("signatures")
    val sigs = if (hasSigs) readSignatures(spark, snap).select("id") else empty
    val live = if (hasSigs) liveSignatures(spark, snap).select("id") else empty
    def ids(table: String) = read(spark, snap, table).map(_.select("id")).getOrElse(empty)
    val clusters = ids("clusters")
    // ONE pass: union every per-table id stream (including the two
    // anti-join drift streams) under a category label and aggregate — the
    // same observe-fusion discipline as the epoch paths, instead of seven
    // separate count() round-trips. Zero-count categories are restored by
    // the seed join so a healthy store still reports every row.
    def tag(df: DataFrame, cat: String) = df.select(lit(cat).as("category"))
    val counted = tag(sigs, "signatures")
      .unionAll(tag(live, "live_signatures"))
      .unionAll(tag(clusters, "clusters"))
      .unionAll(tag(ids("quarantine"), "quarantined"))
      .unionAll(tag(tombstones(spark, snap), "tombstoned"))
      .unionAll(tag(live.join(clusters, Seq("id"), "left_anti"),
        "signature_without_cluster"))
      .unionAll(tag(clusters.join(sigs, Seq("id"), "left_anti"),
        "cluster_without_signature"))
      .groupBy("category").agg(count(lit(1)).as("n"))
    Seq("signatures", "live_signatures", "clusters", "quarantined",
      "tombstoned", "signature_without_cluster", "cluster_without_signature")
      .toDF("category")
      .join(counted, Seq("category"), "left")
      .select(col("category"), coalesce(col("n"), lit(0L)).as("n"))
      .unionAll(Seq(("uncommitted_generations", unnamed(spark, snap).length.toLong))
        .toDF("category", "n"))
  }

  /** Compact the appended state tables (signatures, and executed, the band
    * index and the sub-document hashes when present), folding each
    * generation's parts into one part with the minimal file count — the
    * maintenance half of an append-only store's lifecycle (≙ Iceberg
    * rewrite_data_files; reference flush/compact cadence, lib.rs:178-223).
    * A nightly-epoch store accrues one part, of one file per bucket
    * (bucketed layout) or per task (plain), PER EPOCH AND TABLE; after a
    * year the per-bucket file count — open() round-trips and footer reads,
    * not data volume — dominates scan planning on an object store. The
    * rewrite preserves every row including the `epoch` column, so
    * [[signaturesAsOf]] time travel is unaffected, and keeps the recorded
    * layout (bucketed stays bucketed on the same N). Each table is
    * rewritten into a new generation and one manifest line publishes them
    * all.
    *
    * @return (tables rewritten, filesBefore, filesAfter)
    */
  def compactSignatures(spark: SparkSession, stateDir: String): (Seq[String], Long, Long) =
    withStateLock(spark, stateDir) {
      val snap = snapshot(spark, stateDir)
      require(snap.gens.contains("signatures"),
        s"no signatures table at ${signaturesPath(stateDir)}")
      val compacted =
        Seq("signatures", "executed", "bands", "paras", "spans").filter(snap.gens.contains)
      val out = snap.fresh(compacted: _*)

      def rewrite(table: String, rows: DataFrame, buckets: Int): Unit =
        if (buckets > 0) {
          // SHUFFLE-FREE rewrite: force the bucketed scan on (the
          // DisableUnnecessaryBucketedScan planner rule only credits joins/
          // aggregates, not V1 writes — left to its default it re-reads the
          // table as size-based splits that MIX buckets, and each write task
          // then emits one file per bucket present: measured 19 files for 8
          // buckets instead of 8). With the bucketed scan pinned, each task
          // reads exactly one bucket's files and rewrites them as one file —
          // zero exchange; the repartition in [[write]] is elided as
          // redundant and stands only as the correctness net if the scan
          // loses its partitioning.
          val autoBucketedKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
          val prevAuto = spark.conf.get(autoBucketedKey)
          try {
            spark.conf.set(autoBucketedKey, "false")
            write(spark, out, table, rows, buckets)
          } finally spark.conf.set(autoBucketedKey, prevAuto)
        } else {
          // plain layout: pack to ~128 MB files (object-store-friendly)
          val (fs, live) = fsFor(spark, snap.path(table).get)
          val parts = math.max(1L, fs.getContentSummary(live).getLength / (128L << 20)).toInt
          write(spark, out, table, rows.repartition(parts))
        }

      compacted.foreach { t =>
        val rows = read(spark, snap, t).get
        // the band index keeps rows for tombstoned docs (they only widen
        // the delta frontier): maintenance prunes them. Plain-parquet
        // rewrite — the index is a semi-join-only surface, so no layout to
        // preserve.
        if (t == "bands")
          rewrite(t, rows.join(tombstones(spark, snap).select("id"), Seq("id"), "left_anti"), 0)
        else rewrite(t, rows, snap.buckets)
      }

      def files(s: Snapshot): Long = compacted.map { t =>
        val (fs, p) = fsFor(spark, s.path(t).get)
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }.sum
      val (before, after) = (files(snap), files(out))
      // no "new_signatures" key: compaction must not advance the epoch
      // counter (nextEpoch counts signature-commit lines only)
      commit(spark, out,
        s""""compacted":"${compacted.mkString("+")}","files_before":$before,""" +
          s""""files_after":$after""")
      (compacted, before, after)
    }

  /** Manifest lines, oldest first; empty if no manifest yet. Falls back to
    * the `.bak` copy if a crash interrupted a commit between its two
    * renames (see [[appendManifest]]) — at most the crashed commit's own
    * line is lost, never the history.
    */
  def readManifest(spark: SparkSession, stateDir: String): Seq[String] = {
    val (fs, p) = fsFor(spark, manifestPath(stateDir))
    val src =
      if (fs.exists(p)) p
      else {
        val bak = new Path(manifestPath(stateDir) + ".bak")
        if (fs.exists(bak)) bak else return Nil
      }
    val in = fs.open(src)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  private[state] def nextEpoch(spark: SparkSession, stateDir: String): Long =
    // only signature-commit lines advance the epoch counter
    readManifest(spark, stateDir).count(_.contains("\"new_signatures\"")).toLong

  /** Append one manifest line via read + tmp-write + double rename — works
    * on stores with no append support (S3, local checksum FS alike); the
    * manifest is tiny (one line per commit), so the rewrite is O(commits).
    * This is the state dir's only commit point.
    *
    * Crash safety: the previous manifest is RENAMED to `.bak` (not
    * deleted) before the new file renames into place, and [[readManifest]]
    * falls back to `.bak` — a crash in the window between the two renames
    * loses at most the line being appended, never the commit history (a
    * delete-then-rename scheme would reset the epoch counter to 0).
    */
  private def appendManifest(spark: SparkSession, stateDir: String, line: String): Unit = {
    val lines = readManifest(spark, stateDir) :+ line
    val (fs, p) = fsFor(spark, manifestPath(stateDir))
    val tmp = new Path(manifestPath(stateDir) + ".tmp")
    val bak = new Path(manifestPath(stateDir) + ".bak")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    finally out.close()
    if (fs.exists(p)) {
      if (fs.exists(bak)) fs.delete(bak, false)
      if (!fs.rename(p, bak))
        throw new java.io.IOException(s"manifest commit failed: rename $p -> $bak")
    }
    commitTestHook("manifest")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"manifest commit failed: rename $tmp -> $p")
  }
}
