package graft.state

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.DedupConfig

/** Cross-epoch state for the sub-document dedup passes (`--para-dedup`,
  * `--span-dedup`): the set of paragraph / 3-sentence-span hashes whose
  * first occurrence already shipped in a committed epoch's cleaned text.
  *
  * Without this, "first occurrence corpus-wide survives" only holds within
  * one batch — at 10^12 docs the corpus is NEVER one batch, so a paragraph
  * kept in epoch 1 would be kept AGAIN by every later epoch that re-sees
  * it. With it, each epoch's election anti-joins the seen set first, and
  * appends the hashes it newly elected.
  *
  * Layout and visibility both come from the manifest, the state dir's one
  * commit point ([[Checkpoints]]):
  *  - hashes live under `stateDir/paras` and `stateDir/spans`, partitioned
  *    by the epoch that elected them (`epoch=E/` dirs);
  *  - the bucket layout is the published line's `signature_buckets`: the
  *    hash tables are written CLUSTERED BY (hash) into the same bucket
  *    count as the signature store, so the seen side of the anti-join, the
  *    side that grows with corpus age, scans with HashPartitioning and
  *    never re-shuffles; only the incoming batch exchanges (SubDocStateSpec
  *    pins the plan). 0 = plain parquet. Before a line publishes signatures,
  *    and in a rescan (whose line publishes a new layout), the pass writes
  *    with the caller's `stateBuckets` — the rule the signature store's own
  *    ingest follows, so the line then publishes the layout already written;
  *  - a batch's append OVERWRITES its own epoch partition, and readers only
  *    trust partitions with `subdoc_from <= epoch < nextEpoch`. Hashes
  *    written by an epoch whose line never became durable are invisible and
  *    simply overwritten on re-run: the append is idempotent without its
  *    own commit protocol. A `forceRescan` line records its epoch as
  *    `subdoc_from`, so every pre-rescan partition turns invisible with the
  *    line that publishes the rescan; deleting them is garbage collection,
  *    done by the next sweep under the lease ([[sweep]]).
  *
  * Reference analog: none — the reference dedups whole files in one
  * process; epoch-spanning sub-document state is what the webtext +
  * incremental posture adds (SURVEY §2.9 / round-5 deltas).
  */
object SubDocState {

  def parasPath(stateDir: String) = s"$stateDir/paras"
  def spansPath(stateDir: String) = s"$stateDir/spans"

  /** The epoch tag appends will carry: the epoch the NEXT signature commit
    * gets. Reading strictly below it hides any crashed epoch's orphans.
    */
  def nextEpoch(spark: SparkSession, stateDir: String): Long =
    Checkpoints.nextEpoch(spark, stateDir)

  /** Deterministic per-path catalog name (in-memory catalog is
    * per-session; any session derives the same name for the same files).
    */
  private[state] def tableName(prefix: String, path: Path): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(path.toString.getBytes(UTF_8))
    prefix + digest.take(6).map(b => f"$b%02x").mkString
  }

  private def resolved(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p)
  }

  private def partitions(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
      .map(_.getPath)

  /** Register (if absent) the epoch-partitioned, hash-bucketed table over
    * `path` and return its name. Unlike the signature table, the schema is
    * fixed, so registration needs no existing files (first append creates
    * the table's first partition).
    */
  private def ensureTable(spark: SparkSession, path: String, hashCol: String,
                          buckets: Int): String = {
    val root = resolved(spark, path)
    // keyed by the bucket count too: after a rescan re-layouts the table,
    // an entry declaring the old count must never be reused
    val tbl = tableName(s"graft_${hashCol}_${buckets}_", root)
    // CREATE TABLE does not create its LOCATION, and MSCK throws on a
    // missing dir — the first append needs both to exist
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    if (!spark.catalog.tableExists(tbl)) {
      spark.sql(
        s"""CREATE TABLE $tbl ($hashCol STRING, epoch BIGINT) USING PARQUET
           |PARTITIONED BY (epoch)
           |CLUSTERED BY ($hashCol) SORTED BY ($hashCol) INTO $buckets BUCKETS
           |LOCATION '${root.toString}'""".stripMargin)
      // one full partition recovery at registration — the only moment the
      // session catalog can be arbitrarily behind the files
      spark.sql(s"MSCK REPAIR TABLE $tbl")
    } else {
      spark.catalog.refreshTable(tbl)
      // partitions committed by another session (or a later epoch of this
      // one) exist on disk but not in the catalog entry. Sync ONLY the
      // missing ones: a one-level listing of epoch= dirs plus a catalog
      // read — never a repeated MSCK, whose recursive every-file walk
      // grows with corpus age (thousands of epochs × object-store listing
      // per seen()/append() call was an O(corpus-age) fixed cost per epoch)
      val onDisk = partitions(fs, root).map(_.getName).toSet
      val inCatalog = spark.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0)).toSet
      val missing = (onDisk -- inCatalog).toSeq.sorted
      if (missing.nonEmpty)
        spark.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS " +
          missing.map(d => s"PARTITION ($d)").mkString(" "))
    }
    tbl
  }

  /** Hashes elected by committed epochs since the last rescan (from the
    * published `subdoc_from` to strictly below `below`): the `seen` input
    * for this epoch's election. None when nothing committed — callers then
    * skip the anti-join entirely (epoch-1 plan unchanged).
    */
  def seen(spark: SparkSession, stateDir: String, path: String,
           hashCol: String, below: Long): Option[DataFrame] = {
    val root = resolved(spark, path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash during the very FIRST append leaves only _temporary files
    // under the root — schema inference over nothing-but-hidden-files
    // throws, where the idempotent-re-run contract demands None (exactly
    // what a pre-crash run saw). Committed data always means at least one
    // epoch= partition directory.
    if (!fs.exists(root) || partitions(fs, root).isEmpty) return None
    val snap = Checkpoints.snapshot(spark, stateDir)
    val df =
      if (snap.buckets > 0)
        spark.table(ensureTable(spark, path, hashCol, snap.buckets))
      else
        spark.read.option("basePath", root.toString).parquet(root.toString)
    // epoch is a partition column both ways: the filter prunes directories,
    // it never scans orphan (crashed-epoch) or pre-rescan files
    val committed = df.filter(col("epoch") >= snap.subdocFrom && col("epoch") < below)
      .select(col(hashCol))
    // a crashed epoch-1 leaves files but zero committed partitions; the
    // cheap emptiness probe keeps the epoch-1 re-run plan join-free
    if (committed.limit(1).isEmpty) None else Some(committed)
  }

  /** Idempotently record `hashes` (one column `hashCol`) as epoch `epoch`'s
    * elected winners: the epoch's own partition is OVERWRITTEN, no other
    * partition is touched. Safe to re-run after a crash; call under the
    * state lease (writers are serialized by the caller, as with every
    * other state mutation). The layout is the published one;
    * `bucketsIfFresh` applies only before a line publishes signatures, and
    * must then match the layout that line will publish.
    */
  def append(spark: SparkSession, stateDir: String, path: String,
             hashCol: String, hashes: DataFrame, epoch: Long,
             bucketsIfFresh: Int = 0): Unit =
    write(spark, path, hashCol, hashes, epoch,
      Checkpoints.snapshot(spark, stateDir).layout(rescan = false, bucketsIfFresh))

  private def write(spark: SparkSession, path: String, hashCol: String,
                    hashes: DataFrame, epoch: Long, buckets: Int): Unit =
    if (buckets > 0) {
      val tbl = ensureTable(spark, path, hashCol, buckets)
      // the winners frame READS the seen table (the anti-join), so a
      // direct INSERT OVERWRITE into the same table is (rightly) rejected
      // as a self-overwrite; staging the winners to a scratch dir cuts the
      // lineage — it is batch-sized (distinct hashes, never text) and
      // crash-safe (both the staging write and the INSERT are overwrites)
      val staging = new Path(resolved(spark, path).toString + s".staging-$epoch")
      val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      hashes.select(col(hashCol)).write.mode("overwrite").parquet(staging.toString)
      spark.read.parquet(staging.toString).createOrReplaceTempView(s"${tbl}_in")
      // static-partition INSERT OVERWRITE: replaces exactly epoch=E,
      // bucketed by the table's layout — one writer task per bucket
      spark.sql(
        s"""INSERT OVERWRITE TABLE $tbl PARTITION (epoch=$epoch)
           |SELECT /*+ REPARTITION($buckets, $hashCol) */ $hashCol
           |FROM ${tbl}_in""".stripMargin)
      spark.catalog.dropTempView(s"${tbl}_in")
      fs.delete(staging, true)
    } else {
      hashes.select(col(hashCol))
        .write.mode("overwrite")
        .parquet(s"${resolved(spark, path)}/epoch=$epoch")
    }

  /** Garbage-collect what the published `subdoc_from` hides: every
    * partition below it, then a table root left without partitions. Called
    * by [[Checkpoints]]' sweep, under the lease.
    */
  private[state] def sweep(spark: SparkSession, stateDir: String, from: Long): Unit =
    Seq(parasPath(stateDir), spansPath(stateDir)).map(resolved(spark, _)).foreach { root =>
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) {
        val (hidden, kept) = partitions(fs, root)
          .partition(_.getName.stripPrefix("epoch=").toLong < from)
        hidden.foreach(fs.delete(_, true))
        if (kept.isEmpty) fs.delete(root, true)
      }
    }

  /** The incremental `--para-dedup` pass: clean `df` against the seen set,
    * record the batch's newly-elected paragraph hashes for the next epoch.
    * The append is an eager (small) action — distinct hashes only, never
    * text; the returned frame is lazy as usual. Re-running after a crash
    * overwrites the same epoch partition and reads the same seen set, so
    * the cleaned text is reproduced bit-identically. `cfg` is the epoch's
    * config: its layout, its seen-side prune and whether it rescans.
    */
  def dedupParagraphsIncremental(spark: SparkSession, stateDir: String,
                                 df: DataFrame, idCol: String, textCol: String,
                                 cfg: DedupConfig = DedupConfig()): DataFrame = {
    import graft.text.ParagraphDedup._
    incremental(spark, stateDir, cfg, parasPath(stateDir), "para_hash",
      explodeParagraphs(df, idCol, textCol).select("para_hash"),
      s => winners(df, idCol, textCol, seen = s),
      s => dedupParagraphs(df, idCol, textCol, seen = s))
  }

  /** The incremental `--span-dedup` pass; see
    * [[dedupParagraphsIncremental]] for the contract.
    */
  def dedupSpansIncremental(spark: SparkSession, stateDir: String,
                            df: DataFrame, idCol: String, textCol: String,
                            cfg: DedupConfig = DedupConfig()): DataFrame = {
    import graft.text.SpanDedup._
    incremental(spark, stateDir, cfg, spansPath(stateDir), "h",
      batchHashes(df, idCol, textCol),
      s => winners(df, idCol, textCol, seen = s),
      s => dedupSpans(df, idCol, textCol, seen = s))
  }

  /** One incremental pass over the table at `path`: elect `batchHashes`'
    * winners against the seen set, append them, and clean with the same
    * seen set.
    */
  private def incremental(spark: SparkSession, stateDir: String, cfg: DedupConfig,
                          path: String, hashCol: String, batchHashes: DataFrame,
                          winners: Option[DataFrame] => DataFrame,
                          clean: Option[DataFrame] => DataFrame): DataFrame = {
    // epoch + seen snapshot are read UNDER the same lease as the append:
    // read-then-lock would let two drivers both observe epoch e, serialize
    // on the lock, and have the second INSERT OVERWRITE the first's
    // committed epoch-e winners partition — hashes that shipped in the
    // first driver's cleaned text would vanish from the seen set and
    // re-elect in every later epoch. The seen frame is epoch-scoped
    // (epoch < e), so returning it for the lazy cleaned output stays
    // snapshot-correct after release.
    val s = Checkpoints.withStateLock(spark, stateDir) {
      val e = nextEpoch(spark, stateDir)
      // a rescan elects against nothing: its line will hide every earlier
      // partition
      val s0 = if (cfg.forceRescan) None else seen(spark, stateDir, path, hashCol, e)
      // slice-keyed prune (state/SlicePrune): the seen table is the
      // CORPUS-aged side here too — and at tens of paragraphs per doc it is
      // the largest state table of all. Sketch the batch's hashes once
      // (one slim aggregation; the sketch frame never carries text) and
      // filter the seen scan — both consumers (the winners' anti-join and
      // the cleaning join) read the pruned frame; exact at any fpp, since a
      // pruned-out seen row could never have matched a batch hash.
      val pruned =
        if (cfg.stateBloomFpp > 0)
          s0.map(t => SlicePrune.pruneByKeys(t, hashCol, batchHashes, hashCol,
            cfg.stateBloomExpected, cfg.stateBloomFpp))
        else s0
      write(spark, path, hashCol, winners(pruned), e,
        Checkpoints.snapshot(spark, stateDir).layout(cfg.forceRescan, cfg.stateBuckets))
      pruned
    }
    clean(s)
  }
}
