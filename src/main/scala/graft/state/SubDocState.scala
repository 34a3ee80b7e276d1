package graft.state

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Layout (mirrors the signature store's crash-safety story):
  *  - hashes live under `stateDir/paras` and `stateDir/spans`, partitioned
  *    by the epoch that elected them (`epoch=E/` dirs);
  *  - a batch's append OVERWRITES its own epoch partition, and readers
  *    only trust partitions with `epoch < nextEpoch` (the next epoch the
  *    manifest will commit) — so hashes written by an epoch that later
  *    crashed are invisible and simply overwritten on re-run: the append
  *    is idempotent without its own commit protocol;
  *  - when the state dir records a bucket layout (`_subdoc_layout.json`),
  *    the hash tables are written CLUSTERED BY (hash) into the
  *    same bucket count — the seen side of the anti-join, the side that
  *    grows with corpus age, then scans with HashPartitioning and never
  *    re-shuffles; only the incoming batch exchanges (SubDocStateSpec pins
  *    the plan). Plain layout falls back to plain parquet.
  *
  * Reference analog: none — the reference dedups whole files in one
  * process; epoch-spanning sub-document state is what the webtext +
  * incremental posture adds (SURVEY §2.9 / round-5 deltas).
  */
object SubDocState {

  def parasPath(stateDir: String) = s"$stateDir/paras"
  def spansPath(stateDir: String) = s"$stateDir/spans"
  def layoutPath(stateDir: String) = s"$stateDir/_subdoc_layout.json"

  /** Sticky bucket layout for the hash tables. The sub-document passes run
    * BEFORE the epoch's signature commit (the cleaned text is the commit's
    * input), so on a fresh state dir no manifest line has published the
    * signature store's layout yet — the hash tables record their own marker at first
    * append and every later epoch follows it, whatever the caller asks
    * (mixing bucketed and plain files under one table would silently
    * mis-bucket the seen scan). 0 = plain parquet.
    */
  private def buckets(spark: SparkSession, stateDir: String,
                      desiredIfFresh: Int): Int = {
    val root = resolved(spark, layoutPath(stateDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      markerInt(fs, root, "subdoc_buckets").getOrElse(0)
    } else {
      val out = fs.create(root, true)
      try out.write(s"""{"subdoc_buckets":$desiredIfFresh}""".getBytes(UTF_8))
      finally out.close()
      desiredIfFresh
    }
  }

  /** Layout already recorded, else 0 — the read-side resolution (readers
    * never create the marker: a reader racing the first writer must see
    * plain-or-nothing, not invent a layout).
    */
  private def recordedBuckets(spark: SparkSession, stateDir: String): Int = {
    val root = resolved(spark, layoutPath(stateDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else buckets(spark, stateDir, 0)
  }

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

  /** First integer recorded for `key` in a small JSON marker file, if the
    * file exists.
    */
  private def markerInt(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                               key: String): Option[Int] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      ("\"" + key + "\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(txt).map(_.group(1).toInt)
    }

  private def resolved(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p)
  }

  /** Register (if absent) the epoch-partitioned, hash-bucketed table over
    * `path` and return its name. Unlike the signature table, the schema is
    * fixed, so registration needs no existing files (first append creates
    * the table's first partition).
    */
  private def ensureTable(spark: SparkSession, prefix: String, path: String,
                          hashCol: String, buckets: Int): String = {
    val root = resolved(spark, path)
    val tbl = tableName(prefix, root)
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
      val onDisk = fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
        .map(_.getPath.getName).toSet
      val inCatalog = spark.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0)).toSet
      val missing = (onDisk -- inCatalog).toSeq.sorted
      if (missing.nonEmpty)
        spark.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS " +
          missing.map(d => s"PARTITION ($d)").mkString(" "))
    }
    tbl
  }

  /** Hashes elected by committed epochs (strictly below `below`): the
    * `seen` input for this epoch's election. None when nothing committed —
    * callers then skip the anti-join entirely (epoch-1 plan unchanged).
    */
  def seen(spark: SparkSession, stateDir: String, path: String,
           hashCol: String, below: Long): Option[DataFrame] = {
    val root = resolved(spark, path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    // a crash during the very FIRST append leaves only _temporary files
    // under the root — schema inference over nothing-but-hidden-files
    // throws, where the idempotent-re-run contract demands None (exactly
    // what a pre-crash run saw). Committed data always means at least one
    // epoch= partition directory.
    if (!fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("epoch=")))
      return None
    val b = recordedBuckets(spark, stateDir)
    val df =
      if (b > 0)
        spark.table(ensureTable(spark, s"graft_${hashCol}_", path, hashCol, b))
      else
        spark.read.option("basePath", root.toString).parquet(root.toString)
    // epoch is a partition column both ways: the filter prunes directories,
    // it never scans orphan (crashed-epoch) files
    val committed = df.filter(col("epoch") < below).select(col(hashCol))
    // a crashed epoch-1 leaves files but zero committed partitions; the
    // cheap emptiness probe keeps the epoch-1 re-run plan join-free
    if (committed.limit(1).isEmpty) None else Some(committed)
  }

  /** Idempotently record `hashes` (one column `hashCol`) as epoch `epoch`'s
    * elected winners: the epoch's own partition is OVERWRITTEN, no other
    * partition is touched. Safe to re-run after a crash; call under the
    * state lease (writers are serialized by the caller, as with every
    * other state mutation).
    */
  def append(spark: SparkSession, stateDir: String, path: String,
             hashCol: String, hashes: DataFrame, epoch: Long,
             bucketsIfFresh: Int = 0): Unit = {
    val b = buckets(spark, stateDir, bucketsIfFresh)
    if (b > 0) {
      val tbl = ensureTable(spark, s"graft_${hashCol}_", path, hashCol, b)
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
           |SELECT /*+ REPARTITION($b, $hashCol) */ $hashCol
           |FROM ${tbl}_in""".stripMargin)
      spark.catalog.dropTempView(s"${tbl}_in")
      fs.delete(staging, true)
    } else {
      hashes.select(col(hashCol))
        .write.mode("overwrite")
        .parquet(s"${resolved(spark, path)}/epoch=$epoch")
    }
  }

  /** Remove a hash table (the `--force-rescan` path: signatures are
    * overwritten, so prior epochs' sub-document winners must not leak into
    * the rescan's elections) — files and the session's catalog entry both.
    */
  def wipe(spark: SparkSession, path: String, hashCol: String): Unit = {
    val root = resolved(spark, path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(s"graft_${hashCol}_", root)}")
  }

  /** Both hash tables plus the layout marker — the `--force-rescan` reset
    * (a rescan may re-layout, exactly like the signature store).
    */
  def wipeAll(spark: SparkSession, stateDir: String): Unit = {
    wipe(spark, parasPath(stateDir), "para_hash")
    wipe(spark, spansPath(stateDir), "h")
    val marker = resolved(spark, layoutPath(stateDir))
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) fs.delete(marker, false)
  }

  /** The incremental `--para-dedup` pass: clean `df` against the seen set,
    * record the batch's newly-elected paragraph hashes for the next epoch.
    * The append is an eager (small) action — distinct hashes only, never
    * text; the returned frame is lazy as usual. Re-running after a crash
    * overwrites the same epoch partition and reads the same seen set, so
    * the cleaned text is reproduced bit-identically.
    */
  def dedupParagraphsIncremental(spark: SparkSession, stateDir: String,
                                 df: DataFrame, idCol: String, textCol: String,
                                 stateBuckets: Int = 0,
                                 bloomFpp: Double = 0.0,
                                 bloomExpected: Long = 4000000L): DataFrame = {
    // epoch + seen snapshot are read UNDER the same lease as the append:
    // read-then-lock would let two drivers both observe epoch e, serialize
    // on the lock, and have the second INSERT OVERWRITE the first's
    // committed epoch-e winners partition — paragraphs that shipped in the
    // first driver's cleaned text would vanish from the seen set and
    // re-elect in every later epoch. The seen frame is epoch-scoped
    // (epoch < e), so returning it for the lazy cleaned output stays
    // snapshot-correct after release.
    val s = Checkpoints.withStateLock(spark, stateDir) {
      val e = nextEpoch(spark, stateDir)
      // slice-keyed prune (state/SlicePrune): the seen table is the
      // CORPUS-aged side here too — and at tens of paragraphs per doc it is
      // the largest state table of all. Sketch the batch's para hashes once
      // (one slim aggregation; the sketch frame never carries text) and
      // filter the seen scan — both consumers (winners' anti-join and the
      // election's join) read the pruned frame; exact at any fpp.
      val s0 = seen(spark, stateDir, parasPath(stateDir), "para_hash", e)
      val pruned =
        if (bloomFpp > 0)
          s0.map(t => SlicePrune.pruneByKeys(t, "para_hash",
            graft.text.ParagraphDedup.explodeParagraphs(df, idCol, textCol)
              .select("para_hash"),
            "para_hash", bloomExpected, bloomFpp))
        else s0
      append(spark, stateDir, parasPath(stateDir), "para_hash",
        graft.text.ParagraphDedup.winners(df, idCol, textCol, seen = pruned), e,
        bucketsIfFresh = stateBuckets)
      pruned
    }
    graft.text.ParagraphDedup.dedupParagraphs(df, idCol, textCol, seen = s)
  }

  /** The incremental `--span-dedup` pass; see
    * [[dedupParagraphsIncremental]] for the contract.
    */
  def dedupSpansIncremental(spark: SparkSession, stateDir: String,
                            df: DataFrame, idCol: String, textCol: String,
                            stateBuckets: Int = 0,
                            bloomFpp: Double = 0.0,
                            bloomExpected: Long = 4000000L): DataFrame = {
    // epoch + seen snapshot under the same lease as the append — see
    // [[dedupParagraphsIncremental]] for the overwrite race this prevents
    val s = Checkpoints.withStateLock(spark, stateDir) {
      val e = nextEpoch(spark, stateDir)
      // same slice-keyed prune as the paragraph pass; exact for the span
      // election too — its seen join is a LEFT-with-marker, and a pruned-out
      // seen row could never have matched a batch span hash
      val s0 = seen(spark, stateDir, spansPath(stateDir), "h", e)
      val pruned =
        if (bloomFpp > 0)
          s0.map(t => SlicePrune.pruneByKeys(t, "h",
            graft.text.SpanDedup.batchHashes(df, idCol, textCol), "h",
            bloomExpected, bloomFpp))
          else s0
      append(spark, stateDir, spansPath(stateDir), "h",
        graft.text.SpanDedup.winners(df, idCol, textCol, seen = pruned), e,
        bucketsIfFresh = stateBuckets)
      pruned
    }
    graft.text.SpanDedup.dedupSpans(df, idCol, textCol, seen = s)
  }
}
