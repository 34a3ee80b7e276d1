package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stream-shaped operators. [[sessionize]]/[[sessionStats]] are batch
  * window transforms over the events table (oracle-checked by
  * `q_sessionize`); [[streamingIngest]] feeds a Structured Streaming
  * source into the batch-incremental state layer in graft.state, the
  * engine's incremental surface (the reference is pure batch with
  * persistent state, SURVEY.md §2.9).
  */
object StreamOps {

  /** Sessionization: a new session starts after a >30 min gap per user.
    * Pure window functions — lag + conditional cumulative sum — the batch
    * formulation of mapGroupsWithState sessionization, and the shape used
    * at scale (one shuffle on user_id, no per-group state object).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // millisecond precision (unix_timestamp truncates to whole seconds,
        // so a 1800.9 s gap read as 1800 would NOT split); the DuckDB
        // oracle compares epoch_ms identically. The cast accommodates
        // TIMESTAMP_NTZ inputs (parquet events table): unix_millis demands
        // TIMESTAMP, and under the engine's pinned UTC session timezone the
        // NTZ→TZ cast is an exact identity shift (no DST, no offset)
        (col("prev_ts").isNull ||
          unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > gapMinutes * 60000L)
          .cast("long"))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats from [[sessionize]] — count of sessions and
    * events per user (SQL-oracle-checkable).
    */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy("user_id")
      .agg(max("session_seq").as("n_sessions"), count(lit(1)).as("n_events"))

  /** Streaming INGESTION into the incremental state layer: every
    * micro-batch commits one epoch ([[graft.state.Checkpoints.runEpoch]]:
    * anti-join resume, quarantine, signature append, manifest line) via
    * `foreachBatch` — a continuously-arriving crawl feeds the same state
    * tables the batch engine clusters. Clustering deliberately does NOT
    * run per batch (it rewrites the clusters table and costs minutes at
    * scale): run `clusterEpoch`/`executeEpoch` on an operator cadence over
    * the same stateDir.
    *
    * Exactly-once by composition: `foreachBatch` replays a batch on
    * failure (at-least-once), and runEpoch's id anti-join makes the
    * replayed commit a no-op — the same idempotence contract the batch
    * resume path is gated on.
    *
    * Lock contention is EXPECTED under the documented cadence (a batch
    * `clusterEpoch`/`executeEpoch` holds the state lease for minutes while
    * micro-batches keep arriving), so a batch that finds the lease held
    * RETRIES with exponential backoff up to `lockWaitMs` instead of failing
    * the whole streaming query on first contention; only a lease still held
    * after the full wait (a wedged writer) propagates and stops the stream.
    */
  def streamingIngest(pages: DataFrame, idCol: String, textCol: String,
                      stateDir: String, checkpointLocation: String,
                      cfg: graft.pipeline.DedupConfig = graft.pipeline.DedupConfig(),
                      lockWaitMs: Long = 15L * 60 * 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val deadline = System.currentTimeMillis() + lockWaitMs
        var delayMs = 200L
        var done = false
        while (!done) {
          try {
            graft.state.Checkpoints.runEpoch(
              batch.sparkSession, batch.toDF(), idCol, textCol, stateDir, cfg)
            done = true
          } catch {
            case e: graft.state.Checkpoints.StateLockedException =>
              if (System.currentTimeMillis() + delayMs > deadline) throw e
              Thread.sleep(delayMs)
              delayMs = math.min(delayMs * 2, 10000L)
          }
        }
      }
      .start()
}
