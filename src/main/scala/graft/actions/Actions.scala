package graft.actions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Action planning over a clusters table — the reference's stage 7, which
  * is specified by config/types/CLI but stubbed in code (image-deduper
  * `src/types.rs:86-114` ActionType/ActionResult, `src/cli.rs:27-37`,
  * executor stub `src/action.rs:1`, safety stub `src/safety.rs:1-14`):
  * every non-representative member of a multi-row cluster gets one action
  * row pointing at its cluster's representative ("original").
  *
  * Planning is separated from execution exactly like the reference's
  * dry-run default (`config.rs:39,99`): the output is a declarative
  * `actions` table; an executor (table delete / tombstone write) consumes
  * it downstream. Safety invariants the reference's `safety.rs` intended
  * are structural here: a representative can never be its own duplicate
  * (filter), and every action row names an original in the same cluster
  * (equi-join on cluster_id).
  */
object Actions {

  val ValidActions = Set("move", "delete", "symlink")

  /** Plan actions from a clusters frame with columns
    * (id, cluster_id, is_representative).
    *
    * Output: (id, original_id, action, dry_run, success, error) —
    * the ActionResult row shape (`types.rs:99-114`). `success`/`error` are
    * filled by the executor; the planner emits success=true/error=null as
    * the dry-run result, matching the reference's dry-run logging path.
    *
    * Scale shape: one shuffle on cluster_id; the representative side has
    * exactly one row per cluster, so the join never amplifies.
    */
  def plan(clusters: DataFrame, action: String = "symlink",
           dryRun: Boolean = true): DataFrame = {
    require(ValidActions.contains(action), s"unknown action $action")
    // min-id per cluster, not a bare projection: the dual malformation
    // (a foreign table with SEVERAL representatives in one cluster) would
    // otherwise fan the equi-join out into one action row per rep —
    // executing each duplicate multiple times against different
    // "originals" and inflating the executed ledger. The engine's own
    // tables carry exactly one rep (the min id, oracled per-row), so this
    // aggregate is the identity there.
    val reps = clusters.filter(col("is_representative"))
      .groupBy(col("cluster_id"))
      .agg(min(col("id")).as("original_id"))
    // LEFT join: a malformed clusters table (a cluster with NO
    // representative — foreign or hand-edited input; the engine's own
    // tables carry exactly one, oracled per-row by q_dedup_invariants)
    // must surface its members as error rows, not silently drop them from
    // the plan and keep the duplicates forever
    clusters.filter(!col("is_representative"))
      .join(reps, Seq("cluster_id"), "left")
      .select(
        col("id"),
        col("original_id"),
        lit(action).as("action"),
        lit(dryRun).as("dry_run"),
        col("original_id").isNotNull.as("success"),
        when(col("original_id").isNull, lit("missing_representative"))
          .otherwise(lit(null).cast("string")).as("error"))
  }

  /** Execute a planned actions table against a universe of live ids — the
    * reference's missing stage 7 executor (ActionResult fill,
    * `types.rs:99-114`; validate-before-act, `safety.rs` intent). Purely
    * declarative: validates that both the duplicate and its original still
    * exist (F6 validate-exists), fills `success`/`error`, and flips
    * `dry_run` off. Row-level side effects (tombstones, backups) are
    * applied by the state layer from this result table —
    * `Checkpoints.executeEpoch`.
    *
    * Scale shape: two left joins on id against a 1-column universe —
    * broadcastable when the plan is small, shuffle-partitioned otherwise;
    * no row amplification.
    */
  def execute(plan: DataFrame, universe: DataFrame): DataFrame = {
    val u = universe.select(col("id")).distinct()
    val dupOk = u.withColumn("__dup_ok", lit(true))
    val origOk = u.select(col("id").as("original_id")).withColumn("__orig_ok", lit(true))
    plan
      .select("id", "original_id", "action")
      .join(dupOk, Seq("id"), "left")
      .join(origOk, Seq("original_id"), "left")
      .select(
        col("id"),
        col("original_id"),
        col("action"),
        lit(false).as("dry_run"),
        (col("__dup_ok").isNotNull && col("__orig_ok").isNotNull).as("success"),
        when(col("__dup_ok").isNull, lit("missing_id"))
          .when(col("__orig_ok").isNull, lit("missing_original"))
          .otherwise(lit(null).cast("string")).as("error"))
  }

  /** Rows removed from the live set by successful executed actions: delete
    * and move vacate the original location; symlink keeps the row (it now
    * points at its original via the actions table itself).
    */
  def tombstones(executed: DataFrame): DataFrame =
    executed.filter(col("success") && col("action").isin("delete", "move"))
      .select("id", "original_id", "action")
}
