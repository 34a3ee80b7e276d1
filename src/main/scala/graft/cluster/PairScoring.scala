package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Where pairwise scores run. Pairs are generated on a coarse key (LSH
  * bucket, `source`, IVF cell: often fewer values than cores) and scores are
  * byte-light but CPU-dense (suffix-array LCS, `array_intersect`, quantized
  * dot), so on that key, or behind an exchange AQE coalesces by bytes,
  * scoring runs in one or two tasks (at sf0.1 `q_substring_containment`'s
  * all-pairs SA pass took 121 s that way and 8.4 s spread). The slim pairs
  * are therefore hashed on the unique pair key into a pinned count
  * (`REPARTITION_BY_NUM`, which AQE never coalesces) before anything
  * attaches. The exchange goes first because a score filter would be pushed
  * below a later repartition, which would then move only the survivors.
  *
  * The attach joins are the planner's choice ("To Partition, or Not to
  * Partition", SIGMOD 2021): a payload it broadcasts (estimate under
  * `spark.sql.autoBroadcastJoinThreshold`) keeps the pinned partitioning
  * and the score runs on every core; a larger one attaches by sort-merge
  * joins, which re-key on `id_a` then `id_b`, and the score runs in the
  * `id_b` join stage. No payload is broadcast by hint.
  */
object PairScoring {

  /** `pairs` hash-partitioned on `(id_a, id_b)` into `numShufflePartitions`
    * parts, then each non-`id` column `c` of `payload` attached as `c_a`
    * and `c_b`.
    *
    * @param payload keyed by `id`, which must be unique: a repeated id
    *                repeats its pairs (every caller's is unique already, and
    *                deduping here would add an exchange over the payload)
    * @param how     `inner` drops a pair with a side missing from `payload`,
    *                `left` keeps it with that side's columns null
    */
  def withSides(pairs: DataFrame, payload: DataFrame,
                how: String = "inner"): DataFrame = {
    val cols = payload.columns.filterNot(_ == "id").toSeq
    def side(s: String): DataFrame =
      payload.select(col("id").as(s"id_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
    pairs.repartition(pairs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
      .join(side("a"), Seq("id_a"), how)
      .join(side("b"), Seq("id_b"), how)
  }
}
