package graft.state

import org.apache.spark.sql.Observation

/** Counts that ride a job which already runs: a `Dataset.observe` metric is
  * read once its carrying action has finished, instead of paying a separate
  * count action.
  */
object Observed {

  /** Field `i` (in observe order) of `obs`'s metrics row, as a long. The
    * row arrives on the listener bus within ms of the action; the 120 s
    * bound only guards against a wedged bus, failing loudly instead of
    * hanging. An empty row means AQE's empty-relation propagation pruned
    * the metrics node — nothing flowed through it — and reads as 0.
    */
  def long(obs: Observation, i: Int = 0): Long = {
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(120, "s"))
    if (row.length == 0) 0L else row.getLong(i)
  }
}
