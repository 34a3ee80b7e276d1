package graft.perfbench

import graft.pages.TruthPair

/** One row of a committed clusters table. */
final case class ClusterRow(id: String, clusterId: String, rep: Boolean, kind: String)

/** The correctness gate every timed step passes through.
  *
  * @param recallHits  planted dup pairs (`expect_dup`) in one cluster
  * @param recallBase  planted dup pairs
  * @param falseMerges planted non-dup pairs (`unrelated`) in one cluster
  * @param falseBase   planted non-dup pairs
  */
final case class Gate(recallHits: Long, recallBase: Long, falseMerges: Long,
                      falseBase: Long, problems: Seq[String]) {
  def recall: Double = recallHits.toDouble / recallBase
  def falseMergeRate: Double = falseMerges.toDouble / falseBase
  def ok: Boolean = problems.isEmpty
  def and(more: Seq[String]): Gate = copy(problems = problems ++ more)
}

object Gate {
  /** The recall bar PipelineSpec and SkewSpec hold the engine to. */
  val MinRecall = 0.99

  /** Every page id sits in exactly one cluster with exactly one
    * representative; planted-truth recall is at least [[MinRecall]]; no
    * planted non-dup pair is merged.
    */
  def check(rows: Seq[ClusterRow], ids: Set[String], truth: Seq[TruthPair]): Gate = {
    val problems = Seq.newBuilder[String]
    val clusterOf = rows.map(r => r.id -> r.clusterId).toMap
    if (clusterOf.size != rows.length)
      problems += s"${rows.length - clusterOf.size} id(s) sit in more than one cluster row"
    if (clusterOf.keySet != ids)
      problems += s"clustered ids differ from the input: " +
        s"${(ids -- clusterOf.keySet).size} missing, ${(clusterOf.keySet -- ids).size} extra"
    val badReps = rows.groupBy(_.clusterId).count { case (_, m) => m.count(_.rep) != 1 }
    if (badReps > 0) problems += s"$badReps cluster(s) without exactly one representative"
    def together(t: TruthPair) =
      clusterOf.get(t.urlA).exists(c => clusterOf.get(t.urlB).contains(c))
    val (dup, nonDup) = truth.partition(_.expect_dup)
    val g = Gate(dup.count(together), dup.length, nonDup.count(together), nonDup.length, Nil)
    if (g.recallBase == 0 || g.falseBase == 0) problems += "empty planted truth"
    else {
      if (g.recall < MinRecall)
        problems += f"pair recall ${g.recall}%.4f (${g.recallHits}/${g.recallBase}) < $MinRecall"
      if (g.falseMerges > 0)
        problems += s"${g.falseMerges}/${g.falseBase} planted non-dup pairs merged"
    }
    g.copy(problems = problems.result())
  }
}
