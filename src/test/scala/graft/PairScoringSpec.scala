package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS,
  REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

import graft.cluster.PairScoring
import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}

/** `PairScoring.withSides`: the slim pairs pass a pinned pair-key exchange
  * whether the planner broadcasts the payload or sort-merge joins it, and
  * both plans return the same rows.
  */
class PairScoringSpec extends SparkTestBase {
  import spark.implicits._

  /** Thresholds under which the planner broadcasts the payload, or not. */
  private val branches = Seq("shuffled" -> "-1", "broadcast" -> (64L << 20).toString)

  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def eachBranch[T](body: String => T): Seq[(String, T)] =
    branches.map { case (name, threshold) =>
      name -> withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold)(body(name))
    }

  private def frontier(p: SparkPlan): Seq[SparkPlan] = p match {
    case e: ShuffleExchangeExec => Seq(e)
    case b: BroadcastExchangeExec => Seq(b)
    case r: ReusedExchangeExec => frontier(r.child)
    case other => other.children.flatMap(frontier)
  }

  /** The first exchanges down from `p` that are not a join's re-key. */
  private def pastRekeys(p: SparkPlan): Seq[SparkPlan] = frontier(p).flatMap {
    case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => pastRekeys(e.child)
    case e => Seq(e)
  }

  /** Asserts the shape under the score: the filter, or the inner join the
    * optimizer folded it into, whose condition reads `scoreInput`. On both
    * branches, going down through join re-keys (`ENSURE_REQUIREMENTS`)
    * only, the score meets exactly one pinned exchange: `REPARTITION_BY_NUM`, hash on exactly (id_a, id_b). On the
    * broadcast branch it is the nearest shuffle under the score and both
    * sides attach by broadcast; on the shuffled branch nothing is broadcast
    * and the score reads the sort-merge joins' re-keys.
    */
  private def assertPairShape(df: DataFrame, scoreInput: String, branch: String): Unit = {
    val plan = df.queryExecution.executedPlan
    def reads(e: Expression): Boolean = e.references.exists(_.name == scoreInput)
    val score = plan.collectFirst {
      case f: FilterExec if reads(f.condition) => f
      case j: BaseJoinExec if j.condition.exists(reads) => j
    }.getOrElse(fail(s"no filter or join condition reads $scoreInput:\n$plan"))
    def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case _ => Nil
    }
    val pinned = score.children.flatMap(pastRekeys).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_NUM && keys(e) == Seq("id_a", "id_b") => e
    }.distinct
    assert(pinned.length == 1,
      s"[$branch] expected one pinned (id_a, id_b) exchange under the score, got ${pinned.length}:\n$plan")
    val reached = score.children.flatMap(frontier)
    if (branch == "broadcast") {
      assert(reached.collect { case e: ShuffleExchangeExec => e }.distinct == pinned,
        s"[$branch] the pinned exchange is not the nearest shuffle under the score:\n$plan")
      assert(reached.count(_.isInstanceOf[BroadcastExchangeExec]) == 2,
        s"[$branch] both sides should attach by broadcast:\n$plan")
    } else {
      assert(score.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"[$branch] a payload was broadcast:\n$plan")
      assert(reached.forall {
        case e: ShuffleExchangeExec => e.shuffleOrigin == ENSURE_REQUIREMENTS
        case _ => false
      }, s"[$branch] the score should read the sort-merge joins' re-keys:\n$plan")
    }
  }

  private lazy val pairs = Seq((1L, 2L, "x"), (1L, 3L, "y"), (2L, 3L, "z"), (3L, 9L, "w"))
    .toDF("id_a", "id_b", "tag")
  private lazy val payload = Seq((1L, 10L, "p"), (2L, 20L, "q"), (3L, 30L, "r"))
    .toDF("id", "v", "s")

  test("withSides: slim pairs pass one pinned (id_a, id_b) exchange on both join plans (plan shape)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      eachBranch { branch =>
        val scored = PairScoring.withSides(pairs, payload)
          .withColumn("score", $"v_a" + $"v_b")
          .filter($"score" > 35L)
        assertPairShape(scored, "v_b", branch)
      }
    }
  }

  test("nearEdges with texts: the suffix-array slice's pairs pass the pinned exchange (plan shape)") {
    val pages = PagesGen.pages(spark, 6L, seed = 7L, tokensPerDoc = 120).toDF()
    val cfg = DedupConfig()
    withConf("spark.sql.adaptive.enabled" -> "false") {
      eachBranch { branch =>
        val sigs = DedupPipeline.signatures(pages, "url", "text", cfg)
        val edges = DedupPipeline.nearEdges(spark, sigs, cfg,
          texts = Some(DedupPipeline.normTexts(pages, "url", "text", cfg)))
        assertPairShape(edges, "norm_text_a", branch)
      }
    }
  }

  test("withSides: both join plans return the same rows, inner and left") {
    for (how <- Seq("inner", "left")) {
      val cols = Seq("id_a", "id_b", "tag", "v_a", "s_a", "v_b", "s_b")
      val results = eachBranch { _ =>
        val df = PairScoring.withSides(pairs, payload, how)
        (df.columns.toSet, df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq)
      }
      val Seq((_, (shuffledCols, shuffled)), (_, (broadcastCols, broadcast))) = results
      assert(shuffledCols == cols.toSet && broadcastCols == cols.toSet)
      assert(broadcast == shuffled, s"$how: broadcast $broadcast != shuffled $shuffled")
      // (3, 9): id 9 has no payload row — dropped by inner, kept with null
      // b-side columns by left (the suffix-array slice's fallback input)
      val expected = Seq("[1,2,x,10,p,20,q]", "[1,3,y,10,p,30,r]", "[2,3,z,20,q,30,r]") ++
        (if (how == "left") Seq("[3,9,w,30,r,null,null]") else Nil)
      assert(shuffled == expected.sorted, s"$how: $shuffled")
    }
  }
}
