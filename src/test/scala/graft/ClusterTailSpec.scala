package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cluster.Clustering
import graft.pipeline.DedupPipeline
import graft.state.Materializer

/** The cluster tail ([[DedupPipeline.clusterTail]]): one aggregate for
  * cluster size and representative, exactness read off the hash groups by
  * id — equal to the composition it replaced, and pinned in plan shape.
  */
class ClusterTailSpec extends SparkTestBase {
  import spark.implicits._

  /** slim (id, order_len, content_hash), its hash groups (content_hash,
    * id = group min, hash_n) and the edges: exact groups (one of 80
    * members), near chains, singletons, and ties on order_len.
    */
  private lazy val fixture: (DataFrame, DataFrame, DataFrame) = {
    val rows = (0L until 400L).map { i =>
      val hash =
        if (i < 80) "mega" // an exact group inside a cluster of > 64 members
        else if (i < 140) s"x${i % 20}" // twenty exact triples
        else s"u$i"
      (i, (i % 5).toInt * 10, hash)
    }
    val slim = rows.toDF("id", "order_len", "content_hash")
    val hashGroups = slim.groupBy("content_hash")
      .agg(min(col("id")).as("id"), count(lit(1)).as("hash_n"))
    val exact = Clustering.exactEdgesFrom(slim,
      hashGroups.select(col("content_hash"), col("id").as("root"), col("hash_n")),
      "id", "content_hash")
    // near chains: the mega group's min with a 10-link chain, an exact
    // triple with a plain chain, chains of plain rows; 300+ stay singletons
    val near = (Seq((0L, 200L)) ++ (200L until 210L).map(i => (i, i + 1)) ++
      Seq((81L, 220L), (220L, 221L)) ++ (230L until 260L).map(i => (i, i + 1)))
      .toDF("a", "b")
    (slim, hashGroups, exact.union(near))
  }

  /** The composition the tail replaced: `Clustering.clusters`, the three
    * kind joins, then a single-window top-1 per cluster.
    */
  private def oracle(slim: DataFrame, hashGroups: DataFrame, edges: DataFrame): DataFrame = {
    val clustered = Clustering.clusters(spark, slim, "id", edges)
    val clusterSizes = clustered.groupBy("cluster_id").agg(count(lit(1)).as("cluster_n"))
    val labelled = clustered
      .join(slim, "id")
      .join(hashGroups.select("content_hash", "hash_n"), "content_hash")
      .join(clusterSizes, "cluster_id")
      .withColumn("kind",
        when(col("hash_n") > 1, lit("exact"))
          .when(col("cluster_n") > 1, lit("near"))
          .otherwise(lit("unique")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("order_len").desc, col("id").asc)
    labelled.withColumn("rn", row_number().over(w))
      .select(col("id"), col("cluster_id"), (col("rn") === 1).as("is_representative"),
        col("kind"))
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long, Boolean, String)] =
    df.select("id", "cluster_id", "is_representative", "kind")
      .as[(Long, Long, Boolean, String)].collect().toSet

  test("the one-aggregate tail equals clusters + kind joins + window top-1") {
    val (slim, hashGroups, edges) = fixture
    val got = rowsOf(DedupPipeline.clusterTail(slim, hashGroups,
      Clustering.unionFind(spark, edges)))
    val expected = rowsOf(oracle(slim, hashGroups, edges))
    assert(got.size == 400 && got == expected,
      s"differs on ${(got diff expected).take(10)} vs ${(expected diff got).take(10)}")
    // the fixture reaches every kind, a cluster over 64 members, and an
    // order_len tie decided by id
    val kinds = got.groupBy(_._4).map { case (k, v) => k -> v.size }
    assert(kinds.keySet == Set("exact", "near", "unique"), kinds)
    assert(got.groupBy(_._2).values.exists(_.size > 64))
    assert(got.count(_._3) == got.map(_._2).size)
  }

  test("plan: the tail runs four exchanges with AQE off") {
    val conf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val (slim0, hashGroups0, edges) = fixture
      // the inputs as the pipeline hands them over: slim materialized,
      // hash groups cached, labels straight from union-find
      val slim = Materializer.local(slim0)
      val hashGroups = hashGroups0.cache()
      val labels = Clustering.unionFind(spark, edges)
      def exchanges(df: DataFrame) = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.length
      val tail = DedupPipeline.clusterTail(slim, hashGroups, labels)
      // past union-find's own labelling exchange: slim and the hash groups
      // to id (the labels come keyed by id), the partial aggregate to
      // cluster_id, and the rows to cluster_id for the one join back
      assert(exchanges(tail) - exchanges(labels) == 4,
        s"expected 4 exchanges past the labels', got:\n${tail.queryExecution.executedPlan}")
      hashGroups.unpersist()
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
