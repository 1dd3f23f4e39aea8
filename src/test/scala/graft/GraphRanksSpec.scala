package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** The nation-graph queries: their rounds run in one task over the
  * collected edge list, their build starts no job, and the rounding equals
  * Spark's. */
class GraphRanksSpec extends SparkSpec {

  private val EdgeListQueries = Seq("graph_pagerank", "graph_ppr", "graph_wcc",
    "graph_label_prop", "graph_kcore", "graph_closeness", "graph_louvain_pass",
    "graph_bfs", "graph_clustering_coeff", "graph_modularity")

  test("the ten edge-list graph queries start no job in their build") {
    val sc = spark.sparkContext
    for (name <- EdgeListQueries) {
      val (df, buildJobs) = JobCount.of(sc)(Queries.byName(name).build(spark, sfDir))
      val (rows, runJobs) = JobCount.of(sc)(df.collect())
      assert(buildJobs == 0, s"$name: $buildJobs jobs in the build")
      assert(buildJobs + runJobs <= 8, s"$name: $buildJobs + $runJobs jobs")
      assert(rows.nonEmpty, name)
      info(s"$name: $runJobs jobs")
    }
  }

  test("round6 equals Spark's round(x, 6) on half-way and near-half-way doubles") {
    import spark.implicits._
    val ties = Seq(0.0000005, 0.0000015, 0.1234565, 0.0400005, 1.0000005,
      0.2500005, 0.9999995, 2.5e-7, 0.0342135, 0.0065555)
    val xs = ties.flatMap(x => Seq(x, math.nextUp(x), math.nextDown(x),
      x + 1e-12, x - 1e-12, -x)) ++ Seq(0.0, 1.0 / 3, 2.0 / 3, 0.15 / 7)
    val spark6 = xs.toDF("x").select(col("x"), round(col("x"), 6)).collect()
    spark6.foreach { r =>
      val x = r.getDouble(0)
      assert(GraphQueries.round6(x) == r.getDouble(1), s"x=$x")
    }
  }

  test("rankRounds keeps the mass of a graph without dangling nodes and " +
      "refuses more edges than nation pairs") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 3L), (1L, 0L, 1L), (1L, 2L, 1L), (2L, 0L, 2L))
    val ranks = GraphQueries.rankRounds(edges, None)
    assert(ranks.map(_._1) == Seq(0L, 1L, 2L))
    assert(math.abs(ranks.map(_._2).sum - 1.0) < 1e-5, ranks)
    // the order the edges arrive in does not matter
    assert(GraphQueries.rankRounds(edges.reverse, None) == ranks)
    val ppr = GraphQueries.rankRounds(edges, Some(0L)).toMap
    assert(ppr(0L) > ppr(1L) && ppr(1L) > 0.0, ppr)
    assert(GraphQueries.rankRounds(Nil, None).isEmpty)
    // the edge-list helper the queries run it through holds the limit
    val tooMany = for (s <- 0L until 26L; d <- 0L until 25L) yield (s, d, 1L)
    val e = intercept[Exception](GraphQueries
      .onEdgeList(tooMany.toDF("src", "dst", "w"))(GraphQueries.rankRounds(_, None))
      .collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("650")), e)
  }

  test("kcorePeel keeps the 2-core and throws on a graph that needs more " +
      "than KCoreRounds peels") {
    // a triangle with a two-edge tail: the tail peels off in two rounds
    val tailed = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    assert(GraphQueries.kcorePeel(tailed) == Seq((0L, 2L), (1L, 2L), (2L, 2L)))
    // a path loses its two ends per round, so it is still shrinking after
    // KCoreRounds rounds
    val n = 2L * GraphQueries.KCoreRounds + 4
    val path = (0L until n - 1).map(i => (i, i + 1, 1L))
    val e = intercept[IllegalStateException](GraphQueries.kcorePeel(path))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }
}
