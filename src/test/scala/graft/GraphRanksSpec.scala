package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** The nation-graph PageRanks: their rounds run in one task, their build
  * starts no job, and the rounding equals Spark's. */
class GraphRanksSpec extends SparkSpec {

  test("graph_pagerank and graph_ppr start no job in their build and at most 8 in all") {
    val sc = spark.sparkContext
    for (name <- Seq("graph_pagerank", "graph_ppr")) {
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
    val edges = Seq((0L, 1L, 3L), (1L, 0L, 1L), (1L, 2L, 1L), (2L, 0L, 2L))
    val ranks = GraphQueries.rankRounds(edges, None)
    assert(ranks.map(_._1) == Seq(0L, 1L, 2L))
    assert(math.abs(ranks.map(_._2).sum - 1.0) < 1e-5, ranks)
    // the order the edges arrive in does not matter
    assert(GraphQueries.rankRounds(edges.reverse, None) == ranks)
    val ppr = GraphQueries.rankRounds(edges, Some(0L)).toMap
    assert(ppr(0L) > ppr(1L) && ppr(1L) > 0.0, ppr)
    assert(GraphQueries.rankRounds(Nil, None).isEmpty)
    val tooMany = for (s <- 0L until 26L; d <- 0L until 25L) yield (s, d, 1L)
    val e = intercept[IllegalArgumentException](GraphQueries.rankRounds(tooMany, None))
    assert(e.getMessage.contains("650"), e.getMessage)
  }
}
