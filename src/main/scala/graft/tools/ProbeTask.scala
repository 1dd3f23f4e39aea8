package graft.tools

import graft.Session

/** Dev micro-probe (r15): per-job and per-task overhead anatomy at the
  * session's core count — the denominator of the suite's fixed-cost floor
  * (ProbePhases r15: 188 sub-0.5 s queries average 230 ms of execution
  * over ~4 jobs; planning is ~11 ms). Times trivial jobs of varying task
  * width and shuffle shape in a warm JVM. Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.ProbeTask
  */
object ProbeTask {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cores(32))
    val sc = spark.sparkContext
    def time(label: String, reps: Int)(f: => Unit): Unit = {
      f; f // warm
      graft.JitQuiesce.await()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[task] $label%-46s med=${ts(ts.size / 2)}%8.2f ms  min=${ts.head}%8.2f ms")
    }
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    time("rdd job, 1 task", 7) { sc.parallelize(1 to 1, 1).count() }
    time("rdd job, 8 tasks", 7) { sc.parallelize(1 to 8, 8).count() }
    time("rdd job, 32 tasks", 7) { sc.parallelize(1 to 32, 32).count() }
    time("rdd job, 128 tasks", 7) { sc.parallelize(1 to 128, 128).count() }
    time("sql range(1k) 1 part count", 7) {
      spark.range(1000, 1000 + 1000, 1, 1).selectExpr("sum(id)").collect() }
    time("sql range(1k) 32 part count", 7) {
      spark.range(2000, 2000 + 1000, 1, 32).selectExpr("sum(id)").collect() }
    time("sql shuffle 1k rows grpBy (AQE)", 7) {
      spark.range(3000, 3000 + 1000, 1, 32)
        .selectExpr("id % 100 as k", "id as v")
        .groupBy("k").sum("v").collect() }
    time("sql repartition(32)+agg", 7) {
      spark.range(4000, 4000 + 1000, 1, 1).repartition(32)
        .selectExpr("sum(id)").collect() }
    time("parquet scan count (orders)", 7) {
      graft.Tables.orders(spark, d).queryExecution.toRdd.count() }
    time("parquet scan fanOut(32) count", 7) {
      graft.Tables.fanOut(graft.Tables.orders(spark, d))
        .queryExecution.toRdd.count() }
    time("localCheckpoint eager 32p of 1k rows", 7) {
      spark.range(5000, 5000 + 1000, 1, 32).localCheckpoint(true).count() }
    time("table() build only", 7) { graft.Tables.orders(spark, d) }
    spark.stop()
  }
}
