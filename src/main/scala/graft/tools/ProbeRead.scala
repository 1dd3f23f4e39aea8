package graft.tools

import graft.{Session, Tables}

/** Dev micro-probe (r14): what does a single `spark.read.parquet` cost at
  * build time, and how much of it is schema inference vs file listing vs
  * logical-plan construction? Informs the Tables-level schema/relation
  * cache decision. Usage: runMain graft.tools.ProbeRead <sfDir>
  */
object ProbeRead {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(Session.cores(32))
    def time(label: String, reps: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f)
      println(f"[read] $label%-42s ${(System.nanoTime() - t0) / 1e6 / reps}%8.2f ms/call")
    }
    val p = s"$d/lineitem.parquet"
    val schema = spark.read.parquet(p).schema
    time("read.parquet (inference)", 20) { spark.read.parquet(p) }
    time("read.schema(...).parquet", 20) { spark.read.schema(schema).parquet(p) }
    time("read.parquet + .schema touch", 20) { spark.read.parquet(p).schema }
    time("Tables.table (tune + read)", 20) { Tables.table(spark, d, "lineitem") }
    time("Tables.tune only", 20) { Tables.tune(spark) }
    time("analyze only (reused df)", 20) {
      val df = spark.read.schema(schema).parquet(p)
      df.queryExecution.analyzed
    }
    spark.stop()
  }
}
