package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** `Tables.parquetSchema` is Spark's schema inference done from one footer
  * without a job: it must equal what `spark.read.parquet` infers, for every
  * fixture table and for a multi-file directory as the sinks write them,
  * and resolving a table through it starts no Spark job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // the shared fixture and its ten-times-larger sibling
  for (dir <- Seq(sfDir, Paths.get(sfDir).resolveSibling("sf0.01").toString))
    test(s"parquetSchema equals the inferred schema of every table in ${Paths.get(dir).getFileName}") {
      Tables.names.foreach { name =>
        val p = s"$dir/$name.parquet"
        assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema, p)
      }
    }

  test("parquetSchema of a directory: several part files, _SUCCESS and checksums") {
    val dir = Files.createTempDirectory("graft-schema").resolve("t").toString
    // non-nullable, nested and timestamp columns: the cases where the raw
    // footer and the relation schema could disagree
    Seq((1L, "a", Seq(1.0, 2.0)), (2L, "b", Seq.empty[Double]), (3L, "c", Seq(3.0)))
      .toDF("id", "s", "xs")
      .withColumn("nested", struct(col("id"), col("xs")))
      .withColumn("ts", timestamp_micros(col("id")))
      .repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list()
    assert(names.contains("_SUCCESS") && names.count(_.startsWith("part-")) == 3,
      names.mkString(", "))
    assert(Tables.parquetSchema(spark, dir) == spark.read.parquet(dir).schema)
  }

  test("a fresh Tables.table lookup starts no Spark job") {
    val dir = Files.createTempDirectory("graft-fresh")
    Files.copy(Paths.get(sfDir, "orders.parquet"), dir.resolve("orders.parquet"))
    val (df, jobs) = JobCount.of(spark.sparkContext)(Tables.table(spark, dir.toString, "orders"))
    assert(jobs == 0)
    assert(df.schema == Tables.orders(spark, sfDir).schema)
    assert(df.count() == Tables.orders(spark, sfDir).count())
  }
}
