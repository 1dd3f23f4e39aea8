package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.lit

import graft.{Queries, Tables}

/** `batch`: registered queries of graft.Queries, one per op,
  * in the seeded order of each pass. An op builds and runs one query and
  * returns the fingerprint of its full output. A traced op first looks up
  * the query's tables once more, the lookups its builder makes, as the
  * `tables` span. */
final class QueryWorkload(cfg: JsonNode) extends Workload {
  private val dataDir = cfg.get("data_dir").asText
  private val runDir = cfg.get("run_dir").asText
  private val orders = cfg.get("orders").elements().asScala.map(Workload.strings).toIndexedSeq
  private val names = Workload.strings(cfg.get("queries"))
  // failure injection for the benchmark's own test: these queries throw, or
  // lose their rows, in the timed loop
  private val throwing = Workload.strings(cfg.get("inject_throw")).toSet
  private val wrong = Workload.strings(cfg.get("inject_wrong")).toSet
  private val tablesOf = scala.collection.mutable.HashMap[String, Seq[String]]()

  def prepare(spark: SparkSession): Unit =
    Tables.names.foreach(t => Tables.table(spark, dataDir, t))

  /** One untimed run of every query; also learns which tables each reads. */
  def warm(spark: SparkSession): Unit = names.foreach { n =>
    Workload.reset(spark)
    val df = Queries.byName(n).build(spark, dataDir)
    Fingerprint(df)
    tablesOf(n) = df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation
    }.flatMap {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _ => Nil
    }.distinct
  }

  def opsOfPass(pass: Int): IndexedSeq[String] = orders(pass % orders.size)

  override def betweenOps(spark: SparkSession): Unit = Workload.reset(spark)

  def runOp(spark: SparkSession, tracer: Tracer, pass: Int, name: String): Any = {
    if (throwing(name)) throw new IllegalStateException(s"injected failure in $name")
    if (tracer.on) tracer.span("tables.resolve") {
      tablesOf.getOrElse(name, Nil).foreach(t => Tables.table(spark, dataDir, t))
    }
    val built = tracer.span("queries.build")(Queries.byName(name).build(spark, dataDir))
    val df = if (wrong(name)) built.filter(lit(false)) else built
    val fp = tracer.span("exec.run")(Fingerprint(df))
    if (tracer.on) tracer.record(df.queryExecution)
    fp
  }

  /** After the timed loop: each query once more, its output written as
    * parquet for the DuckDB oracle, with its fingerprint and oracle SQL. */
  override def verify(spark: SparkSession): Unit = if (cfg.get("verify").asBoolean) {
    val out = new File(runDir, "verify")
    val oracle = Queries.oracleSql
    val w = new PrintWriter(new File(runDir, "verify.jsonl"), "UTF-8")
    try names.foreach { n =>
      Workload.reset(spark)
      val line = try {
        val df: DataFrame = Queries.byName(n).build(spark, dataDir)
        val fp = Fingerprint(df)
        df.coalesce(1).write.mode("overwrite").parquet(new File(out, n).getPath)
        Map("name" -> n, "fp" -> fp, "oracle" -> oracle.get(n).orNull)
      } catch {
        case e: Throwable => Map("name" -> n, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      w.println(Harness.json(line))
    } finally w.close()
  }
}
