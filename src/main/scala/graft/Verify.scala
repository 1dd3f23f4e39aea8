package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Exits 1 when any
  * query failed, after every output is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: restrict to named queries (dev iteration only;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cores(4))
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` parquet and returns the
    * names of the queries that threw (each also logged to stderr). A
    * [[Session.reset]] after every query keeps any query's result from
    * depending on which queries ran before it. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      Session.reset(spark)
      failed
    }
  }

  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's oracle SQL would otherwise make the
    * oracle side's json.load fail and silently drop every comparison. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
