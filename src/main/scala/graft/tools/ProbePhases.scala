package graft.tools

import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.{Queries, Session}

/** Dev probe (r14): split a query's warm per-rep cost into Catalyst phases
  * (analysis / optimization / physical planning) vs execution — the
  * guide-§1 "where does the time actually go" instrument for a suite whose
  * mean query is ~0.5 s at sf0.1. A query dominated by planning needs a
  * smaller logical plan (fewer self-joins/unions, shared subtrees); one
  * dominated by execution needs the §2/§3 shuffle/join work. Usage:
  *   runMain graft.tools.ProbePhases <sfDir> <query> [query ...]
  * Prints per query: plan-phase millis (median of 3 fresh builds) and
  * execution millis (median of 3 toRdd.count over a pre-planned df).
  */
object ProbePhases {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.byName.keys.toSeq.sorted
    val spark = Session.local(Session.cores(32))
    import graft.Bench.{median => med}
    println("[phases] query                          total_s  build_ms  anal_ms  opt_ms  phys_ms  exec_s  jobs")
    names.foreach { n =>
      Queries.byName.get(n).foreach { q =>
        // Bench's cross-query state reset (r07 protocol): without it,
        // build-time localCheckpoints pile up and late-listed queries probe
        // against a polluted block manager
        Session.reset(spark)
        System.gc()
        // warm: full run (codegen compile, datasource init); a failing
        // query is reported and SKIPPED (a `return` here would abort the
        // whole sweep — it did, r14, when a concurrent recompile swapped
        // class files under this JVM)
        val warmed =
          try { q.build(spark, d).queryExecution.toRdd.count(); true }
          catch { case e: Throwable => println(s"[phases] $n FAILED: $e"); false }
        if (!warmed) ()
        else {
        graft.JitQuiesce.await()
        // planning phases: fresh build each time; buildMs covers the query
        // fn itself (spark.read schema inference + DSL construction + any
        // eager jobs the build runs, e.g. localCheckpoint/observe counts);
        // the tracker splits analysis / optimization / physical planning.
        var (buildMs, analMs, optMs, physMs) = (
          Seq.empty[Double], Seq.empty[Double], Seq.empty[Double],
          Seq.empty[Double])
        (1 to 3).foreach { _ =>
          val t0 = System.nanoTime()
          val df = q.build(spark, d)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // forces analysis+opt+planning
          val ph = df.queryExecution.tracker.phases
          buildMs :+= (t1 - t0) / 1e6
          def p(k: String): Double =
            ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
              .getOrElse(0.0)
          analMs :+= p(QueryPlanningTracker.ANALYSIS)
          optMs :+= p(QueryPlanningTracker.OPTIMIZATION)
          physMs :+= p(QueryPlanningTracker.PLANNING)
        }
        // end-to-end (the bench's timed unit), and jobs triggered
        val sc = spark.sparkContext
        val before = sc.statusTracker.getJobIdsForGroup(null).length
        val totalS = med((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          q.build(spark, d).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        })
        val jobs = (sc.statusTracker.getJobIdsForGroup(null).length - before) / 3.0
        println(f"[phases] $n%-32s ${totalS}%7.3f ${med(buildMs)}%9.1f ${med(analMs)}%8.1f ${med(optMs)}%7.1f ${med(physMs)}%8.1f ${totalS - (med(buildMs) + med(analMs) + med(optMs) + med(physMs)) / 1000.0}%7.3f ${jobs}%5.1f")
        }
      }
    }
    spark.stop()
  }
}
