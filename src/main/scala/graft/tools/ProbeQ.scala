package graft.tools

import graft.{Queries, Session}

/** Dev probe: warm-protocol timing (1 untimed + 3 timed, median) for the
  * named registry queries at a given sf dir. Usage:
  *   runMain graft.tools.ProbeQ <sfDir> <query> [query ...]
  */
object ProbeQ {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq.empty
    val spark = Session.local(32)
    names.foreach { n =>
      Queries.byName.get(n) match {
        case None =>
          println(s"[probeq] SKIP unknown query '$n' — known: " +
            Queries.byName.keys.toSeq.sorted.mkString(", "))
        case Some(q) =>
          // full-row materialization, same protocol as Bench (count() would
          // let Catalyst prune unconsumed projected expressions)
          def run(): Long = q.build(spark, d).queryExecution.toRdd.count()
          run()
          // match Bench's JIT-quiescence wait (r10, shared JitQuiesce
          // protocol): without it the C2 compiler threads provoked by the
          // warm pass steal cores from the timed reps — codegen-heavy
          // shapes (the iterative graph family) probed up to 1.5x hot vs
          // their in-bench numbers, which corrupts exactly the
          // isolated-adjudication readings this tool exists for
          graft.JitQuiesce.await()
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); run()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"[probeq] $n%-28s med=${ts(1)}%6.2f s  min=${ts.head}%6.2f s")
      }
    }
    spark.stop()
  }
}
