package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Queries, Session}

/** Dev probe (r15): per-stage anatomy of a query at the session's core
  * count — the instrument for the inverse-core-scaling class (PERF_r14:
  * dedup_containment ratio 0.30, i.e. 32 cores 3.3× SLOWER than 8 at
  * sf0.1). For each warm rep it records every stage's task count, summed
  * executor run/CPU time, scheduler-visible wall duration, and shuffle
  * bytes, so "where do the extra 2.8 s go at 32 cores" is answered by
  * data instead of guesses (guide §1/§7.1 — the UI's stage page, in
  * headless form). Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.ProbeStages <sfDir> <query>...
  */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq.empty
    val cpus = Session.cores(32)
    val spark = Session.local(cpus)

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
        runMs: Long, cpuMs: Long, shufReadB: Long, shufWriteB: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = sc.stageInfo
          val m = i.taskMetrics
          stages += St(i.stageId,
            i.name.takeWhile(_ != '\n').take(60), i.numTasks,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
    }
    names.foreach { n =>
      Queries.byName.get(n).foreach { q =>
        def run(): Unit = q.build(spark, d).queryExecution.toRdd.count()
        run() // warm (codegen, JIT)
        graft.JitQuiesce.await()
        spark.sparkContext.addSparkListener(listener)
        stages.clear(); jobs = 0
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async — wait until the stage stream settles
        // (listenerBus.waitUntilEmpty is private[spark])
        var settled = false
        var last = -1
        while (!settled) {
          Thread.sleep(200)
          val now = synchronized(stages.size)
          settled = now == last
          last = now
        }
        spark.sparkContext.removeSparkListener(listener)
        println(f"[stages] $n cores=$cpus wall=${wall}%.3f s jobs=$jobs stages=${stages.size} tasks=${stages.map(_.tasks).sum}")
        println(f"[stages]   sum(stage wall)=${stages.map(_.wallMs).sum}%d ms  sum(run)=${stages.map(_.runMs).sum}%d ms  sum(cpu)=${stages.map(_.cpuMs).sum}%d ms")
        stages.sortBy(-_.wallMs).take(18).foreach { s =>
          println(f"[stages]   id=${s.id}%4d tasks=${s.tasks}%4d wall=${s.wallMs}%6d run=${s.runMs}%7d cpu=${s.cpuMs}%7d shufR=${s.shufReadB}%9d shufW=${s.shufWriteB}%9d  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
