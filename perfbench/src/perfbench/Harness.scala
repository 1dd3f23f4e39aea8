package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's client: one thread, one process, closed loop. It sets
  * up a Spark session several times, runs the workload's warm passes, then
  * runs ops back to back for the configured seconds and records, per op,
  * its latency and its output (a fingerprint or the rows read back). It
  * judges nothing: perfbench/run.py checks the outputs and computes the
  * metrics. Usage: Harness <config.json>. */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val runDir = cfg.get("run_dir").asText
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asInt == 1
    val work: Workload = cfg.get("workload").asText match {
      case "ingest" => new IngestWorkload(cfg)
      case _ => new QueryWorkload(cfg)
    }

    // set-up, repeated: the first from process start, the others each in a
    // fresh session of the warm JVM; run.py reports their median
    val rt = ManagementFactory.getRuntimeMXBean
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until cfg.get("setups").asInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0)
        System.nanoTime() - (System.currentTimeMillis() - rt.getStartTime) * 1000000L
      else System.nanoTime()
      spark = newSession(cfg)
      work.prepare(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    // a fixed number of untimed passes, so that every run measures the
    // same JIT state: no waiting for the compiler to go quiet
    val warmStart = System.nanoTime()
    for (_ <- 0 until cfg.get("warm_passes").asInt) work.warm(spark)
    val warmS = (System.nanoTime() - warmStart) / 1e9

    // what the process keeps once it has served the warm passes, a fixed
    // amount of work in every run: the lowest heap reading of three full
    // collections, each followed by a pause in which Spark's cleaner drops
    // the state of objects the previous collection found dead
    Workload.reset(spark)
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val tracer = new Tracer(spark)
    if (trace) tracer.attach()
    val opsOut = new PrintWriter(new File(runDir, "ops.jsonl"), "UTF-8")
    val passes = ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var opId = 0
    var pass = 0
    var traced, untraced = 0
    // a run measures whole passes, starting passes until its deadline, so
    // that every query or batch is equally represented in the samples. A
    // traced run orders its passes untraced, traced, traced, untraced, ...
    // so that a pass time still falling with warm-up does not bias the
    // overhead of tracing (traced minus untraced pass_s), and runs until it
    // has two passes of each
    def more: Boolean = System.nanoTime() < deadline ||
      (trace && (traced < 2 || untraced < 2))
    while (more) {
      tracer.on = trace && (pass % 4 == 1 || pass % 4 == 2)
      work.beginPass(spark, pass)
      val ops = work.opsOfPass(pass)
      val start = System.nanoTime()
      var done = 0
      while (done < ops.size) {
        work.betweenOps(spark)
        tracer.startOp(opId)
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val out: Either[Throwable, Any] =
          try Right(tracer.span("client.op")(work.runOp(spark, tracer, pass, ops(done))))
          catch { case e: Throwable => Left(e) }
        val latency = (System.nanoTime() - t0) / 1e9
        val problem = if (out.isRight) work.checkOp(spark, tracer, ops(done)) else None
        tracer.endOp(gcMillis() - gc0)
        opsOut.println(json(Map(
          "op" -> opId, "pass" -> pass, "name" -> ops(done), "traced" -> tracer.on,
          "latency_s" -> latency,
          "output" -> out.toOption.orNull,
          "error" -> out.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")
            .orElse(problem).orNull)))
        opId += 1
        done += 1
      }
      val wall = (System.nanoTime() - start) / 1e9
      if (tracer.on) traced += 1 else untraced += 1
      passes += Map("pass" -> pass, "wall_s" -> wall, "ops" -> done,
        "traced" -> tracer.on) ++ work.endPass(spark, pass, done)
      pass += 1
    }
    opsOut.close()
    tracer.on = false
    if (trace) tracer.detach()
    work.verify(spark)

    if (trace) writeSpans(new File(runDir, "spans.jsonl"), tracer)
    val summary = Map("setups_s" -> setups.toSeq, "warm_s" -> warmS,
      "passes" -> passes.toSeq, "retained_heap_mb" -> heapMb)
    val w = new PrintWriter(new File(runDir, "summary.json"), "UTF-8")
    try w.println(json(summary)) finally w.close()
    spark.stop()
  }

  def newSession(cfg: JsonNode): SparkSession = {
    val cores = cfg.get("cores").asInt
    val tmp = cfg.get("tmp_dir").asText
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.tune(s)
    s
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Spans with the parent of each listener-made span (Spark jobs, Catalyst
    * phases) set to the innermost harness span of its op that contains it. */
  def writeSpans(f: File, tracer: Tracer): Unit = {
    val all = tracer.spans.toIndexedSeq
    val harness = all.indices.filter(i => all(i).end > 0 &&
      !all(i).name.startsWith("exec.job") && !all(i).name.startsWith("catalyst."))
    val byOp = harness.groupBy(i => all(i).op)
    val w = new PrintWriter(f, "UTF-8")
    try all.zipWithIndex.foreach { case (s, i) =>
      val parent =
        if (harness.contains(i)) s.parent
        else byOp.getOrElse(s.op, Nil)
          .filter(j => all(j).start <= s.start && s.start <= all(j).end)
          .sortBy(j => -all(j).start).headOption.getOrElse(-1)
      w.println(json(Map("id" -> i, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> parent, "op" -> s.op)))
    } finally w.close()
    val cw = new PrintWriter(new File(f.getParentFile, "counters.jsonl"), "UTF-8")
    try tracer.counters.foreach { case (op, c) =>
      cw.println(json(Map("op" -> op, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "exchanges" -> c.exchanges,
        "task_busy_ms" -> c.taskBusyMs, "task_wait_ms" -> c.taskWaitMs,
        "job_wall_ms" -> c.jobWallMs,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "peak_exec_mem_bytes" -> c.peakExecMem,
        "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
        "planning_ms" -> c.planningMs, "gc_ms" -> c.gcMs,
        "pages_read" -> c.pagesRead, "rows_read" -> c.rowsRead,
        "rows_in" -> c.rowsIn, "rows_out" -> c.rowsOut,
        "commits" -> c.commits, "replays_skipped" -> c.replaysSkipped,
        "failed_batches" -> c.failedBatches,
        "shaped_bytes_written" -> c.shapedBytesWritten)))
    } finally cw.close()
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }
}

/** What the loop needs from a workload. `runOp` is the timed op and returns
  * its output for checking; everything else runs outside op latency. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def warm(spark: SparkSession): Unit
  def opsOfPass(pass: Int): IndexedSeq[String]
  def beginPass(spark: SparkSession, pass: Int): Unit = ()
  def betweenOps(spark: SparkSession): Unit = ()
  def runOp(spark: SparkSession, tracer: Tracer, pass: Int, op: String): Any
  /** A check of the op made after its latency is taken: an error, or None. */
  def checkOp(spark: SparkSession, tracer: Tracer, op: String): Option[String] = None
  def endPass(spark: SparkSession, pass: Int, opsDone: Int): Map[String, Any] = Map.empty
  def verify(spark: SparkSession): Unit = ()
}

object Workload {
  def strings(n: JsonNode): IndexedSeq[String] =
    n.elements().asScala.map(_.asText).toIndexedSeq

  /** Drop what one op leaves in the session (cached blocks, `spark.graft.*`
    * settings a builder set), so no op depends on the ones before it. */
  def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    spark.conf.getAll.keys.filter(_.startsWith("spark.graft.")).foreach(spark.conf.unset)
  }
}
