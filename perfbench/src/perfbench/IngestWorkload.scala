package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{HtmlOps, ParseOps, SkillOps, UpsertOps}
import graft.streaming.{JdbcShapedSink, JdbcUpsertSink}

/** `ingest`: the write path. Each pass starts from empty sinks (a fresh
  * in-memory Derby database and a fresh shaped-table directory) and offers
  * the seeded batch sequence, one batch per op. An op reads the batch's
  * listing pages through graft.sources.PageSource, joins the seeded detail
  * pages, parses them (HtmlOps, ParseOps, SkillOps), keeps the latest
  * version per job (UpsertOps.latestPerKey), commits once to each sink
  * (JdbcUpsertSink, then JdbcShapedSink) and reads the shaped table back
  * as skill counts, which it returns. A batch marked for replay is first
  * re-delivered under its old id, as an at-least-once source would; both
  * sinks must skip it without running a Spark job, which is checked after
  * the op's time is taken. */
final class IngestWorkload(cfg: JsonNode) extends Workload {
  import IngestWorkload.Batch
  private val runDir = cfg.get("run_dir").asText
  private val spec = cfg.get("ingest")
  private val pages = spec.get("pages").asInt
  private val injectThrow = Workload.strings(cfg.get("inject_throw")).toSet
  // failure injection for the benchmark's own test: batch b commits as id
  // 2b and its replay comes as the new id 2b + 1, so the sinks apply it
  private val injectReapply = cfg.get("inject_reapply").asBoolean
  private def commitId(b: Batch): Long = if (injectReapply) 2 * b.id else b.id

  // Spark jobs started by replays, and whether the op made a replay
  private val replayJobs = new AtomicInteger
  private var replayed = false
  private val replayJobCounter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == IngestWorkload.ReplayGroup)
        replayJobs.incrementAndGet()
  }

  private val batches: IndexedSeq[Batch] = spec.get("batches").elements().asScala.map { b =>
    Batch(b.get("id").asLong, b.get("lo").asInt, b.get("hi").asInt,
      b.get("old").elements().asScala.map(_.asInt).toSeq,
      b.get("replay").asInt,
      b.get("rows").elements().asScala.map { r =>
        (r.get(0).asText, r.get(1).asLong, r.get(2).asText)
      }.toSeq)
  }.toIndexedSeq

  private var jdbc: JdbcUpsertSink = _
  private var shaped: JdbcShapedSink = _
  private var url: String = _
  private var shapedDir: String = _

  /** The source's table and the JDBC engine, resolved once per session. */
  def prepare(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(replayJobCounter)
    spark.read.format("graft.sources.PageSource").option("pages", pages).load().schema
    val probe = "jdbc:derby:memory:perfbench_setup"
    DriverManager.getConnection(s"$probe;create=true").close()
    try DriverManager.getConnection(s"$probe;drop=true")
    catch { case _: SQLException => () } // Derby reports a dropped database as an exception
  }

  /** The whole batch sequence into scratch sinks, untimed. */
  def warm(spark: SparkSession): Unit = {
    beginPass(spark, -1)
    val off = new Tracer(spark)
    batches.foreach { b => Workload.reset(spark); ingest(spark, off, b) }
    dropSinks()
    replayed = false
  }

  def opsOfPass(pass: Int): IndexedSeq[String] = batches.map(b => s"batch-${b.id}")

  override def beginPass(spark: SparkSession, pass: Int): Unit = {
    val tag = if (pass < 0) "warm" else s"p$pass"
    url = s"jdbc:derby:memory:perfbench_$tag;create=true"
    shapedDir = s"$runDir/shaped_$tag"
    jdbc = new JdbcUpsertSink(url, "listings", Seq("job_id"), "version")
    shaped = new JdbcShapedSink(shapedDir, Seq("job_id"), "version")
  }

  override def betweenOps(spark: SparkSession): Unit = Workload.reset(spark)

  def runOp(spark: SparkSession, tracer: Tracer, pass: Int, op: String): Any = {
    if (injectThrow(op)) throw new IllegalStateException(s"injected failure in $op")
    ingest(spark, tracer, batches(op.stripPrefix("batch-").toInt))
  }

  private def ingest(spark: SparkSession, t: Tracer, b: Batch): Seq[Seq[Any]] = {
    val c = t.counter
    if (b.replay >= 0) t.span("streaming.replay") {
      val r = batches(b.replay)
      val id = if (injectReapply) commitId(r) + 1 else commitId(r)
      val df = parsedLatest(spark, t, r)
      spark.sparkContext.setJobGroup(IngestWorkload.ReplayGroup, s"replay of batch ${r.id}")
      try {
        jdbc.writeBatch(df, id)
        shaped.writeBatch(df, id)
      } finally spark.sparkContext.clearJobGroup()
      replayed = true
    }
    val latest = t.span("ops.parse")(parsedLatest(spark, t, b).localCheckpoint())
    if (t.on) {
      c.rowsIn += b.rows.size
      c.rowsOut += latest.count()
    }
    try {
      t.span("streaming.jdbc_write")(jdbc.writeBatch(latest, commitId(b)))
      c.commits += 1
      t.span("streaming.shaped_write")(shaped.writeBatch(latest, commitId(b)))
      c.commits += 1
    } catch { case e: Throwable => c.failedBatches += 1; throw e }
    if (t.on) c.shapedBytesWritten += currentDirBytes()
    t.span("streaming.readback") {
      shaped.table(spark).get
        .select(explode(split(col("skills"), ",")).as("skill"))
        .groupBy("skill").count()
        .collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1))).sortBy(_.head.toString)
    }
  }

  /** The batch as the sinks receive it: listing pages from the source,
    * joined with the batch's detail pages, parsed, latest version per job. */
  private def parsedLatest(spark: SparkSession, t: Tracer, b: Batch): DataFrame = {
    val listings = t.span("sources.scan") {
      val src = spark.read.format("graft.sources.PageSource").option("pages", pages).load()
      val fresh = src.filter(col("page").between(b.lo, b.hi))
      if (b.old.isEmpty) fresh else fresh.unionByName(src.filter(col("page").isin(b.old: _*)))
    }
    import spark.implicits._
    val details = b.rows.toDF("job_id", "version", "html")
    val joined = listings.join(broadcast(details), "job_id")
    val html = col("html")
    val (tier, skills) = SkillOps.cascadeSkills(html)
    val parsed = ParseOps.withSalaryParsed(joined, col("salary_text"), "salary_min", "salary_max")
      .select(col("job_id"), col("version"), col("title"),
        HtmlOps.employerName(html).as("employer"),
        ParseOps.yoeExtract(HtmlOps.badge(html, "experience")).as("yoe"),
        col("salary_min"), col("salary_max"), tier.as("tier"), skills.as("skills"))
    UpsertOps.latestPerKey(parsed, Seq("job_id"), Seq(col("version").desc))
  }

  /** A skipped replay runs no Spark job: a sink that applied it again
    * would have run at least its write job. */
  override def checkOp(spark: SparkSession, tracer: Tracer, op: String): Option[String] = {
    if (!replayed) return None
    replayed = false
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    val jobs = replayJobs.getAndSet(0)
    if (jobs > 0) Some(s"the replay before $op was applied again: it ran $jobs Spark jobs")
    else { tracer.counter.replaysSkipped += 1; None }
  }

  /** Bytes of the shaped table's current data directory. */
  private def currentDirBytes(): Long = {
    val commits = Paths.get(shapedDir, "_commits")
    if (!Files.exists(commits)) return 0L
    val s = Files.list(commits)
    val markers = try s.iterator.asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .sortBy(_.getFileName.toString.toLong)
    finally s.close()
    markers.lastOption.map { m =>
      dirBytes(Paths.get(shapedDir, new String(Files.readAllBytes(m), "UTF-8").trim))
    }.getOrElse(0L)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** The committed tables after the pass, for run.py to check against the
    * latest version of every offered listing. */
  override def endPass(spark: SparkSession, pass: Int, opsDone: Int): Map[String, Any] = {
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.select("job_id", "version", "title", "employer", "yoe", "salary_min",
        "salary_max", "tier", "skills").collect().toSeq.map(_.toSeq)
    val state = try Map(
      "batches_done" -> opsDone,
      "jdbc" -> (if (shaped.table(spark).isDefined) rows(jdbc.table(spark)) else Nil),
      "shaped" -> shaped.table(spark).map(rows).getOrElse(Nil),
      "shaped_bytes" -> currentDirBytes())
    catch { case e: Throwable => Map("batches_done" -> opsDone, "error" -> e.toString) }
    val f = new File(runDir, s"state_$pass.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Harness.json(state)) finally w.close()
    dropSinks()
    Map("state" -> f.getName)
  }

  private def dropSinks(): Unit = {
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: SQLException => () } // Derby reports a dropped database as an exception
    val d = Paths.get(shapedDir)
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

object IngestWorkload {
  val ReplayGroup = "perfbench.replay"

  final case class Batch(id: Long, lo: Int, hi: Int, old: Seq[Int], replay: Int,
      rows: Seq[(String, Long, String)])
}
