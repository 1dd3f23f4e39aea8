package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.JobCount
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.JdbcShapedSink

/** T8/database.py sink semantics: exactly-once into a keyed table-like
  * target across every replay mode foreachBatch can produce — same-id
  * replay (ledger), new-id re-delivery after checkpoint loss (MERGE
  * idempotence), and genuine new versions (upsert wins). */
class JdbcShapedSinkSpec extends SparkSpec {
  import spark.implicits._

  private var lastDir: String = _

  private def mkSink(): (JdbcShapedSink, () => Map[Long, (Long, String)]) = {
    val dir = Files.createTempDirectory("graft-jdbc-sink").toString
    lastDir = dir
    val sink = new JdbcShapedSink(dir, Seq("job_id"), "scraped_at")
    val read = () => sink.table(spark).map(
      _.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap)
      .getOrElse(Map.empty)
    (sink, read)
  }

  /** The data directories in the table directory, by name. */
  private def dataDirs(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.startsWith("data-b")).toSet

  /** A sink whose reads of the named ledger markers fail, as a transient
    * I/O error would. */
  private class UnreadableMarkers(dir: String)
      extends JdbcShapedSink(dir, Seq("job_id"), "scraped_at") {
    var unreadable = Set.empty[String]
    override protected def readMarker(marker: Path): String = {
      val id = marker.getFileName.toString
      if (unreadable(id)) throw new java.io.IOException(s"injected: marker $id unreadable")
      super.readMarker(marker)
    }
  }

  test("replayed batchId is skipped; new-id re-delivery converges; newer version wins") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // foreachBatch at-least-once: the SAME batch id arrives again
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // checkpoint loss: same rows re-delivered under a NEW id — the MERGE
    // itself must be idempotent
    sink.writeBatch(b0, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // a real new version for key 2 plus a new key 3
    val b2 = Seq((2L, 20L, "b2"), (3L, 10L, "c")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b2, 2L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2")), 3L -> ((10L, "c"))))
  }

  test("crash mid-write leaves prior committed state intact; replay completes the batch") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    val committed = read()

    // simulate a process death mid-parquet-write of batch 1: a partial,
    // uncommitted data directory exists but no marker points at it
    val dir = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b1"))
    Files.write(dir.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(read() == committed, "partial write must not be visible")

    // the replay of batch 1 overwrites the partial dir and commits
    val b1 = Seq((2L, 20L, "b2")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b1, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2"))))
  }

  test("crashed attempt dirs are swept by the next successful commit") {
    val (sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)

    // a same-or-earlier-id attempt that died after its parquet write but
    // before its marker move: unreferenced data-b dir, no ledger entry
    val orphan = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b0-deadbeef"))
    Files.write(orphan.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // an in-flight attempt of a FUTURE batch must NOT be touched
    val future = Files.createDirectories(
      java.nio.file.Paths.get(lastDir, "data-b9-cafebabe"))

    val b1 = Seq((2L, 20L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b1, 1L)
    assert(!Files.exists(orphan), "committed-range orphan must be swept")
    assert(Files.exists(future), "higher-id in-flight dir must survive")
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b"))))
  }

  test("attached to a real stream: full source replay on a fresh checkpoint adds nothing") {
    val (sink, read) = mkSink()
    val rows = Seq((1L, 10L, "a"), (2L, 10L, "b"), (2L, 10L, "b"), (3L, 10L, "c"))

    def runOnce(): Unit = {
      val mem = MemoryStream[(Long, Long, String)](spark)
      mem.addData(rows: _*)
      val q = mem.toDF().toDF("job_id", "scraped_at", "payload")
        .writeStream.foreachBatch(sink.writeBatch _)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = read()
    assert(first.keySet == Set(1L, 2L, 3L))
    // a fresh query (new checkpoint) replays the whole source — only the
    // sink's idempotence prevents duplicates, mirroring StreamDemoSpec
    runOnce()
    assert(read() == first)
  }

  test("an empty first batch commits an empty table; the next batch merges onto it") {
    val (sink, read) = mkSink()
    val empty = Seq.empty[(Long, Long, String)].toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(empty, 0L)
    assert(sink.table(spark).map(_.schema.fieldNames.toSeq) ==
      Some(Seq("job_id", "scraped_at", "payload")))
    assert(read() == Map.empty)
    sink.writeBatch(Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload"), 1L)
    assert(read() == Map(1L -> ((10L, "a"))))
  }

  test("table() starts no Spark job; a later batch is merged and written in at most 2") {
    val (sink, read) = mkSink()
    sink.writeBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"))
      .toDF("job_id", "scraped_at", "payload"), 0L)
    val sc = spark.sparkContext
    val (_, lookupJobs) = JobCount.of(sc)(sink.table(spark))
    assert(lookupJobs == 0)
    val b1 = Seq((2L, 20L, "b2"), (3L, 10L, "c")).toDF("job_id", "scraped_at", "payload")
    val (_, writeJobs) = JobCount.of(sc)(sink.writeBatch(b1, 1L))
    assert(writeJobs <= 2, s"second batch started $writeJobs jobs")
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2")), 3L -> ((10L, "c"))))
  }

  test("a marker that cannot be read back after the move fails the batch, deleting nothing") {
    val dir = Files.createTempDirectory("graft-jdbc-sink").toString
    val sink = new UnreadableMarkers(dir)
    sink.writeBatch(Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload"), 0L)
    val before = dataDirs(dir)
    sink.unreadable = Set("1")
    intercept[java.io.IOException](
      sink.writeBatch(Seq((2L, 20L, "b")).toDF("job_id", "scraped_at", "payload"), 1L))
    // which attempt won is unknown: the predecessor must survive
    assert(before.subsetOf(dataDirs(dir)))
    // once readable, the published marker is authoritative and the retry
    // of the id is skipped by the ledger
    sink.unreadable = Set.empty
    sink.writeBatch(Seq((2L, 20L, "b")).toDF("job_id", "scraped_at", "payload"), 1L)
    val read = sink.table(spark).get.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(read == Map(1L -> ((10L, "a")), 2L -> ((20L, "b"))))
  }

  test("an unreadable marker stops the orphan sweep before it deletes anything") {
    val (sink, read) = mkSink()
    sink.writeBatch(Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload"), 0L)
    sink.writeBatch(Seq((2L, 10L, "b")).toDF("job_id", "scraped_at", "payload"), 1L)
    // marker 0 becomes unreadable (a directory), so the directory it names
    // is unknown — it may be this unreferenced-looking one
    val marker0 = Paths.get(lastDir, "_commits", "0")
    Files.delete(marker0)
    Files.createDirectory(marker0)
    val maybeNamed = Files.createDirectories(Paths.get(lastDir, "data-b0-0badf00d"))
    Files.write(maybeNamed.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    sink.writeBatch(Seq((3L, 10L, "c")).toDF("job_id", "scraped_at", "payload"), 2L)
    assert(Files.exists(maybeNamed), "the sweep deleted a directory an unreadable marker may name")
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b")), 3L -> ((10L, "c"))))
  }

  test("a newest marker naming a missing directory fails loudly, not as an empty table") {
    val (sink, _) = mkSink()
    sink.writeBatch(Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload"), 0L)
    dataDirs(lastDir).foreach { d =>
      val s = Files.walk(Paths.get(lastDir, d))
      try s.toArray.map(_.asInstanceOf[Path]).reverse.foreach(Files.delete(_))
      finally s.close()
    }
    intercept[IllegalStateException](sink.table(spark))
    // the next batch must not merge onto an empty table and commit it
    intercept[IllegalStateException](
      sink.writeBatch(Seq((2L, 10L, "b")).toDF("job_id", "scraped_at", "payload"), 1L))
    assert(!Files.exists(Paths.get(lastDir, "_commits", "1")))
  }
}
