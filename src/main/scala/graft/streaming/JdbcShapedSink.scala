package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.UpsertOps

/** The reference's RDBMS sink layer (database.py:106-212 — probe, insert,
  * rollback-per-duplicate) re-expressed as the standard Structured-Streaming
  * transactional-sink recipe: `foreachBatch` MERGEs each micro-batch into a
  * keyed table-like target, exactly-once under replay.
  *
  * The sandbox has no RDBMS, so the target is a parquet "table" + a
  * committed-batch ledger; against a real database the SAME `writeBatch`
  * body becomes `MERGE INTO ... USING batch` (or `df.write.jdbc` to a
  * staging table + server-side MERGE) with the batch id stored in the same
  * transaction. Three layers give exactly-once, crash-atomically:
  *
  *  1. **Batch-id ledger** — `foreachBatch` is at-least-once; a replayed
  *     batchId (task retry, driver restart on the same checkpoint) is
  *     skipped before any write.
  *  2. **MERGE idempotence** — even a re-delivery under a NEW id (fresh
  *     checkpoint replaying the source) converges: [[UpsertOps.upsertLatest]]
  *     keeps one row per key by (version, incoming-wins) order, so replaying
  *     rows that already won changes nothing.
  *  3. **Versioned data + atomic commit** — each merge writes a NEW
  *     `data-b<id>` directory; the commit marker (written to a temp file,
  *     then ATOMIC_MOVE'd into the ledger) records which directory is
  *     current. A crash mid-parquet-write leaves the previous committed
  *     directory untouched and unreferenced garbage behind; the replay
  *     overwrites the partial directory and commits normally. This is the
  *     file-system analog of the database transaction boundary.
  */
class JdbcShapedSink(tableDir: String, keys: Seq[String], versionCol: String) {

  private val commitsDir = Paths.get(tableDir, "_commits")

  private def committed(batchId: Long): Boolean =
    Files.exists(commitsDir.resolve(batchId.toString))

  /** Ledger markers sorted by batch id, newest last. The Files.list stream
    * must be closed (it holds a directory descriptor; this runs 2+ times
    * per micro-batch, and leaking until GC exhausts ulimit -n on
    * long-running queries — r10 review). */
  private def commitMarkers(): Seq[Path] =
    if (!Files.exists(commitsDir)) Seq.empty
    else {
      val s = Files.list(commitsDir)
      try s.iterator.asScala.toSeq
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .sortBy(_.getFileName.toString.toLong)
      finally s.close()
    }

  /** The data directory name a ledger marker records. A marker that cannot
    * be read throws: every caller must then stop rather than guess, since
    * guessing "I won" or "unreferenced" is how a transient read error turns
    * into a deleted committed directory. */
  protected def readMarker(marker: Path): String =
    new String(Files.readAllBytes(marker), "UTF-8").trim

  /** The data directory the newest committed marker points at, if any.
    * A marker naming a directory that is gone throws: answering "no table"
    * would let the next merge start silently from an empty table. */
  private def currentDataDir(): Option[Path] =
    commitMarkers().lastOption.map { marker =>
      val dir = Paths.get(tableDir, readMarker(marker))
      if (!Files.isDirectory(dir)) throw new IllegalStateException(
        s"commit marker $marker names missing data directory $dir")
      dir
    }

  /** Current table contents ("SELECT * FROM target"), with the schema read
    * from one footer instead of by an inference job. */
  def table(spark: SparkSession): Option[DataFrame] =
    currentDataDir().map(read(spark, _))

  private def read(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(graft.Tables.parquetSchema(spark, dir.toString)).parquet(dir.toString)

  /** The MERGE semantics of one batch against the standing table — override
    * for non-upsert targets (e.g. [[IndexDeltaSink]]'s additive postings
    * merge); the transactional machinery around it is shared. */
  protected def merge(existing: Option[DataFrame], batch: DataFrame): DataFrame =
    existing match {
      case Some(ex) => UpsertOps.upsertLatest(ex, batch, keys, versionCol)
      case None => UpsertOps.upsertLatest(
        batch.filter(org.apache.spark.sql.functions.lit(false)), batch, keys, versionCol)
    }

  /** The foreachBatch body: skip-if-committed, MERGE into a fresh versioned
    * directory, atomically commit the marker that names it.
    * Pass as `.writeStream.foreachBatch(sink.writeBatch _)`. */
  def writeBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (committed(batchId)) return
    val spark = batch.sparkSession
    val previous = currentDataDir()
    // written straight from its plan, which reads the previous directory:
    // that directory is deleted only after this attempt's marker is
    // published, so nothing needs materializing first
    val merged = merge(previous.map(read(spark, _)), batch)
    // per-ATTEMPT directory (r10 review): two JVMs committing the same id
    // (zombie + restarted driver) used to race inside ONE data-b<id>
    // directory — overwrite deleting the other's in-flight task files —
    // and both markers "succeeded" over interleaved garbage. Unique dirs
    // make every attempt's output self-consistent; the marker names the
    // winning attempt's dir. A crashed attempt's dir is unreferenced
    // garbage, swept when its batch's superseding commit lands.
    val newDirName =
      s"data-b$batchId-${java.util.UUID.randomUUID().toString.take(8)}"
    merged.write.mode("overwrite").parquet(s"$tableDir/$newDirName")
    // commit point: temp file + rename publishes data path and batch id in
    // one step; NO replace-existing — the loser of a same-id race gets
    // FileAlreadyExists, discards its own dir, and defers to the winner's
    // (both merged the same batch onto the same committed predecessor, so
    // either dir is a correct table state)
    Files.createDirectories(commitsDir)
    val tmp = Files.createTempFile(commitsDir, s".pending-$batchId-", "")
    Files.write(tmp, newDirName.getBytes("UTF-8"))
    val marker = commitsDir.resolve(batchId.toString)
    try Files.move(tmp, marker)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        deleteQuietly(Paths.get(tableDir, newDirName))
        return
    }
    // Files.move without ATOMIC_MOVE may implement no-replace as
    // exists-check-then-rename, so two same-id committers can BOTH pass the
    // check and the later rename silently replaces the earlier marker with
    // neither taking the FileAlreadyExists path (r10 ADVICE). Re-read what
    // actually got published: if it names another attempt's dir, this
    // attempt lost after all — discard its dir and defer to the winner
    // (both merged the same batch onto the same committed predecessor, so
    // either dir is a correct table state). If the marker cannot be read
    // back, the batch fails: which attempt won is unknown, so neither the
    // predecessor nor any orphan may be touched. A retry of the id is
    // skipped by the ledger, and the published marker stays authoritative.
    if (readMarker(marker) != newDirName) {
      deleteQuietly(Paths.get(tableDir, newDirName))
      return
    }
    // the superseded directory is now unreferenced; reclaim best-effort
    previous.filter(_.getFileName.toString != newDirName).foreach(deleteQuietly)
    sweepOrphans()
  }

  /** Reclaim crashed attempts' data dirs (r10 ADVICE — an attempt dying
    * after its parquet write but before its marker move used to leave
    * `data-b<id>-<uuid>` on disk forever). After a successful commit, any
    * data dir whose batch id is at or below the newest committed id and
    * that no ledger marker names is garbage: writeBatch skips committed
    * ids, so a live concurrent writer can only be working on a HIGHER id —
    * except a same-id zombie of the batch that just committed, whose
    * in-flight write may fail when its dir vanishes; that failure is
    * benign (its commit would have been discarded by the marker race
    * handling above anyway). Every marker is read before anything is
    * deleted; one that cannot be read stops the sweep, since the
    * directory it names is unknown. The commit has already landed, so a
    * failed sweep only leaves garbage for the next commit's sweep. */
  private def sweepOrphans(): Unit = try {
    val markers = commitMarkers()
    if (markers.isEmpty) return
    val newest = markers.last.getFileName.toString.toLong
    val referenced = markers.map(readMarker).toSet
    val dirRe = "^data-b(\\d+)-.*$".r
    val s = Files.list(Paths.get(tableDir))
    val orphans =
      try s.iterator.asScala.toSeq.filter { p =>
        p.getFileName.toString match {
          case dirRe(id) => id.toLong <= newest &&
            !referenced.contains(p.getFileName.toString)
          case _ => false
        }
      }
      finally s.close()
    orphans.foreach(deleteQuietly)
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Best-effort reclaim of an unreferenced directory: what it fails to
    * delete is garbage no marker names, never table state. */
  private def deleteQuietly(dir: Path): Unit =
    try {
      if (Files.exists(dir)) {
        val s = Files.walk(dir)
        try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally s.close()
      }
    } catch { case _: Throwable => }
}
