package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Session, Tables}
import graft.streaming.{IndexDeltaSink, StreamOps}

/** Streaming rehearsal at sf1 state volume (r11 verdict #2): the sf1 gate
  * covered batch only; the streaming layer's specs run on toy MemoryStreams.
  * This driver pushes the stateful streaming operators through the FULL sf1
  * events/documents volume (1M rows / 50k docs) across >= 20 micro-batches,
  * on BOTH state-store providers, measuring per-trigger latency and
  * state-store size, and rehearses a mid-stream crash/restart from
  * checkpoint. Evidence lands in STREAM_SF1.md.
  *
  * Legs:
  *   A. streamingAsOfEnrich over a 1M-row feature/event feed (file source,
  *      20 files, maxFilesPerTrigger=1) WITH an event-time watermark —
  *      state must plateau at the watermark horizon (pruneAsOfVersions'
  *      promise), not grow with history; contrast run without watermark
  *      shows the unbounded alternative. Mid-stream stop + restart from
  *      checkpoint; final output row-set must equal the BATCH as-of join
  *      of the full feeds (exactly-once under replay).
  *   B. trendingTopK over the 1M-event stream: update-mode emissions stay
  *      delta-sized; final store ranks equal the batch groupBy.
  *   C. IndexDeltaSink over the 50k-doc corpus in 20 deltas + a replayed
  *      batch id + a new-id redelivery: final index equals the one-shot
  *      batch rebuild.
  *
  * Usage: runMain graft.tools.StreamSf1 <sfDir> [outMd]
  */
object StreamSf1 {
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private case class TriggerStats(
      batches: Int, medMs: Long, maxMs: Long,
      stateRowsLast: Long, stateMemLastMb: Double,
      stateRowsPeak: Long, outRows: Long)

  /** Drain a query, collecting per-trigger metrics from recentProgress. */
  private def drain(q: StreamingQuery): Unit = q.processAllAvailable()

  private def stats(q: StreamingQuery, outRows: Long): TriggerStats = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val durs = ps.map(_.durationMs.get("triggerExecution").toLong).sorted
    val so = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val rows = ps.map(p => Option(p.stateOperators).toSeq.flatten
      .map(_.numRowsTotal).sum)
    TriggerStats(
      batches = ps.length,
      medMs = if (durs.nonEmpty) durs(durs.length / 2) else 0L,
      maxMs = if (durs.nonEmpty) durs.last else 0L,
      stateRowsLast = if (rows.nonEmpty) rows.last else 0L,
      stateMemLastMb = if (so.nonEmpty)
        so.last.memoryUsedBytes / 1048576.0 else 0.0,
      stateRowsPeak = if (rows.nonEmpty) rows.max else 0L,
      outRows = outRows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata-sf1")
    val outMd = args.lift(1).getOrElse("/tmp/stream_sf1_log.md")
    // leg C wants a REALISTIC vocabulary (the synthetic 30-word corpus
    // yields a 31-term index); default to the zipf fixture when present
    val docsDir = args.lift(2).getOrElse(
      if (Files.exists(Paths.get("/root/repo/testdata-zipf/sf1")))
        "/root/repo/testdata-zipf/sf1" else sfDir)
    val spark = Session.local(32)
    import spark.implicits._
    val report = new StringBuilder
    def log(s: String): Unit = { println(s"[stream-sf1] $s"); report.append(s).append('\n') }

    // ---- the 1M-row feature/event feed, 20 ts-ordered files -------------
    // key = user_id % 1000 (1k keys x ~1k rows each); every 5th row is a
    // feature version, the rest are events to enrich. ts is event-time
    // millis spanning the full 31-day window, so a 1h watermark horizon is
    // ~0.13% of history — pruned state must sit FAR below the unpruned run.
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val feedDir = tmp("sf1-feed")
    val feed = ev.select(
      when(col("event_id") % 5 === 0, lit("feature")).otherwise(lit("event"))
        .as("kind"),
      (col("user_id") % 1000).as("key"),
      unix_millis(col("ts")).as("ts"),
      when(col("event_id") % 5 === 0, col("value")).as("value"),
      when(col("event_id") % 5 =!= 0, col("event_id")).as("eventId"),
      ntile(20).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))).as("slice"))
    val feedMat = feed.localCheckpoint()
    val nFeed = feedMat.count()
    (1 to 20).foreach { s =>
      feedMat.filter(col("slice") === s).drop("slice")
        .coalesce(1).write.mode("overwrite").parquet(f"$feedDir/b$s%02d")
    }
    log(f"feed: $nFeed%,d rows -> 20 ts-ordered slices at $feedDir")

    // batch reference: as-of join of the full feeds
    val featDf = feedMat.filter(col("kind") === "feature")
      .select(col("key").as("f_ent"), col("ts").as("f_from"),
        col("value").as("f_val"))
    val evDf = feedMat.filter(col("kind") === "event")
      .select(col("eventId").as("event_id"), col("key").as("entity"),
        col("ts").as("ev_ts"))
    val batchRef = graft.plans.AsOfJoinOps.asofJoin(evDf, featDf,
        Seq("entity"), Seq("f_ent"), "ev_ts", "f_from", leftOuter = true)
      .select(col("event_id"), col("f_val"))
      .localCheckpoint()
    val batchCount = batchRef.count()
    log(f"batch as-of reference: $batchCount%,d enriched events")

    def readFeed(watermark: Boolean) = {
      val raw = spark.readStream
        .schema("kind STRING, key LONG, ts LONG, value DOUBLE, eventId LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$feedDir/b*")
      // keep the event-time column in the plan: selecting it away would
      // drop the EventTimeWatermark node and the operator would never see
      // a watermark (measured: pruned == unpruned state without this).
      // as[AsOfFeed] binds by name; the extra ets column is ignored.
      val wm = if (watermark)
        raw.withColumn("ets", timestamp_millis(col("ts")))
          .withWatermark("ets", "1 hour")
      else raw
      wm.as[StreamOps.AsOfFeed]
    }

    // ---- leg A: as-of enrich, both providers, watermarked ---------------
    for ((label, provider) <- Seq("hdfs" -> None, "rocksdb" -> Some(RocksDb))) {
      provider match {
        case Some(c) => spark.conf.set(ProviderKey, c)
        case None => spark.conf.unset(ProviderKey)
      }
      val ckpt = tmp(s"sf1-asof-ckpt-$label")
      val outDir = tmp(s"sf1-asof-out-$label")
      def start(): StreamingQuery =
        StreamOps.streamingAsOfEnrich(readFeed(watermark = true))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      // phase 1: run to completion of currently visible files, then CRASH
      // mid-history: AvailableNow drains all 20; instead stop after ~10
      // triggers by polling progress
      val q1 = start()
      var stopped = false
      while (!stopped) {
        Thread.sleep(200)
        if (q1.recentProgress.count(_.numInputRows > 0) >= 10) {
          q1.stop(); stopped = true
        } else if (!q1.isActive) stopped = true
      }
      val p1 = q1.recentProgress.count(_.numInputRows > 0)
      // phase 2: restart from the SAME checkpoint; file source replays the
      // in-flight batch and continues — exactly-once via sink manifest
      val t0 = System.nanoTime()
      val q2 = start()
      q2.awaitTermination()
      val restartS = (System.nanoTime() - t0) / 1e9
      val out = spark.read.parquet(outDir)
        .select(col("event_id"), col("value").as("f_val"))
      val outCount = out.count()
      // event_id is unique, so symmetric set difference == exact match
      val diff = out.except(batchRef).count() + batchRef.except(out).count()
      val s = stats(q2, outCount)
      log(f"asof[$label]: crash after $p1 triggers, restart drained " +
        f"${s.batches} more in $restartS%.1f s; out=$outCount%,d rows " +
        f"(batch=$batchCount%,d, setdiff=${diff}); " +
        f"trigger med=${s.medMs} ms max=${s.maxMs} ms; " +
        f"state keys last=${s.stateRowsLast}%,d peak=${s.stateRowsPeak}%,d " +
        f"mem=${s.stateMemLastMb}%.1f MB")
      assert(diff == 0, s"asof[$label] stream != batch")
    }

    // ---- leg A': watermark-pruning contrast (state memory bounded) ------
    // same feed, same operator, NO watermark: versions accumulate forever.
    // The comparison number is state memory after the full month of feed.
    spark.conf.unset(ProviderKey)
    for ((label, watermark) <- Seq("pruned" -> true, "unpruned" -> false)) {
      // the unpruned contrast is exactly the shape the r13 watermark guard
      // rejects — it exists to MEASURE what the guard prevents, so it opts
      // in explicitly
      val q = StreamOps.streamingAsOfEnrich(readFeed(watermark),
          allowUnboundedState = !watermark)
        .writeStream.format("noop")
        .option("checkpointLocation", tmp(s"sf1-asof-wm-$label"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val s = stats(q, 0)
      log(f"asof-wm[$label]: ${s.batches} triggers, " +
        f"state keys=${s.stateRowsLast}%,d mem=${s.stateMemLastMb}%.1f MB, " +
        f"trigger med=${s.medMs} ms max=${s.maxMs} ms")
    }

    // ---- leg B: trendingTopK over the 1M-event stream -------------------
    val evDir = tmp("sf1-ev")
    val evSliced = ev.withColumn("slice",
      ntile(20).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))).localCheckpoint()
    (1 to 20).foreach { s =>
      evSliced.filter(col("slice") === s).drop("slice")
        .withColumn("event_type",
          element_at(array(lit("click"), lit("view"), lit("purchase"),
            lit("signup"), lit("error")), (col("event_id") % 5 + 1).cast("int")))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(f"$evDir/b$s%02d")
    }
    val store = new StreamOps.TrendStore
    val evStream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(s"$evDir/b*")
    val qt = StreamOps.trendingTopK(evStream, store)
    drain(qt); qt.stop()
    val upserts = store.upsertsPerBatch
    val batchTop = spark.read.parquet(s"$evDir/b*")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("day"),
        col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val storeTop = store.topK(5).map(r => (r._1, r._2) -> r._3).toMap
    assert(storeTop == batchTop,
      s"trending store != batch counts (${storeTop.size} vs ${batchTop.size})")
    log(f"trending: 20 triggers over ${1000000} events; upserts/batch " +
      f"min=${upserts.min} med=${upserts.sorted.apply(upserts.size / 2)} " +
      f"max=${upserts.max} (aggregate-sized, never event-sized); " +
      f"final store == batch counts (${batchTop.size} windowsxtypes)")

    // ---- leg D: stream-stream interval joins over the 1M-event stream ---
    // watermarks on BOTH sides (2h) must bound join state to the horizon's
    // event volume while the stream covers a 31-day history; the final
    // inner-join row-set must equal the batch interval join of the same
    // files (left-outer's unmatched rows trail the watermark by design, so
    // the batch-equality leg uses the inner and semi forms).
    def evStreamD = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(s"$evDir/b*")
    val evBatch = spark.read.parquet(s"$evDir/b*")
    for ((label, f) <- Seq[(String, DataFrame => DataFrame)](
        "inner" -> StreamOps.purchasesWithRecentClicks,
        "semi" -> StreamOps.purchasesWithRecentClicksSemi)) {
      val outDir = tmp(s"sf1-ivj-$label")
      val q = f(evStreamD)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", tmp(s"sf1-ivj-ckpt-$label"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = spark.read.parquet(outDir)
      val ref = f(evBatch)
      val diff = streamed.except(ref).count() + ref.except(streamed).count()
      val s = stats(q, streamed.count())
      log(f"interval-join[$label]: ${s.batches} triggers, out=${s.outRows}%,d " +
        f"rows (setdiff vs batch=$diff); trigger med=${s.medMs} ms " +
        f"max=${s.maxMs} ms; join state rows last=${s.stateRowsLast}%,d " +
        f"peak=${s.stateRowsPeak}%,d mem=${s.stateMemLastMb}%.1f MB")
      assert(diff == 0, s"interval-join[$label] stream != batch")
    }

    // ---- leg C: IndexDeltaSink over the 50k-doc corpus ------------------
    val docs = Tables.documents(spark, docsDir).select("doc_id", "text")
      .localCheckpoint()
    val sink = new IndexDeltaSink(tmp("sf1-index"))
    val times = (0 until 20).map { i =>
      val b = docs.filter(col("doc_id") % 20 === i)
      val t0 = System.nanoTime()
      sink.writeBatch(b, i.toLong)
      (System.nanoTime() - t0) / 1e9
    }
    // same-id replay + new-id redelivery of already-indexed docs: no-ops
    sink.writeBatch(docs.filter(col("doc_id") % 20 === 3), 3L)
    sink.writeBatch(docs.filter(col("doc_id") % 20 === 7), 20L)
    val streamedIdx = sink.table(spark).get
      .agg(count(lit(1)), sum("df"), sum("cf")).collect().head
    val rebuiltIdx = graft.SearchQueries.indexFull(docs)
      .agg(count(lit(1)), sum("df"), sum("cf")).collect().head
    assert(streamedIdx.toString == rebuiltIdx.toString,
      s"incremental index != rebuild: $streamedIdx vs $rebuiltIdx")
    val ts = times.sorted
    log(f"index-delta: 20 deltas over 50k docs, merge med=${ts(ts.size / 2)}%.2f s " +
      f"max=${ts.last}%.2f s; replay(id=3) + redelivery(new id) added nothing; " +
      f"final == one-shot rebuild (${streamedIdx.getLong(0)}%,d terms)")

    Files.writeString(Paths.get(outMd), report.toString)
    log(s"report -> $outMd")
    spark.stop()
  }
}
