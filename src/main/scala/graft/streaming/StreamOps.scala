package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY.md §2.9: true Structured Streaming forms of the reference's
  * micro-batch pipeline (daily timer function.json:6; DB-constraint dedup
  * database.py:71,87). Each transform takes ANY events-shaped DataFrame —
  * batch or streaming — so StreamOpsSpec can assert batch/stream equivalence
  * with MemoryStream, and StreamQueries' batch forms share semantics.
  *
  * Scale: watermarks bound state; dedup state is per-key-minimal (the
  * reference's per-row SELECT-before-INSERT becomes O(distinct keys in the
  * watermark horizon) state, not O(rows)).
  */
object StreamOps {

  /** T2: tumbling 1-day counts per event type, 1h watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("day_start"), col("event_type"), col("cnt"))

  /** T4: 30-minute-gap session windows per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Per-day DISTINCT USERS with a mergeable THETA sketch as the streaming
    * state: the sketch IS the agg buffer, so each micro-batch folds its
    * partial sketch into the stored one losslessly — the streaming form of
    * the A4e rollup, where exact per-window distinct state would be
    * O(users-per-window) and the sketch is KBs flat. Exact below 4096
    * retained keys (all test SFs), ±1.6% beyond with the same plan. */
  def distinctUsersDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(theta_sketch_estimate(theta_sketch_agg(col("user_id")))
             .cast("long").as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("day_start"), col("n_users"), col("n_events"))

  /** T11: stream-static dimension enrich — the live event feed joins a
    * BROADCAST static dim (the reference's category lookup shape) before
    * its windowed aggregation. Stream-static joins are stateless in
    * Structured Streaming (the static side re-resolves per micro-batch, so
    * a dim refresh on disk is picked up without restarting the query); the
    * only stateful work remains the watermarked windowed count. At 100 TB/
    * day the dim broadcasts to every executor once per batch and the fact
    * stream never shuffles before the window agg keys it. */
  def staticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("n_nationkey", (col("user_id") % 25).cast("int"))
      .join(broadcast(dim.select(col("n_nationkey"), col("n_name"))),
        Seq("n_nationkey"))
      .groupBy(window(col("ts"), "1 day"), col("n_name"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("day_start"), col("n_name"),
        col("cnt"), col("total_value"))

  /** T6: streaming dedup on event_id within the watermark horizon —
    * the DB unique-constraint (database.py:71) as streaming state. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** T7: stateful first-seen tracking per user via mapGroupsWithState —
    * the reference's "already inserted?" probe (database.py:116-123) kept
    * incrementally. Emits (user_id, first_seen_epoch, n_events_so_far). */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserState(firstSeen: Long, n: Long)
  case class UserSeen(user_id: Long, first_seen_epoch: Long, n_events: Long)

  def firstSeenPerUser(events: Dataset[Ev]): Dataset[UserSeen] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSeen](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserState]) =>
          val batch = evs.toSeq
          val minTs = batch.map(_.ts.getTime / 1000).min
          val prev = state.getOption.getOrElse(UserState(Long.MaxValue, 0L))
          val next = UserState(math.min(prev.firstSeen, minTs), prev.n + batch.size)
          state.update(next)
          UserSeen(uid, next.firstSeen, next.n)
      }
  }

  /** Stream-stream interval join: purchases joined to the same user's clicks
    * within the preceding hour — watermarks on BOTH sides bound the join
    * state (without them the state store grows unboundedly at scale). */
  def purchasesWithRecentClicks(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("value"))
  }

  /** T9b: LEFT OUTER stream-stream interval join — every purchase emits,
    * clickless ones with a null click_id. The outer row can only be
    * released once the watermark proves no matching click can still
    * arrive, so unmatched results trail the inner ones by up to the
    * watermark delay — the structural latency cost of outer semantics on
    * unbounded streams (Spark runs the no-data micro-batch that flushes
    * them when the watermark advances). State bounds are identical to the
    * inner form: both sides watermarked, the event-time band prunes. */
  def purchasesWithRecentClicksOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("value"))
  }

  /** T9c: the LEFT SEMI stream-stream interval join — purchases that had
    * at least one click in the preceding hour, emitted ONCE each (semi
    * semantics dedup the click fan-out inside the join, so conversion
    * detection never multiplies purchases by click count). Completes the
    * supported stream-stream interval matrix next to the inner
    * ([[purchasesWithRecentClicks]]) and left-outer
    * ([[purchasesWithRecentClicksOuter]]) forms; state stays
    * watermark-bounded exactly like the inner join (semi emits eagerly on
    * first match and drops the purchase from state). */
  def purchasesWithRecentClicksSemi(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "left_semi")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("value"))
  }

  /** T7b: flatMapGroupsWithState — sessionization emitting one row per
    * CLOSED session (zero-or-more outputs per invocation, which is what
    * flatMap adds over mapGroupsWithState). Event-time logic kept in the
    * state function itself. Late-data policy (r10 review): events inside
    * the gap horizon of the last CLOSED session's end (t < end + gap) are
    * DROPPED — such an event belonged to, or would have extended, a
    * session already emitted in append mode, so without the drop a late
    * arrival fabricates a bogus overlapping session; this is exactly what
    * a watermark would discard, expressed as per-key state (the
    * high-water mark) since the op keeps NoTimeout/no-watermark
    * semantics. */
  case class SessionAcc(events: List[Long], hwm: Long = Long.MinValue)
  case class ClosedSession(user_id: Long, n_events: Long, first_epoch: Long, last_epoch: Long)

  def closedSessions(events: Dataset[Ev], gapSeconds: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionAcc]) =>
          val prev = state.getOption.getOrElse(SessionAcc(Nil))
          // drop late events below the high-water mark (closed end + gap —
          // see the scaladoc's late-data policy)
          val incoming = evs.map(_.ts.getTime / 1000)
            .filter(_ >= prev.hwm).toList.sorted
          val all = (prev.events ++ incoming).sorted
          // split into gap-separated sessions; the last one stays open in state
          val sessions = all.foldLeft(List(List.empty[Long])) { (acc, t) =>
            acc.head match {
              case Nil => (t :: Nil) :: acc.tail
              case last :: _ if t - last < gapSeconds => (t :: acc.head) :: acc.tail
              case _ => (t :: Nil) :: acc
            }
          }.map(_.reverse).reverse
          val closed = sessions.dropRight(1)
          val newHwm =
            closed.lastOption.map(_.last + gapSeconds).getOrElse(prev.hwm)
          state.update(SessionAcc(sessions.last, newHwm))
          closed.iterator.map(s =>
            ClosedSession(uid, s.size.toLong, s.head, s.last))
      }
  }

  /** T7c: streaming sequence-pattern detection — the MATCH_RECOGNIZE analog
    * (`event_pattern_match`'s batch semantics) as per-key state: keep only
    * the last TWO events per user (O(1) state — the pattern window, never
    * the history) and emit a burst row whenever the sliding triple matches
    * view → click → purchase within the span bound. Input is consumed in
    * per-user event-time order (the spec's MemoryStream feeds ordered
    * batches; an out-of-order deployment puts a watermark + sort-within-
    * batch in front, the documented T5 pattern). */
  case class PatState(t1: String, us1: Long, id1: Long,
      t2: String, us2: Long, id2: Long)
  case class Burst(user_id: Long, view_event_id: Long, span_us: Long)

  def streamPatternBursts(events: Dataset[Ev], maxSpanUs: Long): Dataset[Burst] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, Burst](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[PatState]) =>
          var st = state.getOption.getOrElse(PatState("", 0L, 0L, "", 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[Burst]
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val us = e.ts.getTime * 1000
            if (st.t1 == "view" && st.t2 == "click" &&
                e.event_type == "purchase" && us - st.us1 <= maxSpanUs)
              out += Burst(uid, st.id1, us - st.us1)
            st = PatState(st.t2, st.us2, st.id2, e.event_type, us, e.event_id)
          }
          state.update(st)
          out.iterator
      }
  }

  // ---- stateful streaming as-of enrichment ---------------------------------

  /** One row of the unified feature/event feed: `kind` is "feature"
    * (a new version of the key's feature, current from `ts` on) or
    * "event" (to be enriched with the feature current AT its `ts`). */
  case class AsOfFeed(kind: String, key: Long, ts: Long,
    value: Option[Double], eventId: Option[Long])
  case class AsOfVersions(versions: List[(Long, Double)])
  case class AsOfEnriched(event_id: Long, key: Long, ts: Long,
    value: Option[Double])

  /** Prune feature versions that can never again be an as-of answer: once
    * every future event has `ts > watermark`, only the NEWEST version at or
    * below the watermark (the standing candidate) and everything after it
    * matter. Keeps state O(update rate × horizon), not O(history) —
    * the bound that lets the operator run forever at 100 TB feed rates.
    * `versions` must be ascending by time. */
  def pruneAsOfVersions(versions: List[(Long, Double)],
      watermark: Long): List[(Long, Double)] = {
    val (old, recent) = versions.partition(_._1 <= watermark)
    (if (old.nonEmpty) List(old.last) else Nil) ++ recent
  }

  /** The stateful-streaming twin of the batch [[graft.plans.AsOfJoin]]
    * (PointInTimeSpec's enrichment): one operator carries the feature
    * history per key in state and enriches events with the value current
    * AT their event time — never a later one (label leakage).
    *
    * Contract (the feature-store semantics): a feature version is visible
    * to events in ITS OWN micro-batch and later ones — within a batch all
    * feature rows apply before any event is answered, so batch-internal
    * row order never matters. When every feature version lands no later
    * than the first event that needs it, the output row-set equals the
    * batch as-of join of the full feeds (the equivalence spec).
    *
    * 100 TB shape: state is per-key feature versions, pruned against the
    * event-time watermark via [[pruneAsOfVersions]] when one is set; the
    * shuffle is one hash exchange on the key — identical geometry to the
    * batch operator's co-partitioning, with the merge amortized across
    * micro-batches instead of a per-partition sort.
    *
    * WATERMARK CONTRACT (r12 STREAM_SF1 finding, ENFORCED r13): a streaming
    * feed must carry an `EventTimeWatermark` node, or state is never pruned
    * and grows with history forever. The silent failure mode is a
    * select/drop after `withWatermark` that removes the event-time column —
    * Spark drops the watermark node with it and nothing downstream ever
    * notices (measured in the sf1 rehearsal: pruned state == unpruned).
    * The operator now asserts the node survived ANALYSIS of the input plan
    * and fails loudly otherwise; unbounded state (e.g. a bounded
    * equivalence test, or a feed whose key space is known tiny) is an
    * explicit `allowUnboundedState = true` opt-in, never a default. */
  def streamingAsOfEnrich(feed: Dataset[AsOfFeed],
      allowUnboundedState: Boolean = false): Dataset[AsOfEnriched] = {
    import feed.sparkSession.implicits._
    if (feed.isStreaming && !allowUnboundedState) {
      // the EventTimeWatermark NODE survives analysis even under the
      // degenerate projection — what the runtime actually needs is the
      // watermarked ATTRIBUTE still reaching this operator's input, so
      // that is what the guard asserts (a select that drops the column
      // leaves the node stranded below the Project and the optimizer
      // erases it before execution — the r12 silent-leak mechanism)
      val analyzed = feed.queryExecution.analyzed
      val wmAttrs = analyzed.collect {
        case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
          e.eventTime.exprId
      }.toSet
      // exprId match OR the watermark-delay metadata key (r13 ADVICE): a
      // projection that merely RENAMES the event-time column
      // (select(col("ets").as("event_time"), ...)) mints a new exprId but
      // the Alias copies the child attribute's metadata — including the
      // spark.watermarkDelayMs marker withWatermark stamped — and the
      // EventTimeWatermark node still prunes state through it, so rejecting
      // the alias was a false positive pushing callers toward the
      // allowUnboundedState escape hatch
      val delayKey =
        org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.delayKey
      val hasWm = analyzed.output.exists(a =>
        wmAttrs.contains(a.exprId) || a.metadata.contains(delayKey))
      require(hasWm,
        "streamingAsOfEnrich: the input stream has NO EventTimeWatermark " +
        "node, so per-key feature state would never be pruned and grows " +
        "with history forever. The usual cause is a select/drop after " +
        "withWatermark that removes the event-time column — Spark silently " +
        "drops the watermark node with it. Keep the watermarked column " +
        "in-plan (`as[T]` with an extra column binds by name and is fine), " +
        "or opt in explicitly with allowUnboundedState = true.")
    }
    feed
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfVersions, AsOfEnriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsOfFeed], state: GroupState[AsOfVersions]) =>
          val batch = rows.toSeq
          val newVersions = batch.filter(_.kind == "feature")
            .map(f => (f.ts, f.value.getOrElse(
              sys.error(s"feature row without value (key=$key)"))))
          val merged = (state.getOption.map(_.versions).getOrElse(Nil)
            ++ newVersions).sortBy(_._1)
          // getCurrentWatermarkMs throws (rather than returning 0) on a
          // query with no watermark clause — treat that as "never prune"
          val wm = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L)
          val kept = if (wm > 0) pruneAsOfVersions(merged, wm) else merged
          state.update(AsOfVersions(kept))
          batch.filter(_.kind == "event").sortBy(e => (e.ts, e.eventId))
            .iterator.map { e =>
              val current = merged.takeWhile(_._1 <= e.ts).lastOption
              AsOfEnriched(e.eventId.getOrElse(
                sys.error(s"event row without id (key=$key)")), key, e.ts,
                current.map(_._2))
            }
      }
  }

  /** The same as-of enrichment on Spark 4's `transformWithState` API — the
    * successor to flatMapGroupsWithState: typed per-key state handles
    * (ValueState here; ListState/MapState for bigger shapes), explicit
    * TimeMode, RocksDB-backed. Kept alongside [[streamingAsOfEnrich]] so
    * the two stateful APIs are proven equivalent on the same contract. */
  class AsOfEnrichProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, AsOfFeed, AsOfEnriched] {
    @transient private var versions:
      org.apache.spark.sql.streaming.ValueState[AsOfVersions] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      versions = getHandle.getValueState[AsOfVersions]("versions",
        org.apache.spark.sql.Encoders.product[AsOfVersions],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[AsOfFeed],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[AsOfEnriched] = {
      val batch = rows.toSeq
      val newVersions = batch.filter(_.kind == "feature")
        .map(f => (f.ts, f.value.getOrElse(
          sys.error(s"feature row without value (key=$key)"))))
      val merged = (Option(versions.get()).map(_.versions).getOrElse(Nil)
        ++ newVersions).sortBy(_._1)
      val wm = timerValues.getCurrentWatermarkInMs()
      val kept = if (wm > 0) pruneAsOfVersions(merged, wm) else merged
      versions.update(AsOfVersions(kept))
      batch.filter(_.kind == "event").sortBy(e => (e.ts, e.eventId))
        .iterator.map { e =>
          val current = merged.takeWhile(_._1 <= e.ts).lastOption
          AsOfEnriched(e.eventId.getOrElse(
            sys.error(s"event row without id (key=$key)")), key, e.ts,
            current.map(_._2))
        }
    }
  }

  /** [[streamingAsOfEnrich]] on the transformWithState operator (requires
    * the RocksDB state store provider — set by the caller/spec). */
  def streamingAsOfEnrichTws(feed: Dataset[AsOfFeed]): Dataset[AsOfEnriched] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.key)
      .transformWithState(new AsOfEnrichProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming benchmark decontamination (the streaming form of
    * TrainDataQueries' N5): score each arriving document against a FIXED
    * eval-set gram set carried as a literal array (the eval set is tiny by
    * definition, so it rides inside the expression — the streaming analog
    * of the batch broadcast). Pure per-row array math: stateless, append
    * mode, no watermark, no state store — the shape that keeps a crawl
    * filter running at ingest rate. Emits contaminated (doc_id, n_shared). */
  def decontamStream(docs: DataFrame, benchGrams: Seq[String]): DataFrame = {
    // an argless array() is array<null> and fails array_intersect analysis —
    // an empty eval set must mean "nothing is contaminated", typed correctly
    val bench =
      if (benchGrams.isEmpty) array().cast("array<string>")
      else array(benchGrams.map(lit): _*)
    docs
      .select(col("doc_id"),
        size(array_intersect(
          array_distinct(graft.TrainDataQueries.gramsOf(col("text"), 5)),
          bench)).as("n_shared"))
      .filter(col("n_shared") > 0)
  }

  /** The corpus-scale form of [[decontamStream]]: the eval set rides as a
    * BLOOM FILTER literal (KBs at 8 bits/gram regardless of gram count —
    * the literal gram array above caps out at expression-size limits long
    * before a real eval set does), built ONCE in batch
    * ([[graft.ops.BloomOps.build]], distributed, only the finished filter
    * reaches the driver) and shipped to every micro-batch task; survivors
    * exact-verify against the broadcast true gram set, so Bloom false
    * positives die and the stream's answer matches the batch operator
    * exactly. Stateless — gram gate + stream-static broadcast join, append
    * mode, no watermark, no state store: ingest-rate decontamination.
    * Emits contaminated (doc_id, gram) pairs; the consumer aggregates per
    * doc (a stream cannot know a doc's gram set is complete). */
  def decontamStreamBloom(docs: DataFrame, bloom: Array[Byte],
      benchGrams: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(graft.TrainDataQueries.gramsOf(col("text"), 5)))
          .as("gram"))
      .filter(graft.ops.BloomOps.mightContain(bloom, col("gram")))
      // distinct: a duplicate gram row in the eval set would double-emit
      // the (doc_id, gram) pair and inflate per-doc overlap counts vs the
      // batch operator's array_intersect (set) semantics (r10 review)
      .join(broadcast(benchGrams.select(col("gram")).distinct()), Seq("gram"))
      .select("doc_id", "gram")

  /** Streaming crawl-frontier dedup: canonicalize each arriving URL
    * (case/port/fragment/tracking-param normalization — CorpusQueries' N20
    * expression) and keep the FIRST sighting of each canonical form within
    * the watermark horizon. dropDuplicatesWithinWatermark keys state on the
    * canonical URL and expires it with the watermark, so frontier state is
    * bounded by the horizon's crawl volume, not by history — the property
    * that lets a frontier run for months. Emits the kept rows (canonical
    * form added). */
  def frontierDedup(pages: DataFrame, horizon: String = "10 minutes"): DataFrame =
    pages
      .withColumn("canonical_url", graft.CorpusQueries.canonicalUrl(col("url")))
      .withWatermark("fetch_ts", horizon)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** T8: idempotent micro-batch sink — anti-join each batch against already-
    * written keys before append (the reference's rollback-per-row dedup,
    * database.py:192-201, done set-wise). */
  def idempotentAppend(batch: DataFrame, existingKeys: DataFrame, keyCol: String): DataFrame =
    batch.join(existingKeys.select(keyCol), Seq(keyCol), "left_anti")

  /** T10: serving store for [[trendingTopK]] — the in-memory stand-in for
    * the keyed MERGE-target table a production deployment maintains (the
    * JdbcShapedSink shape). Rank is computed on read over the standing
    * counts: aggregate-sized (windows × types), never event-sized. */
  final class TrendStore {
    private val counts = scala.collection.concurrent.TrieMap.empty[(Long, String), Long]
    private val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    def upsertBatch(rows: Seq[(Long, String, Long)]): Unit = synchronized {
      batchSizes += rows.size
      rows.foreach { case (day, tpe, cnt) => counts((day, tpe)) = cnt }
    }
    /** Rows upserted per trigger — update mode must emit only the windows
      * whose counts changed, so these stay delta-sized. */
    def upsertsPerBatch: Seq[Int] = synchronized(batchSizes.toSeq)
    /** Current top-k per window: (day_epoch, event_type, cnt, rank). */
    def topK(k: Int): Seq[(Long, String, Long, Int)] =
      counts.toSeq.groupBy(_._1._1).toSeq.flatMap { case (day, rows) =>
        rows.map { case ((_, t), c) => (t, c) }
          .sortBy { case (t, c) => (-c, t) }
          .take(k).zipWithIndex
          .map { case ((t, c), i) => (day, t, c, i + 1) }
      }.sortBy(r => (r._1, r._4))
  }

  /** T10: "trending now" — tumbling-day event-type counts kept as the ONLY
    * stateful streaming op (watermarked, UPDATE mode: each trigger emits
    * just the windows whose counts changed); ranking happens downstream of
    * the store, per read, over aggregate-sized rows. This is the standard
    * split for streaming top-k: the rank itself is not incrementally
    * maintainable as append-mode state, but the counts under it are — so
    * the stream maintains counts and the serving layer ranks. Returns the
    * running query; the caller drives triggers and stops it.
    *
    * DELTA-SIZED CONTRACT (ENFORCED r14 — r13 verdict #6): each update-mode
    * micro-batch must stay aggregate-sized (changed windows × types), never
    * event-sized — the foreachBatch collect is a driver sink, so a
    * degenerate key space (e.g. a per-event column leaking into the
    * groupBy, or update mode silently becoming complete-shaped) would
    * buffer the stream on the driver unseen, the same silent-until-sf1
    * class as the r12 watermark foot-gun. The probe is
    * `limit(maxDeltaRows + 1).collect()` — the [[graft.GraphQueries]]
    * mergeCap pattern — NOT observe(): an observed count is only known
    * after the full collect has already landed on the driver, i.e. after
    * the damage; the limit probe bounds driver memory BEFORE paying it,
    * and below the cap it IS the batch (one materialization, no second
    * pass). */
  def trendingTopK(events: DataFrame, store: TrendStore,
      maxDeltaRows: Int = 100000): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("day_epoch"),
        col("event_type"), col("cnt"))
      .writeStream.outputMode("update")
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val probed = b.limit(maxDeltaRows + 1).collect()
        if (probed.length > maxDeltaRows) throw new IllegalStateException(
          s"trendingTopK: micro-batch $batchId emitted > $maxDeltaRows rows — " +
            "update-mode deltas must stay aggregate-sized (changed windows " +
            "x event types). An event-sized delta means the aggregation " +
            "keys degenerated and the serving-store upsert would buffer " +
            "the stream on the driver. Raise maxDeltaRows only if the key " +
            "space is genuinely that large.")
        store.upsertBatch(probed.toSeq
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))))
      }
      .start()

  /** Wire a streaming query to memory sink for tests / demos. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }
}
