package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The bucketed 6 h RANGE frame equals the naive one row for row on the
  * cases its running totals and carry have to get right. */
class RangeFrameSpec extends SparkSpec {
  private val H = 3600L * 1000000L
  private val t0 = 1704067200000000L // 2024-01-01 00:00 UTC, a 24 h bucket start

  /** (event_id, event_type, µs after t0, value). */
  private def events(rows: Seq[(Long, String, Long, Option[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t, dt, v) => (id, t, t0 + dt, v) }
      .toDF("event_id", "event_type", "tsu", "value")
      .select(col("event_id"), col("event_type"),
        timestamp_micros(col("tsu")).as("ts"), col("value"))
  }

  private val rows = Seq(
    (1L, "a", 20 * H, Some(1.0)),
    (2L, "a", 20 * H, Some(2.5)),           // ts peer of 1
    (3L, "a", 26 * H, Some(3.0)),           // 6 h after 1 and 2, next bucket
    (4L, "a", 26 * H + 1, None),            // 6 h + 1 µs after 1 and 2
    (5L, "a", 32 * H + 1, None),            // frame {4, 5}: values all null
    (6L, "a", 32 * H + 1, None),            // ts peer of 5, null too
    (7L, "a", 50 * H, None),                // alone, null
    (8L, "a", 53 * H, Some(4.25)),          // null mixed in
    (9L, "b", 23 * H + 59 * 60 * 1000000L, Some(1.1)),
    (10L, "b", 24 * H, Some(-2.2)),         // first row of the next bucket
    (11L, "b", 29 * H + 59 * 60 * 1000000L, Some(5.5)), // exactly 6 h after 9
    (12L, "b", 30 * H, Some(0.01)),         // 9 has left, 10 still in
    (13L, "b", 30 * H, None))               // ts peer of 12, null

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  test("window_range_frame_bucketed equals the naive RANGE frame on peers, " +
      "frame edges, null frames and a bucket boundary") {
    val ev = events(rows)
    val naive = sorted(RelationalQueries.windowRangeFrameOf(ev))
    val bucketed = sorted(RelationalQueries.windowRangeFrameBucketedOf(ev))
    assert(bucketed == naive)
    val byId = naive.map(r => r.getLong(0) -> r).toMap
    def frame(id: Long): (Long, Any) = (byId(id).getLong(2), byId(id).get(3))
    // the cases above mean what they say
    assert(frame(1) == ((2L, 3.5)) && frame(2) == ((2L, 3.5)))
    assert(frame(3) == ((3L, 6.5)))
    assert(frame(4) == ((2L, 3.0)))
    assert(frame(5) == ((3L, null)) && frame(7) == ((1L, null)))
    assert(frame(8) == ((2L, 4.25)))
    assert(frame(11) == ((3L, 4.4)) && frame(12) == ((4L, 3.31)))
  }
}
