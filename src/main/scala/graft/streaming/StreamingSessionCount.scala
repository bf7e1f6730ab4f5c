package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live session-count ladder — the 32nd streaming twin, incremental
  * over x_session_gap_sweep: each arrival emits one existence hit
  * ("user" for a user's first event, "gap" with the interarrival gap
  * for every later one), and the read-side fold reproduces the batch
  * ladder exactly via the same identity sessions(T) = n_users +
  * #{gaps > T}. A gap is a PAIR fact (this event, previous event) —
  * later arrivals never revise it — so the emissions are append-only
  * (the [[StreamingGrowthAccounting]] dissolution, fourth
  * application) and n_events ≡ #hits because every arrival emits
  * exactly one.
  *
  * State per user is ONE long (the last event's epoch-ms) — the
  * cheapest state in the twin family alongside [[DailyForecast.ses]].
  * Runs under [[InOrderFold]]'s contract: an arrival with ms < lastMs
  * is a reorder whose gap pair the batch (which sorts) would have cut
  * differently, so it is rejected.
  *
  * At 100 TB: |users| longs of sharded state, one tiny hit per event,
  * calendar-free read-side rollup. */
object StreamingSessionCount {

  final case class LastMs(ms: Long)

  final case class SessHit(cls: String, gap_ms: Long)

  /** events: (user_id, ts_ms, event_id) — ts as epoch millis. Returns
    * the hit stream paired with its in-order-contract accumulator. */
  def emissions(events: DataFrame): (Dataset[SessHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    InOrderFold[(Long, Long, Long), Long, LastMs, SessHit](
      events.select("user_id", "ts_ms", "event_id").as[(Long, Long, Long)],
      "sessioncount", _._1, Ordering.by(r => (r._2, r._3))) {
      case (_, None, (_, ms, _)) => Some((LastMs(ms), SessHit("user", 0L) :: Nil))
      case (_, Some(p), (_, ms, _)) =>
        if (ms < p.ms) None
        else Some((LastMs(ms), SessHit("gap", ms - p.ms) :: Nil))
    }
  }

  /** Fold a table of emissions into the batch query's full output
    * (threshold_min, n_sessions, events_per_session_bp) — literally
    * the batch tail over the emitted hits. */
  def sessionsOf(emissions: DataFrame): DataFrame = {
    val spark = emissions.sparkSession
    import spark.implicits._
    val a = emissions.agg(
      count(lit(1)).as("n_events"),
      sum(when(col("cls") === "user", 1L).otherwise(0L)).as("n_users"),
      sum(when(col("cls") === "gap" && col("gap_ms") > 60000L, 1L)
        .otherwise(0L)).as("g1"),
      sum(when(col("cls") === "gap" && col("gap_ms") > 300000L, 1L)
        .otherwise(0L)).as("g5"),
      sum(when(col("cls") === "gap" && col("gap_ms") > 900000L, 1L)
        .otherwise(0L)).as("g15"),
      sum(when(col("cls") === "gap" && col("gap_ms") > 1800000L, 1L)
        .otherwise(0L)).as("g30"),
      sum(when(col("cls") === "gap" && col("gap_ms") > 3600000L, 1L)
        .otherwise(0L)).as("g60"))
    val ladder = Seq(1L, 5L, 15L, 30L, 60L).toDF("threshold_min")
    broadcast(ladder).crossJoin(broadcast(a))
      .select(col("threshold_min"),
        (col("n_users") + coalesce(when(col("threshold_min") === 1, col("g1"))
          .when(col("threshold_min") === 5, col("g5"))
          .when(col("threshold_min") === 15, col("g15"))
          .when(col("threshold_min") === 30, col("g30"))
          .otherwise(col("g60")), lit(0L))).as("n_sessions"),
        col("n_events"))
      .select(col("threshold_min"), col("n_sessions"),
        expr("n_events * 10000 DIV n_sessions").as("events_per_session_bp"))
      .orderBy(col("threshold_min"))
  }
}
