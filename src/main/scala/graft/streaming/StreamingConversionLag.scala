package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live view→purchase conversion lag — the 36th streaming twin,
  * incremental over x_conversion_lag: each user emits AT MOST ONE lag
  * hit, at the moment their first strictly-after-first-view purchase
  * arrives; any counting sink plus the batch ladder tail then
  * reproduces the six-rung lag table exactly.
  *
  * Append-only by construction: under per-user in-order delivery the
  * first 'view' arrival IS min(view ms) and the first 'purchase'
  * arrival with ms > that IS the batch's min qualifying purchase, so
  * the single emitted lag is decided at emission time and never
  * revised (the [[StreamingGrowthAccounting]] dissolution — a
  * conversion is an existence fact). Users whose purchases all precede
  * their first view emit nothing, exactly the batch inner-join drop.
  * EQUAL-timestamp arrivals are order-invariant: conversion requires
  * ms STRICTLY greater than the first view, so a view and purchase
  * sharing a millisecond cannot convert regardless of arrival order
  * within the tie — the detector therefore only needs ms < lastMs.
  *
  * State per user is three longs' worth (first-view ms, a done flag,
  * last seen ms); the fold reads only 'view'/'purchase' rows (the two
  * types the batch query reads — filtered inside, so the caller can
  * hand it the raw event stream). It runs under [[InOrderFold]]'s
  * contract: an arrival with ms < lastMs is rejected.
  *
  * Trust chain: the batch x_conversion_lag is oracle-hash-matched, so
  * the parity spec's equality pins stream ≡ batch ≡ DuckDB across
  * micro-batch splits and a checkpoint restart. At 100 TB: |users| ×
  * three longs of sharded state, ≤ one emission per user EVER, and a
  * 6-row read-side ladder. */
object StreamingConversionLag {

  final case class ConvState(viewMs: Long, done: Boolean, lastMs: Long)

  final case class LagHit(lag_ms: Long)

  /** events: (user_id, event_type, ts_ms, event_id). Returns the hit
    * stream paired with its in-order-contract accumulator. */
  def emissions(events: DataFrame): (Dataset[LagHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    InOrderFold[(Long, String, Long, Long), Long, ConvState, LagHit](
      events.select("user_id", "event_type", "ts_ms", "event_id")
        .where(col("event_type").isin("view", "purchase"))
        .as[(Long, String, Long, Long)],
      "conversionlag", _._1, Ordering.by(r => (r._3, r._4))) {
      case (_, st, (_, t, ms, _)) =>
        val p = st.getOrElse(ConvState(-1L, false, -1L))
        if (ms < p.lastMs) None
        else if (t == "view" && p.viewMs < 0L)
          Some((ConvState(ms, p.done, ms), Nil))
        else if (t == "purchase" && !p.done && p.viewMs >= 0L && ms > p.viewMs)
          Some((ConvState(p.viewMs, true, ms), LagHit(ms - p.viewMs) :: Nil))
        else Some((p.copy(lastMs = ms), Nil))
    }
  }

  /** Fold a table of emissions into the batch query's full output
    * (lag_band, n_users, share_bp, min/avg/max lag ms) — literally the
    * batch ladder tail over the emitted lags. */
  def ladderOf(emissions: DataFrame): DataFrame = {
    val n = emissions.agg(count(lit(1)).as("n_conv"))
    emissions
      .select(when(col("lag_ms") < 3600000L, 0L)
        .when(col("lag_ms") < 21600000L, 1L)
        .when(col("lag_ms") < 86400000L, 2L)
        .when(col("lag_ms") < 259200000L, 3L)
        .when(col("lag_ms") < 604800000L, 4L).otherwise(5L).as("lag_band"),
        col("lag_ms"))
      .groupBy(col("lag_band"))
      .agg(count(lit(1)).as("n_users"), min(col("lag_ms")).as("min_lag_ms"),
        // DECIMAL(38,0) lag sum — the batch query's r18 wide spelling
        sum(col("lag_ms").cast("decimal(38,0)")).as("sum_lag"),
        max(col("lag_ms")).as("max_lag_ms"))
      .crossJoin(broadcast(n))
      .select(col("lag_band"), col("n_users"),
        expr("n_users * 10000 DIV n_conv").as("share_bp"),
        col("min_lag_ms"),
        expr("CAST(sum_lag DIV n_users AS BIGINT)").as("avg_lag_ms"),
        col("max_lag_ms"))
      .orderBy(col("lag_band"))
  }
}
