package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live growth accounting — the 25th streaming twin, incremental over
  * x_growth_accounting: as events arrive, each user's FIRST event in a
  * new calendar week emits exactly one classification — "new" (first
  * week ever), "retained" (also active the immediately-previous week)
  * or "resurrected" (active before, but not last week) — and any
  * counting sink then reproduces the batch decomposition exactly.
  *
  * Why this is append-only with NO retraction machinery: a week-w
  * classification depends only on the user's activity in weeks < w, so
  * later arrivals can never flip it (the batch lag window reads the
  * same past-only evidence). The two batch columns that DO look
  * retraction-laden — n_churned(w) and the quick ratio — are not
  * emitted per event at all: churned(w) ≡ active(w−1) − retained(w)
  * (the users who were there last week and didn't come back), both
  * terms already in the weekly counts, so [[growthOf]] derives them at
  * read — the same conservation-law dissolution as
  * [[StreamingAbsorbMass]]'s n_end ≡ arrivals − n_out.
  *
  * State per user is TWO week numbers ([[StreamingPaths]]'s
  * constant-bytes discipline); in-order delivery per user is the same
  * contract as the other live folds, with each micro-batch's group
  * sorted by (ts_ms, event_id) before folding. Week = ms DIV
  * 604800000 with the batch query's own trunc division (corpus
  * timestamps are post-epoch; a pre-1970 stream would need floorDiv in
  * BOTH engines — the SCALING trunc rule).
  *
  * Runs under [[InOrderFold]]'s contract: a user's week sequence is
  * non-decreasing, so an arrival with w < lastW is a reorder — and if
  * it carries the user's only activity for an uncounted mid-span week,
  * folding it would undercount that (user, week). The two-long state
  * cannot tell that case from a benign repeat of a counted week, so
  * EVERY w < lastW arrival is rejected; w == lastW is the benign
  * same-week repeat.
  *
  * Trust chain: the batch x_growth_accounting is oracle-hash-matched,
  * so the parity spec's equality pins stream ≡ batch ≡ DuckDB for the
  * full weekly decomposition across micro-batch splits and a
  * checkpoint restart. At 100 TB: state is |users| × two longs
  * (flatMapGroupsWithState shards it across executors); emissions are
  * ≤ one tiny row per (user, week) into whatever counting sink the
  * deployment already runs. */
object StreamingGrowthAccounting {

  final case class WeekSpan(firstW: Long, lastW: Long)

  final case class GrowthHit(cls: String, w: Long)

  /** events: (user_id, ts_ms, event_id) — ts as epoch millis. Returns
    * the hit stream paired with its in-order-contract accumulator. */
  def emissions(events: DataFrame): (Dataset[GrowthHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    InOrderFold[(Long, Long, Long), Long, WeekSpan, GrowthHit](
      events.select("user_id", "ts_ms", "event_id").as[(Long, Long, Long)],
      "growth", _._1, Ordering.by(r => (r._2, r._3))) {
      case (_, st, (_, ms, _)) =>
        val w = ms / 604800000L
        st match {
          case None => Some((WeekSpan(w, w), GrowthHit("new", w) :: Nil))
          case Some(p) if w > p.lastW =>
            Some((p.copy(lastW = w), GrowthHit(
              if (p.lastW == w - 1) "retained" else "resurrected", w) :: Nil))
          case Some(p) => if (w < p.lastW) None else Some((p, Nil))
        }
    }
  }

  /** Fold a table of emissions into the batch query's full output
    * (week_idx, n_active, n_new, n_retained, n_resurrected, n_churned,
    * quick_ratio_bp) — literally the batch tail over the emitted
    * classifications, churned via the conservation identity. */
  def growthOf(emissions: DataFrame): DataFrame = {
    def n(c: String): Column =
      sum(when(col("cls") === c, 1L).otherwise(0L))
    val weekly = emissions.groupBy(col("w"))
      .agg(count(lit(1)).as("n_active"), n("new").as("n_new"),
        n("retained").as("n_retained"),
        n("resurrected").as("n_resurrected"))
    val w0 = weekly.agg(min(col("w")).as("w0"))
    weekly
      .withColumn("n_churned",
        coalesce(lag(col("n_active"), 1).over(Window.orderBy(col("w"))),
          lit(0L)) - col("n_retained"))
      .crossJoin(broadcast(w0))
      .select((col("w") - col("w0")).as("week_idx"), col("n_active"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        col("n_churned"),
        when(col("n_churned") > 0,
          expr("(n_new + n_resurrected) * 10000 DIV n_churned"))
          .otherwise(0L).as("quick_ratio_bp"))
      .orderBy(col("week_idx"))
  }
}
