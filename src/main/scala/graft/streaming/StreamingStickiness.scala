package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live DAU/WAU stickiness — the 28th streaming twin, incremental over
  * x_stickiness: as events arrive, each user's FIRST event on a new
  * calendar day emits one "dau" hit and the first in a new calendar
  * week one "wau" hit; any counting sink then reproduces the batch
  * DAU/WAU ratio exactly.
  *
  * Why this is append-only: a distinct (user, day) / (user, week) is
  * an existence fact — later arrivals never retract it — so the
  * emissions are monotone and [[stickinessOf]] is literally the batch
  * tail over them (the [[StreamingGrowthAccounting]] dissolution
  * applied a third time). State per user is TWO longs: the current
  * calendar week and a 7-bit day-of-week mask — the mask makes
  * WITHIN-week arrival order irrelevant (any permutation of a week's
  * days yields the same hits), so the in-order contract only carries
  * week-level weight. Week = day DIV 7, day = ms DIV 86400000 — the
  * batch query's own integer arithmetic on nonnegative epochs.
  *
  * Runs under [[InOrderFold]]'s contract: an arrival with w < wk — a
  * reorder into a PRIOR week — may carry an uncounted (user, day) and
  * silently undercount DAU/WAU relative to batch, so it is rejected.
  *
  * At 100 TB: state is |users| × two longs sharded by the state
  * store; emissions are ≤ one tiny row per (user, day); the read-side
  * rollup is calendar-bounded. */
object StreamingStickiness {

  final case class WeekMask(wk: Long, mask: Long)

  final case class StickHit(cls: String, idx: Long)

  /** events: (user_id, ts_ms, event_id) — ts as epoch millis. Returns
    * the hit stream paired with its in-order-contract accumulator. */
  def emissions(events: DataFrame): (Dataset[StickHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    InOrderFold[(Long, Long, Long), Long, WeekMask, StickHit](
      events.select("user_id", "ts_ms", "event_id").as[(Long, Long, Long)],
      "stickiness", _._1, Ordering.by(r => (r._2, r._3))) {
      case (_, st, (_, ms, _)) =>
        val day = ms / 86400000L
        val w = day / 7L
        val bit = 1L << (day % 7L)
        st match {
          case Some(p) if w < p.wk => None
          case Some(p) if w == p.wk =>
            Some(if ((p.mask & bit) != 0L) (p, Nil)
              else (p.copy(mask = p.mask | bit), StickHit("dau", day) :: Nil))
          case _ =>
            Some((WeekMask(w, bit), StickHit("dau", day) :: StickHit("wau", w) :: Nil))
        }
    }
  }

  /** Fold a table of emissions into the batch query's full output
    * (day_idx, dau, wau, stickiness_bp) — literally the batch tail
    * over the emitted distinct-existence hits. */
  def stickinessOf(emissions: DataFrame): DataFrame = {
    def hits(c: String): DataFrame =
      emissions.where(col("cls") === c)
    val dau = hits("dau").groupBy(col("idx").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = hits("wau").groupBy(col("idx").as("wk"))
      .agg(count(lit(1)).as("wau"))
    val d0 = dau.agg(min(col("day")).as("d0"))
    dau.join(broadcast(wau), expr("day DIV 7") === col("wk"))
      .crossJoin(broadcast(d0))
      .select((col("day") - col("d0")).as("day_idx"), col("dau"),
        col("wau"), expr("dau * 10000 DIV wau").as("stickiness_bp"))
      .orderBy(col("day_idx"))
  }
}
