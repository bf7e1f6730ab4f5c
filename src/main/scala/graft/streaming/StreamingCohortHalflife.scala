package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live per-cohort retention decay — the 35th streaming twin,
  * incremental over x_cohort_halflife: as events arrive, each user's
  * first event EVER emits one cohort-membership hit (their first week
  * IS their cohort) and their first event in each LATER calendar week
  * emits one offset hit (cohort, k = week − first week); any counting
  * sink plus the batch fit tail then reproduces the per-cohort
  * half-life table exactly.
  *
  * Append-only by the [[StreamingGrowthAccounting]] dissolution (fifth
  * application): cohort membership and a (user, offset-week) presence
  * are existence facts later arrivals never retract, and the fit
  * consumes only their COUNTS. State per user is TWO week numbers
  * (firstW doubles as the cohort tag — the seed arrival pins it, so no
  * later emission ever needs a lookup), the
  * [[StreamingGrowthAccounting]] WeekSpan shape verbatim.
  *
  * Runs under [[InOrderFold]]'s contract: an arrival with w < lastW
  * may carry an uncounted mid-span (user, week) whose offset hit would
  * then be missing (two longs cannot tell), and one before the user's
  * true first week would have mis-seeded the cohort — both are
  * rejected. w == lastW is the benign same-week repeat.
  *
  * Trust chain: the batch x_cohort_halflife is oracle-hash-matched, so
  * the parity spec's equality pins stream ≡ batch ≡ DuckDB across
  * micro-batch splits and a checkpoint restart. At 100 TB: |users| ×
  * two longs of sharded state, ≤ one tiny hit per (user, week), and
  * the fit tail runs over (cohort × ≤span-weeks)-bounded counts. */
object StreamingCohortHalflife {

  final case class CohortHit(cls: String, fw: Long, k: Long)

  /** events: (user_id, ts_ms, event_id) — ts as epoch millis. Returns
    * the hit stream paired with its in-order-contract accumulator. */
  def emissions(events: DataFrame): (Dataset[CohortHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    import StreamingGrowthAccounting.WeekSpan
    InOrderFold[(Long, Long, Long), Long, WeekSpan, CohortHit](
      events.select("user_id", "ts_ms", "event_id").as[(Long, Long, Long)],
      "cohorthalflife", _._1, Ordering.by(r => (r._2, r._3))) {
      case (_, st, (_, ms, _)) =>
        val w = ms / 604800000L
        st match {
          case None => Some((WeekSpan(w, w), CohortHit("cohort", w, 0L) :: Nil))
          case Some(p) if w > p.lastW =>
            Some((p.copy(lastW = w),
              CohortHit("offset", p.firstW, w - p.firstW) :: Nil))
          case Some(p) => if (w < p.lastW) None else Some((p, Nil))
        }
    }
  }

  /** Fold a table of emissions into the batch query's full output
    * (cohort_w, n_users, n_offsets, slope, half_life_w) — literally
    * the batch fit tail over the emitted existence hits. */
  def halfLifeOf(emissions: DataFrame): DataFrame = {
    val n0 = emissions.where(col("cls") === "cohort")
      .groupBy(col("fw")).agg(count(lit(1)).as("n_users"))
    val pts = emissions.where(col("cls") === "offset")
      .groupBy(col("fw"), col("k"))
      .agg(count(lit(1)).as("n_k"))
      .join(broadcast(n0), Seq("fw"))
      .select(col("fw"), col("k").cast("double").as("x"),
        log(col("n_k").cast("double") / col("n_users")).as("y"))
    val fit = pts.groupBy(col("fw"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    // batch w0 = min week over all distinct (user, week); the global
    // minimum week is necessarily some user's FIRST week, so min
    // cohort ≡ min week — the axis needs no extra emission class
    val w0 = n0.agg(min(col("fw")).as("w0"))
    n0.join(broadcast(fit), Seq("fw"), "left")
      .crossJoin(broadcast(w0))
      .select((col("fw") - col("w0")).as("cohort_w"), col("n_users"),
        coalesce(col("m"), lit(0L)).as("n_offsets"),
        (round(when(col("m") >= 2,
          expr("(m * sxy - sx * sy) / (m * sxx - sx * sx)"))
          .otherwise(0.0), 4) + 0.0).as("slope"),
        (round(when(col("m") >= 2 &&
            col("m") * col("sxy") - col("sx") * col("sy") < 0,
          expr("ln(2) * (m * sxx - sx * sx) / (sx * sy - m * sxy)"))
          .otherwise(0.0), 4) + 0.0).as("half_life_w"))
      .orderBy(col("cohort_w"))
  }
}
