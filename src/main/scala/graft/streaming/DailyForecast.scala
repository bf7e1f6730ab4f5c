package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.util.LongAccumulator

import InOrderFold.DayState

/** Live twins of the forecast family — x_forecast_ses, x_forecast_holt,
  * x_forecast_holt_damped, x_forecast_holt_winters and x_forecast_hw_log:
  * each folds the per-type daily count stream as each (type, day)
  * closes, so tomorrow's expected volume is a live number the alerting
  * layer reads directly.
  *
  * Each batch fold is sequential per type, so each twin IS the batch
  * algebra verbatim, over the same operands in the same order: SES's
  * α = 1/2 is an exact dyadic halving, Holt / damped / Holt–Winters run
  * exact integer basis points with trunc division, and HW-log runs the
  * batch's IEEE-double operand trees and rounds to 4 places (HALF_UP,
  * the functions.round rule) exactly where the batch projects. So the
  * last emission per type equals the oracle-hash-matched batch row at
  * any batch split — stream ≡ batch ≡ DuckDB. Each seed emission
  * reproduces the batch's n_days = 1 branch (b = 0 and s ≡ 0 make
  * l + b + s_next = l).
  *
  * Every fold runs under [[InOrderFold]]'s contract via
  * [[InOrderFold.daily]]: an arrival with day ≤ lastDay folds and emits
  * nothing and counts in the accumulator the call returns.
  *
  * CHECKPOINT BOUNDARY: lastDay joined SesState and HwState in r17;
  * checkpoints written before it cannot be resumed (Spark's state-schema
  * check fails the restart). Start a fresh checkpoint and replay the
  * rollup feed — the feed is the durable artifact, the checkpoint a
  * cache. */
object DailyForecast {

  final case class SesState(level: Double, nDays: Long, lastDay: Long)
      extends DayState

  /** One emission per closed (type, day): the PRE-update forecast
    * (yesterday's level), the observed count, the absolute error and
    * the post-update level. The first day of a type emits forecast =
    * observation (error 0) — the batch fold's seeding rule. */
  final case class SesPoint(
      event_type: String, day: Long, n: Long,
      forecast: Double, abs_err: Double, level: Double)

  final case class HoltState(l: Long, b: Long, e: Long, nDays: Long,
      lastDay: Long) extends DayState

  /** One emission per closed (type, day): the batch output row's
    * columns with the day alongside (so for every point class below). */
  final case class HoltPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, forecast_next_bp: Long, mae_bp: Long)

  final case class DampedPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, forecast_next_bp: Long,
      forecast_week_bp: Long, forecast_inf_bp: Long, mae_bp: Long)

  final case class HwState(l: Long, b: Long, s: Array[Long], e: Long,
      nDays: Long, lastDay: Long) extends DayState

  final case class HwPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, season_next_bp: Long,
      forecast_next_bp: Long, season_amp_bp: Long, mae_bp: Long)

  final case class HwLogState(l: Double, b: Double, s: Array[Double],
      e: Double, nDays: Long, lastDay: Long) extends DayState

  final case class HwLogPoint(event_type: String, day: Long, n_days: Long,
      level_ln: Double, trend_ln: Double, season_next_ln: Double,
      forecast_next_ln: Double, season_amp_ln: Double, mae_ln: Double)

  private[streaming] def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def maeBp(e: Long, nDays: Long): Long =
    if (nDays >= 2L) e / (nDays - 1L) else 0L

  /** Damped Holt's trend read, φ = 3/4: one trunc division, the batch
    * query's own spelling. */
  private def damp(b: Long): Long = (b * 3L) / 4L

  /** Simple exponential smoothing, α = 1/2: three numbers of state per
    * type, the emission carries the one-step error so the batch MAE is
    * reproducible from the emissions. */
  def ses(rollup: DataFrame): (Dataset[SesPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[SesState, SesPoint](rollup, "ses") { (typ, st, day, n) =>
      val x = n.toDouble
      st match {
        case None => (SesState(x, 1L, day), SesPoint(typ, day, n, x, 0.0, x))
        case Some(p) =>
          val lv = (p.level + x) / 2
          (SesState(lv, p.nDays + 1, day),
            SesPoint(typ, day, n, p.level, math.abs(x - p.level), lv))
      }
    }
  }

  /** Holt's level+trend recurrence with every read of the trend taken
    * through `trend`: the trend itself for Holt, [[damp]] for damped. */
  private def holtStep(st: Option[HoltState], day: Long, n: Long,
      trend: Long => Long): HoltState = {
    val xv = n * 10000L
    st.fold(HoltState(xv, 0L, 0L, 1L, day)) { p =>
      val b = trend(p.b)
      val l2 = (xv + p.l + b) / 2L
      HoltState(l2, (l2 - p.l + b) / 2L, p.e + math.abs(xv - p.l - b),
        p.nDays + 1L, day)
    }
  }

  /** Holt linear trend, α = β = 1/2. */
  def holt(rollup: DataFrame): (Dataset[HoltPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[HoltState, HoltPoint](rollup, "holt") { (typ, st, day, n) =>
      val s = holtStep(st, day, n, identity)
      (s, HoltPoint(typ, day, s.nDays, s.l, s.b, s.l + s.b,
        maeBp(s.e, s.nDays)))
    }
  }

  /** Damped-trend Holt: the next-day, 7-day and asymptotic forecasts the
    * damped model exists to provide. Shares [[HoltState]]. */
  def holtDamped(rollup: DataFrame)
      : (Dataset[DampedPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[HoltState, DampedPoint](rollup, "holtdamped") {
      (typ, st, day, n) =>
        val s = holtStep(st, day, n, damp)
        (s, DampedPoint(typ, day, s.nDays, s.l, s.b, s.l + damp(s.b),
          s.l + (s.b * 42591L) / 16384L, s.l + 3L * s.b,
          maeBp(s.e, s.nDays)))
    }
  }

  /** Holt–Winters additive seasonal, period 7: eleven longs of state,
    * with the batch's CALENDAR-aligned day % 7 seasonal index. */
  def holtWinters(rollup: DataFrame)
      : (Dataset[HwPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[HwState, HwPoint](rollup, "holtwinters") {
      (typ, st, day, n) =>
        val xv = n * 10000L
        val s = st.fold(HwState(xv, 0L, Array.fill(7)(0L), 0L, 1L, day)) { p =>
          val i = (day % 7L).toInt
          val l2 = (xv - p.s(i) + p.l + p.b) / 2L
          val s2 = p.s.clone()
          s2(i) = (xv - l2 + p.s(i)) / 2L
          HwState(l2, (l2 - p.l + p.b) / 2L, s2,
            p.e + math.abs(xv - p.l - p.b - p.s(i)), p.nDays + 1L, day)
        }
        val sn = s.s(((day + 1L) % 7L).toInt)
        (s, HwPoint(typ, day, s.nDays, s.l, s.b, sn, s.l + s.b + sn,
          s.s.max - s.s.min, maeBp(s.e, s.nDays)))
    }
  }

  /** Log-additive Holt–Winters over x = ln(n): the multiplicative-
    * seasonality read (ratio amplitude, growth rate). The seed emits the
    * batch's n_days = 1 guard values: trend, seasonal and MAE 0.0, level
    * = forecast = ln x₁. */
  def hwLog(rollup: DataFrame): (Dataset[HwLogPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[HwLogState, HwLogPoint](rollup, "hwlog") {
      (typ, st, day, n) =>
        val x = math.log(n.toDouble)
        val s = st.fold(HwLogState(x, 0.0, Array.fill(7)(0.0), 0.0, 1L, day)) { p =>
          val i = (day % 7L).toInt
          val l2 = (x - p.s(i) + p.l + p.b) / 2.0
          val s2 = p.s.clone()
          s2(i) = (x - l2 + p.s(i)) / 2.0
          HwLogState(l2, (l2 - p.l + p.b) / 2.0, s2,
            p.e + math.abs(x - p.l - p.b - p.s(i)), p.nDays + 1L, day)
        }
        val point =
          if (s.nDays == 1L)
            HwLogPoint(typ, day, 1L, r4(s.l), 0.0, 0.0, r4(s.l), 0.0, 0.0)
          else {
            val sn = s.s(((day + 1L) % 7L).toInt)
            HwLogPoint(typ, day, s.nDays, r4(s.l), r4(s.b), r4(sn),
              r4(s.l + s.b + sn), r4(s.s.max - s.s.min),
              r4(s.e / (s.nDays - 1L)))
          }
        (s, point)
    }
  }
}
