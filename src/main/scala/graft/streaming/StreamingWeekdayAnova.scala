package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.util.LongAccumulator

/** Live weekday ANOVA — the 42nd streaming twin, incremental over
  * x_weekday_anova: the seasonality-justification read (is there a
  * weekly profile worth the Holt–Winters seasonal state?) kept live
  * next to the forecast twins it gates.
  *
  * The batch statistic is a function of per-(type, weekday) sufficient
  * statistics only — m_g, S_g = Σn, Q_g = Σn² — so the state is 7×3
  * longs per type (constant regardless of history), additive under
  * closed (type, day) rollup arrivals, and each emission re-derives
  * η²/F with the batch's own operand trees and INTEGER-EXACT
  * degeneracy guards (tz = N·Q − S², wz = Σ m_g·Q_g − S_g²), emitted
  * round-4 — the last emission per type equals the
  * oracle-hash-matched batch row at any split (stream ≡ batch ≡
  * DuckDB; the ≤7-term ssb sum is ascending-weekday here and
  * group-ordered in the batch, absorbed by round-4, the CvM twin's
  * rule — and the guards never see a float).
  *
  * Runs under [[InOrderFold]]'s contract via [[InOrderFold.daily]]: a
  * day ≤ lastDay arrival folds and emits nothing and counts in the
  * accumulator [[stats]] returns — a re-delivered closed rollup row
  * would double-count its day in m/S/Q for good. */
object StreamingWeekdayAnova {

  final case class AnovaState(m: Array[Long], s: Array[Long],
      q: Array[Long], lastDay: Long) extends InOrderFold.DayState

  final case class AnovaPoint(event_type: String, day: Long,
      n_days: Long, n_weekdays: Long, eta2: Double, f_stat: Double)

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its in-order-contract
    * accumulator. */
  def stats(rollup: DataFrame): (Dataset[AnovaPoint], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    InOrderFold.daily[AnovaState, AnovaPoint](rollup, "weekdayanova") {
      (typ, st, day, n) =>
        val p = st.getOrElse(AnovaState(Array.fill(7)(0L), Array.fill(7)(0L),
          Array.fill(7)(0L), -1L))
        val i = (day % 7L).toInt
        // addExact/multiplyExact: the 7×3-long state array is the
        // binding width (Q_g wraps at daily counts ~3·10⁹) — raise loudly
        // there instead of folding a wrapped value; the state SCHEMA
        // stays checkpoint-compatible
        val m2 = p.m.clone(); m2(i) += 1L
        val s2 = p.s.clone(); s2(i) = math.addExact(s2(i), n)
        val q2 = p.q.clone()
        q2(i) = math.addExact(q2(i), math.multiplyExact(n, n))
        val next = AnovaState(m2, s2, q2, day)
        (next, pointOf(typ, day, next))
    }
  }

  private def pointOf(typ: String, day: Long, st: AnovaState): AnovaPoint = {
    val nn = st.m.sum
    val k = st.m.count(_ > 0L)
    val s = st.s.sum
    val q = st.q.sum
    // BigInt guards (r18, the DriftArith loud-or-exact rule + r17
    // ADVICE): tz = N·Q − S² reaches ~9·10^18 ≈ 2^63 at the family's
    // 10^7-events/day envelope — the batch query spells it
    // DECIMAL(38,0)/HUGEINT; here the same operand tree runs in BigInt
    // so the integer-exact degeneracy tests never wrap at any
    // Long-valued state
    val tz = BigInt(nn) * q - BigInt(s) * s
    val wz = (0 until 7).map(i =>
      BigInt(st.m(i)) * st.q(i) - BigInt(st.s(i)) * st.s(i)).sum
    var ssb = 0.0
    (0 until 7).foreach { i =>
      if (st.m(i) > 0L)
        ssb += st.s(i).toDouble * st.s(i) / st.m(i)
    }
    val eta2 = if (tz == 0) 0.0
      else (nn.toDouble * ssb - s.toDouble * s) / tz.toDouble
    val f = if (tz == 0 || wz == 0 || k <= 1 || nn <= k) 0.0
      else (nn.toDouble * ssb - s.toDouble * s) * (nn - k) /
        (nn.toDouble * (q.toDouble - ssb) * (k - 1))
    AnovaPoint(typ, day, nn, k, DailyForecast.r4(eta2) + 0.0,
      DailyForecast.r4(f) + 0.0)
  }
}
