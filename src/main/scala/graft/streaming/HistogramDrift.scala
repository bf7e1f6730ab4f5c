package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live twins of the value-drift family (x_drift_ks / emd / cvm / ad /
  * js / mw, and psi + chi2 in one row): the frozen EARLY-half cents
  * histogram is the trained artifact — live monitoring compares against
  * a fixed reference, it does not rewrite history — and the late half
  * arrives as a stream of (event_type, cents). Every emitted row equals
  * the batch row computed on (early corpus + late prefix) at any stream
  * prefix; the batch queries are oracle-hash-matched, chaining
  * stream ≡ batch ≡ DuckDB. Types absent from the early half emit
  * nothing: the batch empty-half drop rule, applied at the artifact
  * boundary. (x_drift_tvd's week-keyed twin is [[StreamingDrift]].)
  *
  * State. KS, EMD, CvM, AD and JS have no closed per-arrival term:
  * every cross term cumE·nl − cumL·ne (and every JSD mixture ratio)
  * re-weights when n_late grows, so the state is the live late
  * histogram per type ([[LateHist]]), and each emission re-derives the
  * statistic over one [[walk]] of the merged early ∪ late levels. MW and
  * the bands are closed against the frozen early side: an arrival's
  * rank-sum term, or its band, depends on the early ECDF alone, so their
  * states are a few longs and an arrival costs one binary search.
  *
  * Integer envelope (loud-or-exact, graft.queries.DriftArith): cross
  * terms and bp scalings run in BigInt — exact at any BIGINT count where
  * JVM Long arithmetic would wrap silently; double images enter only
  * where the batch operand trees are double, and are the same trees.
  * Round-4 is Spark's HALF_UP; it also absorbs the batch partition-order
  * vs ascending-level float-sum skew of CvM and AD.
  *
  * At 100 TB: artifact and state are bounded by the cents quantizer's
  * level count (the bands: 11 longs), arrivals cost one map update or
  * binary search, and the O(levels) walk runs once per
  * (type, micro-batch) emission, never per arrival. */
object HistogramDrift {

  /** One type's frozen early side: level-sorted cents with prefix
    * counts (cumLe(i) = #early values ≤ cents(i)). */
  final case class EarlySide(cents: Array[Long], cumLe: Array[Long], ne: Long) {

    /** #early values ≤ v. */
    def cumLeAt(v: Long): Long = { val i = atOrBelow(v); if (i < 0) 0L else cumLe(i) }

    /** #early values exactly at v. */
    def countAt(v: Long): Long = {
      val i = atOrBelow(v)
      if (i < 0 || cents(i) != v) 0L else cumLe(i) - (if (i == 0) 0L else cumLe(i - 1))
    }

    /** Index of the highest level ≤ v, or -1. */
    private def atOrBelow(v: Long): Int = {
      val p = java.util.Arrays.binarySearch(cents, v)
      if (p >= 0) p else -(p + 1) - 1
    }
  }

  private[streaming] def build(hist: Map[String, Seq[(Long, Long)]])
      : Map[String, EarlySide] =
    hist.collect { case (t, levels) if levels.nonEmpty =>
      val sorted = levels.sortBy(_._1).toArray
      val cumLe = sorted.map(_._2).scanLeft(0L)(_ + _).drop(1)
      t -> EarlySide(sorted.map(_._1), cumLe, cumLe.last)
    }

  /** One type's live late histogram: count per cent level, and n_late. */
  final case class LateHist(late: Map[Long, Long], nLate: Long)

  /** One level of the merged early ∪ late support: its counts on each
    * side and the running counts at or below it. */
  private[streaming] final case class Level(v: Long, ea: Long, la: Long,
      cumE: Long, cumL: Long)

  /** The merged levels in ascending cents. */
  private[streaming] def walk(s: EarlySide, late: Map[Long, Long]): Array[Level] = {
    var ei = 0
    var cumE = 0L
    var cumL = 0L
    (s.cents ++ late.keysIterator).distinct.sorted.map { v =>
      val prevE = cumE
      while (ei < s.cents.length && s.cents(ei) <= v) ei += 1
      cumE = if (ei == 0) 0L else s.cumLe(ei - 1)
      val la = late.getOrElse(v, 0L)
      cumL += la
      Level(v, cumE - prevE, la, cumE, cumL)
    }
  }

  /** cumE·nl − cumL·ne at a level, exact. */
  private def cross(l: Level, ne: Long, nl: Long): BigInt =
    BigInt(l.cumE) * nl - BigInt(l.cumL) * ne

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The KS sup and the FIRST level reaching it (ascending cents: the
    * batch WHERE term = mx … min(cents) tie rule). */
  private[streaming] def sup(s: EarlySide, late: Map[Long, Long],
      nl: Long): (BigInt, Long) =
    walk(s, late).foldLeft((BigInt(-1), 0L)) { case ((mx, at), l) =>
      val term = cross(l, s.ne, nl).abs
      if (term > mx) (term, l.v) else (mx, at)
    }

  /** mx·10⁴ DIV (ne·nl), the batch scaleBp spelling; quotient ≤ 10⁴. */
  private[streaming] def scaleBp(mx: BigInt, ne: Long, nl: Long): Long =
    (mx * 10000 / (BigInt(ne) * nl)).toLong

  /** W₁'s Σ |cumE·nl − cumL·ne|·Δcents: each level's cross term carried
    * over the gap to the next level (the CDFs are constant between
    * levels; the last level has no successor). */
  private[streaming] def w1(s: EarlySide, late: Map[Long, Long], nl: Long): BigInt = {
    val ls = walk(s, late)
    ls.iterator.zip(ls.iterator.drop(1))
      .map { case (l, next) => cross(l, s.ne, nl).abs * (next.v - l.v) }.sum
  }

  /** CvM: Σ w·D² / ((ne+nl)²·ne·nl), pooled weight w = ea + la. */
  private[streaming] def cvmStat(s: EarlySide, late: Map[Long, Long], nl: Long): Double = {
    var num = 0.0
    walk(s, late).foreach { l =>
      val d = cross(l, s.ne, nl).toDouble
      num += (l.ea + l.la) * d * d
    }
    r4(num / ((s.ne + nl).toDouble * (s.ne + nl) * s.ne * nl))
  }

  /** AD: Σ w·D² / (ne·nl·cumN·(N − cumN)) over levels with cumN < N. */
  private[streaming] def adStat(s: EarlySide, late: Map[Long, Long], nl: Long): Double = {
    val n = s.ne + nl
    var sum = 0.0
    walk(s, late).foreach { l =>
      val cumN = l.cumE + l.cumL
      if (cumN < n) {
        val d = cross(l, s.ne, nl).toDouble
        sum += (l.ea + l.la) * d * d / (s.ne.toDouble * nl * cumN * (n - cumN))
      }
    }
    r4(sum)
  }

  /** JSD in nats with the batch per-level operand trees: mixture
    * ratios 2·ea·nl / (ea·nl + la·ne) from exact integer products, a
    * side's term absent where it has no mass (0·ln 0 = 0). Early-only
    * levels count too: unmatched support diverges. */
  private def jsd(s: EarlySide, late: Map[Long, Long], nl: Long): Double = {
    var jsd = 0.0
    walk(s, late).foreach { l =>
      val mix = (BigInt(l.ea) * nl + BigInt(l.la) * s.ne).toDouble
      val tp =
        if (l.ea > 0L) 0.5 * (l.ea.toDouble / s.ne) * math.log((BigInt(2) * l.ea * nl).toDouble / mix)
        else 0.0
      val tq =
        if (l.la > 0L) 0.5 * (l.la.toDouble / nl) * math.log((BigInt(2) * l.la * s.ne).toDouble / mix)
        else 0.0
      jsd += tp + tq
    }
    r4(jsd) + 0.0
  }

  /** The one driver: per type, `absorb` folds a micro-batch's arrivals
    * into the state and `emit` reads one row from it. */
  private def fold[S <: Product : TypeTag, O <: Product : TypeTag](events: DataFrame,
      sides: Map[String, EarlySide], empty: S)(absorb: (EarlySide, S, Iterator[Long]) => S)(
      emit: (String, EarlySide, S) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    require(sides.nonEmpty, "early reference must be non-empty")
    events.select($"event_type", $"cents".cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[(String, Long)], state: GroupState[S]) =>
          sides.get(t) match {
            case None => Iterator.empty // no early mass: the batch drop rule
            case Some(s) =>
              val st = absorb(s, state.getOption.getOrElse(empty), rows.map(_._2))
              state.update(st)
              Iterator.single(emit(t, s, st))
          }
      }
  }

  /** The driver over the late histogram: KS, EMD, CvM, AD and JS. */
  private def histogram[O <: Product : TypeTag](events: DataFrame,
      early: Map[String, Seq[(Long, Long)]])(emit: (String, EarlySide, LateHist) => O)
      : Dataset[O] =
    fold(events, build(early), LateHist(Map.empty, 0L)) { (_, st, vs) =>
      vs.foldLeft(st) { (h, v) =>
        LateHist(h.late.updated(v, h.late.getOrElse(v, 0L) + 1L), h.nLate + 1L)
      }
    }(emit)

  final case class KsDrift(event_type: String, n_early: Long,
      n_late: Long, ks_at_cents: Long, ks_bp: Long)

  final case class EmdDrift(event_type: String, n_early: Long,
      n_late: Long, w1_bp: Long)

  final case class CvmDrift(event_type: String, n_early: Long,
      n_late: Long, cvm: Double)

  final case class AdDrift(event_type: String, n_early: Long,
      n_late: Long, ad: Double)

  final case class JsDrift(event_type: String, n_early: Long,
      n_late: Long, jsd_nats: Double)

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count).
    * The same inputs for every twin below. */
  def ks(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[KsDrift] =
    histogram(events, early) { (t, s, h) =>
      val (mx, at) = sup(s, h.late, h.nLate)
      KsDrift(t, s.ne, h.nLate, at, scaleBp(mx, s.ne, h.nLate))
    }

  def emd(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[EmdDrift] =
    histogram(events, early) { (t, s, h) =>
      val tot = w1(s, h.late, h.nLate)
      val d = BigInt(s.ne) * h.nLate
      // the batch (tot DIV d)·10⁴ + ((tot MOD d)·10⁴) DIV d; w1_bp ≤
      // range(cents)·10⁴, so the narrowing is total
      EmdDrift(t, s.ne, h.nLate, ((tot / d) * 10000 + ((tot % d) * 10000) / d).toLong)
    }

  def cvm(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[CvmDrift] =
    histogram(events, early)((t, s, h) => CvmDrift(t, s.ne, h.nLate, cvmStat(s, h.late, h.nLate)))

  def ad(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[AdDrift] =
    histogram(events, early)((t, s, h) => AdDrift(t, s.ne, h.nLate, adStat(s, h.late, h.nLate)))

  def js(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[JsDrift] =
    histogram(events, early)((t, s, h) => JsDrift(t, s.ne, h.nLate, jsd(s, h.late, h.nLate)))

  final case class MwState(nLate: Long, u2: Long)

  final case class MwDrift(event_type: String, n_early: Long,
      n_late: Long, u2: Long, cles_bp: Long)

  /** Mann–Whitney: u2 = Σ over (early, late) pairs of 2·[e > v] + [e = v],
    * so each arrival v adds the closed term 2·#early(> v) + #early(= v)
    * and later arrivals never revise it; cles_bp = u2·10⁴ DIV (2·ne·nl)
    * is re-derived per emission from the two running integers. */
  def mw(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[MwDrift] =
    fold(events, build(early), MwState(0L, 0L)) { (s, st, vs) =>
      vs.foldLeft(st) { (m, v) =>
        // addExact: u2 ≤ 2·ne·nl is the state's Long-width envelope
        // (mixed per-type rows ≳ 3·10⁹) — raise there instead of
        // wrapping; the state schema stays a Long, checkpoint-compatible
        MwState(m.nLate + 1L,
          math.addExact(m.u2, 2L * (s.ne - s.cumLeAt(v)) + s.countAt(v)))
      }
    } { (t, s, m) =>
      MwDrift(t, s.ne, m.nLate, m.u2,
        (BigInt(m.u2) * 10000 / (BigInt(2) * s.ne * m.nLate)).toLong)
    }

  final case class BandState(cl: Array[Long], nLate: Long)

  final case class BandsDrift(event_type: String, n_early: Long,
      n_late: Long, n_bins: Long, psi: Double, dof: Long, chi2: Double)

  /** The PSI/χ² band of a value whose early ECDF count is cumE:
    * least(9, greatest(0, (cumE − 1)·10 DIV ne)); the negative operand
    * at cumE = 0 truncates as in the batch engines and is clamped. */
  private def bin(cumE: Long, ne: Long): Int =
    math.max(0L, math.min(9L, (cumE - 1L) * 10L / ne)).toInt

  /** x_drift_psi and x_drift_chi2 in one row: both read the same ten
    * equal-population early bands, so an arrival is one band-counter
    * increment and the emission two ≤ 10-term sums with the batch
    * queries' double operand trees. Bands with no mass on either side
    * are absent from the batch rollup and skipped here, so n_bins and
    * dof match. */
  def bands(events: DataFrame, early: Map[String, Seq[(Long, Long)]]): Dataset[BandsDrift] = {
    val sides = build(early)
    // the ten early band counts, derived once per type
    val ce = sides.map { case (t, s) =>
      val c = Array.fill(10)(0L)
      var prev = 0L
      s.cumLe.foreach { cum => c(bin(cum, s.ne)) += cum - prev; prev = cum }
      t -> c
    }
    fold(events, sides, BandState(Array.fill(10)(0L), 0L)) { (s, st, vs) =>
      val cl = st.cl.clone()
      var nl = st.nLate
      vs.foreach { v => cl(bin(s.cumLeAt(v), s.ne)) += 1L; nl += 1L }
      BandState(cl, nl)
    } { (t, s, st) =>
      val nl = st.nLate
      val ceT = ce(t)
      var nBins = 0L
      var psi = 0.0
      var chi2 = 0.0
      (0 until 10).foreach { b =>
        val ceB = ceT(b)
        val clB = st.cl(b)
        if (ceB > 0L || clB > 0L) {
          nBins += 1L
          val pl = math.max(clB.toDouble / nl, 0.0001)
          val pe = math.max(ceB.toDouble / s.ne, 0.0001)
          psi += (pl - pe) * math.log(pl / pe)
          val d = (BigInt(ceB) * nl - BigInt(clB) * s.ne).toDouble
          chi2 += d * d * (s.ne + nl) / (s.ne.toDouble * nl * (ceB + clB))
        }
      }
      BandsDrift(t, s.ne, nl, nBins, r4(psi), nBins - 1L, r4(chi2))
    }
  }
}
