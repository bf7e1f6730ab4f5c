package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The drift twins' side of the r17-verdict task-1 straddle (the batch
  * spelling's pins live in DegenerateInputSpec): each twin's walk runs
  * the BigInt wide spelling, and these pins drive it with synthetic
  * early/late histograms whose counts sit ABOVE the old Long boundary
  * (ne·nl = 10¹⁶ ≫ 9.2·10¹⁴, where mx·10⁴ used to wrap SILENTLY in
  * JVM arithmetic) plus one control below it. No Spark session — the
  * walks are pure functions over the quantizer-bounded level arrays,
  * which is exactly why the pins can reach counts no generated corpus
  * could (5·10⁷ rows per level are two map entries here). */
class DriftOverflowSpec extends AnyFunSuite {

  private val m = 50000000L // 5e7 per level → ne = nl = 1e8, ne·nl = 1e16

  // early mass at cents {100, 200}, late mass at {300, 400}: disjoint,
  // late strictly above — the closed-form corner of every drift stat
  private val side =
    HistogramDrift.build(Map("t" -> Seq((100L, m), (200L, m))))("t")
  private val late = Map(300L -> m, 400L -> m)
  private val ne = 2 * m
  private val nl = 2 * m

  test("KS sup walk above the old boundary: disjoint supports give " +
      "mx = ne*nl exactly and scaleBp = 10000 bp (mx*10^4 = 1e20 > 2^63)") {
    val (mx, at) = HistogramDrift.sup(side, late, nl)
    assert(mx == BigInt(ne) * nl, s"mx $mx")
    assert(at == 200L, s"first-max tiebreak at the early top: $at")
    assert(mx * 10000 > BigInt(Long.MaxValue), "straddle too small")
    assert(HistogramDrift.scaleBp(mx, ne, nl) == 10000L)
  }

  test("KS sup walk below the old boundary (control): same shape at " +
      "1e6 per side still reads 10000 bp") {
    val small =
      HistogramDrift.build(Map("t" -> Seq((100L, 500000L), (200L, 500000L))))("t")
    val (mx, _) = HistogramDrift.sup(small, Map(300L -> 1000000L), 1000000L)
    assert(mx == BigInt(1000000L) * 1000000L)
    assert(HistogramDrift.scaleBp(mx, 1000000L, 1000000L) == 10000L)
  }

  test("EMD walk above the old boundary: the disjoint-support W1 is the " +
      "inter-centroid distance exactly — 200 cents = 2e6 bp (tot = 2e18," +
      " remainder scaling would have wrapped)") {
    // cross term is ne·nl = 1e16 on the gaps 200→300 (wait: levels are
    // 100,200,300,400; |D| is m·nl at 200..300 and ne·nl inside) —
    // expected value replayed with an independent BigInt walk:
    val merged = Seq(100L, 200L, 300L, 400L)
    var cumE = 0L; var cumL = 0L; var tot = BigInt(0)
    merged.zip(merged.tail :+ 400L).foreach { case (v, nxt) =>
      if (v <= 200L) cumE += m else cumL += m
      tot += (BigInt(cumE) * nl - BigInt(cumL) * ne).abs * (nxt - v)
    }
    val got = HistogramDrift.w1(side, late, nl)
    assert(got == tot, s"$got vs replay $tot")
    // mean |X−Y| for X∈{100,200}, Y∈{300,400} uniform = 200 cents
    val d = BigInt(ne) * nl
    assert(((got / d) * 10000 + ((got % d) * 10000) / d).toLong == 2000000L)
  }

  test("CvM and AD walks above the old boundary: the BigInt cross term " +
      "keeps the closed forms the Degenerate pins state at tiny counts") {
    // CvM disjoint 2-level vs 2-level with equal masses: D/(ne·nl) walks
    // 0.5, 1, 0.5 over the 3 live levels with pooled weight m each —
    // replayed with the twin's own incremental double loop (same
    // ascending order, same operand tree: the float envelope is
    // unchanged by the integer respelling) over BigInt cross terms
    val wantCvm = {
      var cumE = 0L; var cumL = 0L; var num = 0.0
      Seq(100L, 200L, 300L, 400L).foreach { v =>
        if (v <= 200L) cumE += m else cumL += m
        val d = (BigInt(cumE) * nl - BigInt(cumL) * ne).toDouble
        num += m * d * d
      }
      val den = (ne + nl).toDouble * (ne + nl) * ne * nl
      BigDecimal(num / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(HistogramDrift.cvmStat(side, late, nl) == wantCvm)

    // AD: replay the twin's own sum with BigInt cross terms — the pin
    // is that the walk's value survives counts where Long D wrapped
    var cumE = 0L; var cumL = 0L; var sum = 0.0
    Seq(100L, 200L, 300L, 400L).foreach { v =>
      if (v <= 200L) cumE += m else cumL += m
      val cumN = cumE + cumL
      if (cumN < ne + nl) {
        val d = (BigInt(cumE) * nl - BigInt(cumL) * ne).toDouble
        sum += m * d * d / (ne.toDouble * nl * cumN * (ne + nl - cumN))
      }
    }
    val wantAd = BigDecimal(sum)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(HistogramDrift.adStat(side, late, nl) == wantAd)
    // and the old spelling really was past its envelope here
    assert(BigInt(ne) * nl > BigInt("920000000000000"), "straddle too small")
  }
}
