package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Straddle pins for every LOUD-AT-BOUND row of SCALING.md's
  * "Arithmetic envelopes" table (r18 verdict task 5 — the
  * DriftOverflowSpec discipline generalized): each row gets one test
  * that actually DRIVES the raise (ANSI/JVM exception observed) and
  * one control just below the boundary whose value is replayed
  * exactly. Rows and where their straddles live:
  *
  *  - drift ×10⁴ scaling (ks/tvd/emd/mw cles) — DegenerateInputSpec
  *    ("drift overflow straddle") + DriftOverflowSpec (twins). Covered
  *    since r18.
  *  - x_drift_mw u2 OUTPUT width (BIGINT cast raise at u2 ≥ 2⁶³) —
  *    HERE ("MW u2 output straddle").
  *  - x_markov_lumpable lhs/rhs OUTPUT narrowing (isValidLong raise)
  *    — HERE ("lumpable lhs/rhs output straddle").
  *  - forecast integer folds holt/damped/hw (Long ×10⁴ promotion,
  *    ANSI raise) — HERE, one straddle per fold, driving the SHARED
  *    ForecastFrame operand trees the queries compile. x_forecast_ses
  *    has no integer boundary (pure dyadic double fold — rounds,
  *    never wraps) and is deliberately absent.
  *  - x_token_burstiness VMR numerator (DECIMAL(38,0) raise at
  *    n·SS ≥ 10³⁴) — HERE, driving MiningOps' shared spelling.
  *  - weekday-anova twin Q_g multiplyExact / MW twin u2 addExact /
  *    drift twin BigInt walks — JVM-side, in StreamingWeekdayAnova.stats
  *    and graft.streaming.HistogramDrift; DriftOverflowSpec drives the
  *    drift walks (loud by multiplyExact/addExact or exact by BigInt).
  *  - x_session_gap_sweep n_events·10⁴, minhash shingle key guard,
  *    dedup fingerprint doc_id·2654435761 — single-multiply Long
  *    spellings whose ANSI raise is engine behavior on one literal
  *    `*`; their bounds are stated (and the shingle guard's
  *    raise_error is driven in its own spec).
  *
  * The raise tests assert the failure is an ArithmeticException class
  * (or an overflow-flagged Spark error) somewhere in the cause chain —
  * loud, typed, never a silently wrong row. */
class ArithmeticEnvelopeSpec extends AnyFunSuite with SparkTestBase {

  /** Runs `body` and asserts it fails LOUDLY with an arithmetic
    * overflow somewhere in the cause chain (Spark may wrap the
    * executor-side SparkArithmeticException in a SparkException). */
  private def assertRaises(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[ArithmeticException] ||
        Option(t.getMessage).exists(m =>
          m.toLowerCase.contains("overflow") ||
            m.toLowerCase.contains("out of range"))),
      s"expected a loud arithmetic raise, got: $e")
  }

  // ---- forecast integer folds (ForecastFrame, shared operand trees) ----

  /** Long replay of the Holt fold — exact below the boundary. */
  private def holtReplay(xs: Seq[Long]): (Long, Long, Long) = {
    var l = xs.head * 10000L; var b = 0L; var e = 0L
    xs.tail.foreach { x =>
      // Scala / is trunc toward zero on Long — the same integral
      // division Spark's DIV performs, so the replay is op-identical
      val l2 = (x * 10000L + l + b) / 2
      val b2 = (l2 - l + b) / 2
      e += math.abs(x * 10000L - l - b)
      l = l2; b = b2
    }
    (l, b, e)
  }

  test("forecast holt fold straddle: control below the x*10^4 boundary " +
      "(x = 4e14/day) folds exactly; above (x = 1e15/day) ANSI raises") {
    import spark.implicits._
    val below = Seq(Tuple1(Seq(400000000000000L, 400000000000000L)))
      .toDF("xs")
      .select(expr(ForecastFrame.holtFoldSql).as("st"))
      .select($"st.l", $"st.b", $"st.e").as[(Long, Long, Long)]
      .collect().head
    assert(below == holtReplay(Seq(400000000000000L, 400000000000000L)),
      below.toString)
    // sanity: one day at 1e15 pushes x*10^4 = 1e19 past 2^63 ≈ 9.22e18
    assert(BigInt(1000000000000000L) * 10000 > BigInt(Long.MaxValue))
    assertRaises {
      Seq(Tuple1(Seq(1L, 1000000000000000L))).toDF("xs")
        .select(expr(ForecastFrame.holtFoldSql).as("st"))
        .select($"st.l").collect()
    }
  }

  test("forecast damped-holt fold straddle: control below folds exactly " +
      "(phi = 3/4 damping is a trunc division, no new scale factor); " +
      "above ANSI raises at the same x*10^4 promotion") {
    import spark.implicits._
    // three days so the damped trend actually engages ((b*3) DIV 4 != 0)
    val xs = Seq(400000000000000L, 300000000000000L, 400000000000000L)
    val got = Seq(Tuple1(xs)).toDF("xs")
      .select(expr(ForecastFrame.dampedFoldSql).as("st"))
      .select($"st.l", $"st.b", $"st.e").as[(Long, Long, Long)]
      .collect().head
    val want = {
      var l = xs.head * 10000L; var b = 0L; var e = 0L
      xs.tail.foreach { x =>
        val damped = b * 3L / 4L // b can be negative: trunc, like DIV
        val l2 = (x * 10000L + l + damped) / 2
        val b2 = (l2 - l + damped) / 2
        e += math.abs(x * 10000L - l - damped)
        l = l2; b = b2
      }
      (l, b, e)
    }
    assert(got == want, s"$got vs $want")
    assertRaises {
      Seq(Tuple1(Seq(1L, 1000000000000000L))).toDF("xs")
        .select(expr(ForecastFrame.dampedFoldSql).as("st"))
        .select($"st.l").collect()
    }
  }

  test("forecast holt-winters fold straddle: control below folds exactly " +
      "(seasonal slot update replayed); above ANSI raises") {
    import spark.implicits._
    def frame(ns: Seq[Long]) =
      ns.zipWithIndex.map { case (n, d) => (d.toLong, n) }.toDF("day", "n")
        .agg(expr("sort_array(collect_list(struct(day, n)))").as("xs"))
    val ns = Seq(400000000000000L, 300000000000000L, 350000000000000L)
    val got = frame(ns)
      .select(expr(ForecastFrame.hwFoldSql).as("st"))
      .select($"st.l", $"st.b", $"st.s", $"st.e")
      .as[(Long, Long, Seq[Long], Long)].collect().head
    val want = {
      var l = ns.head * 10000L; var b = 0L; var e = 0L
      val s = Array.fill(7)(0L)
      ns.zipWithIndex.tail.foreach { case (x, day) =>
        val i = day % 7
        val l2 = (x * 10000L - s(i) + l + b) / 2
        val b2 = (l2 - l + b) / 2
        e += math.abs(x * 10000L - l - b - s(i))
        s(i) = (x * 10000L - l2 + s(i)) / 2
        l = l2; b = b2
      }
      (l, b, s.toSeq, e)
    }
    assert(got == want, s"$got vs $want")
    assertRaises {
      frame(Seq(1L, 1000000000000000L))
        .select(expr(ForecastFrame.hwFoldSql).as("st"))
        .select($"st.l").collect()
    }
  }

  // ---- MW u2 OUTPUT width (DriftArith.mwU2Sql) ----

  test("MW u2 output straddle: u2 = ne*nl stays exact at 9e18 (< 2^63) " +
      "and the BIGINT output cast raises at 9.61e18 (ne = nl = 3.1e9)") {
    import spark.implicits._
    // all-tied single level: r2 = ne*(ne + nl + 1) so u2 = ne*nl — the
    // DegenerateInputSpec construction pushed to the OUTPUT boundary
    def mw(ne: Long, nl: Long) =
      Seq((ne, 0L, nl)).toDF("ea", "cb", "la")
        .withColumn("ne", $"ea").withColumn("nl", $"la")
        .groupBy("ne", "nl")
        .agg(sum(expr(DriftArith.mwR2TermSql("ea", "cb", "la"))).as("r2"))
        .select(expr(DriftArith.mwU2Sql("r2", "ne")).as("u2"))
    assert(mw(3000000000L, 3000000000L).as[Long].collect().toSeq ==
      Seq(9000000000000000000L))
    // internal DECIMAL(38,0) arithmetic is exact far beyond — only the
    // BIGINT output WIDTH binds, and it binds loudly
    assert(BigInt(3100000000L) * 3100000000L > BigInt(Long.MaxValue))
    assertRaises(mw(3100000000L, 3100000000L).collect())
  }

  // ---- x_markov_lumpable lhs/rhs OUTPUT narrowing ----

  test("lumpable lhs/rhs output straddle: bs*ni = 9e18 narrows exactly " +
      "with eq = 1; 9.61e18 raises the typed isValidLong guard") {
    import spark.implicits._
    def chain(n: Long) = Seq(
      ("click", "purchase", n), ("view", "purchase", n))
      .toDF("prev_type", "next_type", "n")
    val ok = EventAnalytics.lumpableFold(chain(3000000000L))
      .where($"to_block" === "conversion")
      .select($"lhs", $"rhs", $"eq").as[(Long, Long, Long)]
      .collect().toSeq
    // symmetric counts: lhs = rhs = 3e9 * 3e9 exactly, lumpable pair
    assert(ok == Seq((9000000000000000000L, 9000000000000000000L, 1L)), ok)
    val e = intercept[ArithmeticException] {
      EventAnalytics.lumpableFold(chain(3100000000L)).collect()
    }
    assert(e.getMessage.contains("x_markov_lumpable"), e.getMessage)
  }

  // ---- x_token_burstiness VMR numerator (MiningOps shared spelling) ----

  test("burstiness VMR straddle: n*SS = 1e33 computes exactly in " +
      "DECIMAL(38,0); n*SS = 1e34 raises at the *10^4 promotion") {
    import spark.implicits._
    def vmr(nDocs: Long, ss: BigInt, s: Long, df: Long) =
      Seq((nDocs, ss.toString, s, df)).toDF("n_docs", "ss_str", "s", "df")
        .withColumn("ss", expr("CAST(ss_str AS DECIMAL(38,0))"))
        .select(expr(MiningOps.burstBpSql).as("burst_bp"),
          expr(MiningOps.vmrBpSql).as("vmr_bp"))
    // control: n = 1e16 docs, SS = 1e17, S = 1e9 → n*SS = 1e33;
    // (n*SS − S²)·10⁴ = 1e37 − 1e22 fits DECIMAL(38,0)
    val got = vmr(10000000000000000L, BigInt("100000000000000000"),
      1000000000L, 1000000000L).as[(Long, Long)].collect().head
    val wantVmr = ((BigInt(10000000000000000L) * BigInt("100000000000000000")
      - BigInt(1000000000L) * 1000000000L) * 10000 /
      (BigInt(10000000000000000L) * 1000000000L)).toLong
    val wantBurst = (BigInt(1000000000L) * 10000 / 1000000000L).toLong
    assert(got == (wantBurst, wantVmr), s"$got vs ($wantBurst, $wantVmr)")
    // above: n = 2e17 → n*SS = 2e34; (n*SS − S²)·10⁴ ≈ 2e38 > 10³⁸−1,
    // raises (n = 1e17 would land at 9.99…e37 — just UNDER the
    // boundary after the −S² term, which is the control's point)
    assertRaises(vmr(200000000000000000L, BigInt("100000000000000000"),
      1000000000L, 1000000000L).collect())
  }
}
