package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** Constructed-degenerate-corpus pins for every moment-ratio query (the
  * round-7 x_heaps_fit lesson): a closed vocabulary / constant series is
  * LEGAL input, and on it every raw slope/r2/correlation is 0/0
  * cancellation noise that DuckDB evaluates with RUN-VARYING results —
  * so each query carries an integer-exact degeneracy guard, and each
  * guard is pinned here on a corpus built to trip it. The non-degenerate
  * control rows in the same corpus prove the guard doesn't over-fire. */
class DegenerateInputSpec extends AnyFunSuite with SparkTestBase {

  test("x_heaps_fit: saturated closed vocabulary => beta 0.0, r2 1.0, flagged") {
    import spark.implicits._
    val dir = tmpDir("heapsdegen")
    // 40 docs over a TWO-word closed vocabulary: both types are seen by
    // doc 1, so n_types is constant (=2) at every ladder step
    (1L to 40L).map(i => (i, "aa bb aa", "en", "s0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_heaps_fit")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(2) == 2L, s"n_types: $r")
      assert(r.getDouble(3) == 0.0 &&
        !(1.0 / r.getDouble(3)).isNegInfinity, s"beta not +0.0: $r")
      assert(r.getDouble(4) == 1.0, s"r2: $r")
      assert(r.getBoolean(5), s"saturated flag: $r")
    }
    // determinism across runs — the precise failure mode was run-varying
    val a = SparkEntry.queries("x_heaps_fit")(spark, dir).collect().map(_.toString)
    val b = SparkEntry.queries("x_heaps_fit")(spark, dir).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("x_heaps_fit: growing vocabulary keeps the live regression branch") {
    import spark.implicits._
    val dir = tmpDir("heapslive")
    // doc i introduces a fresh type w<i> alongside the common filler, so
    // n_types strictly grows with every ladder step
    (1L to 40L).map(i => (i, s"w$i aa", "en", "s0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_heaps_fit")(spark, dir).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(2)).distinct.length > 1, "n_types must vary")
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0, s"beta must be positive on growth: $r")
      assert(r.getDouble(4) > 0.9, s"near-linear growth, r2: $r")
      assert(!r.getBoolean(5), s"saturated flag must be off: $r")
    }
  }

  test("real-codec media queries: 1-char and short docs cycle exactly; empty docs filtered") {
    import spark.implicits._
    val dir = tmpDir("mediadegen")
    Seq((1L, "a", "en", "s0", 1L), (2L, "zx", "en", "s0", 2L),
        (3L, "", "en", "s0", 0L), (4L, "abc " * 100, "en", "s0", 400L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // decode: the 1-char doc renders every pixel 'a' (97) — mean luma is
    // floor(970000/255) = 3803 regardless of the doc_id-derived dims
    val dec = SparkEntry.queries("x_media_decode")(spark, dir).collect()
    assert(dec.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L), "empty doc must filter")
    val d1 = dec.find(_.getLong(0) == 1L).get
    assert(d1.getInt(1) == 9 && d1.getInt(2) == 9 && d1.getInt(3) == 1 &&
      d1.getLong(4) == 3803L, d1.toString)

    // audio: one sample (97-64)*256 = 8448 → floor(84480000/32768) = 2578
    val aud = SparkEntry.queries("x_media_audio")(spark, dir).collect()
    val a1 = aud.find(_.getLong(0) == 1L).get
    assert(a1.getLong(3) == 1L && a1.getLong(4) == 2578L, a1.toString)

    // frame decode: doc 1 packs 5 real frames, 3 decoded, same 'a' mean
    val frm = SparkEntry.queries("x_media_frames_decode")(spark, dir).collect()
    val f1 = frm.find(_.getLong(0) == 1L).get
    assert(f1.getLong(1) == 5L && f1.getLong(2) == 3L &&
      f1.getLong(3) == 3803L, f1.toString)

    // knn over 3 surviving docs: each probe gets the other 2 neighbours,
    // all features positive → sims in (0, 1]
    val knn = SparkEntry.queries("x_media_knn")(spark, dir).collect()
    assert(knn.map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 2L, 4L))
    assert(knn.forall(r => r.getLong(3) > 0L && r.getLong(3) <= 10000L))
  }

  test("x_dup_spans: overlapping duplicated grams merge into maximal spans; self-dups count") {
    import spark.implicits._
    val dir = tmpDir("spansdegen")
    Seq(
      // docs 1+2 share the 6-token run "a b c d e f" (two overlapping
      // duplicated 5-grams -> ONE island -> one 6-token span per doc)
      (1L, "a b c d e f g h", "en", "s0", 15L),
      (2L, "x x a b c d e f y", "en", "s0", 17L),
      // unique doc: no span
      (3L, "q w e r t", "en", "s0", 9L),
      // SELF-duplication: "m n o p q" twice within one doc -> two
      // disjoint 5-token spans in the same doc (gap 6 > 4: no merge)
      (4L, "m n o p q z m n o p q", "en", "s0", 21L),
      // GAP-TOLERANT island merge (s1): doc 5's grams @0 and @2 are
      // duplicated (in doc 6) but @1 is not — their 5-token spans
      // OVERLAP, so they must merge into ONE 7-token span; a
      // strictly-consecutive island key would emit 5+5=10 dup tokens
      // for a 7-token doc
      (5L, "g1 g2 g3 g4 g5 g6 g7", "en", "s1", 20L),
      (6L, "g1 g2 g3 g4 g5 zz g3 g4 g5 g6 g7", "en", "s1", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_dup_spans")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.size == 2, rows.toString)
    // s0: 3 affected docs, 4 spans (1+1+2), 6+6+5+5 = 22 dup tokens of
    // 8+9+5+11 = 33 total -> 6666 bp
    assert(rows("s0") == ((3L, 4L, 22L, 33L, 6666L)), rows.toString)
    // s1: doc 5 = ONE merged 7-token span (overlap); doc 6 = two spans
    // (positions 0 and 6, gap > 4): 5+5. 17 dup of 18 total -> 9444 bp
    assert(rows("s1") == ((2L, 3L, 17L, 18L, 9444L)), rows.toString)
  }

  test("x_dsir_weights: target-vocabulary docs score positive, off-domain negative") {
    import spark.implicits._
    val dir = tmpDir("dsirdegen")
    Seq(
      // target domain src0: fruit vocabulary
      (1L, "apple banana apple banana", "en", "src0", 25L),
      (2L, "banana apple banana", "en", "src0", 19L),
      // off-domain src1: disjoint vocabulary...
      (3L, "car door car door car", "en", "src1", 21L),
      (4L, "door car door", "en", "src1", 13L),
      // ...except one src1 doc written in the TARGET vocabulary — the
      // doc importance resampling exists to find
      (5L, "apple banana apple", "en", "src1", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_dsir_weights")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (n0, w0, t0) = rows("src0")
    val (n1, w1, t1) = rows("src1")
    assert(n0 == 2L && n1 == 3L, rows.toString)
    assert(w0 > 0L, s"target-domain docs must score positive: $rows")
    assert(w1 < 0L, s"mostly off-domain source must score negative: $rows")
    assert(t0 == 2L, s"every src0 doc is target-like: $rows")
    assert(t1 == 1L, s"exactly the fruit-vocab src1 doc is target-like: $rows")
  }

  test("x_zipf_slope: all-tied counts => slope 0.0, intercept ln(n), r2 1.0; varying lang unaffected") {
    import spark.implicits._
    val dir = tmpDir("zipfdegen")
    // lang "xx": every type occurs exactly 3 times (constant y).
    // lang "en": zipf-ish varying counts (control).
    val tied = (1L to 10L).map(i => (i, s"t$i t$i t$i", "xx", "s0", 11L))
    val varied = (11L to 20L).map(i =>
      (i, ("common " * (21 - i).toInt).trim + s" rare$i", "en", "s0", 20L))
    (tied ++ varied).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("x_zipf_slope")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val xx = out("xx")
    assert(xx.getDouble(2) == 0.0 &&
      !(1.0 / xx.getDouble(2)).isNegInfinity, s"slope not +0.0: $xx")
    assert(xx.getDouble(3) == math.BigDecimal(math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"intercept: $xx")
    assert(xx.getDouble(4) == 1.0, s"r2: $xx")
    val en = out("en")
    assert(en.getDouble(2) < 0.0, s"control slope must stay negative: $en")
  }

  test("x_hill_tail: fully-tied tail is dropped; real tail kept") {
    import spark.implicits._
    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val dir = tmpDir("hilldegen")
    // "flat": 250 events all value=5.0 -> top-201 all tie -> alpha = 1/0,
    // must be DROPPED. "pareto": 250 events with a genuine tail -> kept.
    val flat = (1L to 250L).map(i => (i, ts0, i % 7, "flat", 5.0, "{}"))
    val pareto = (251L to 500L).map(i =>
      (i, ts0, i % 7, "pareto", 1.0 / (1.0 - (i - 250L).toDouble / 251.0), "{}"))
    (flat ++ pareto)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_hill_tail")(spark, dir).collect()
    val types = rows.map(_.getString(0)).toSet
    assert(!types.contains("flat"), s"tied tail must be dropped: ${rows.mkString}")
    assert(types.contains("pareto"), s"real tail must survive: ${rows.mkString}")
    assert(rows.forall(r => !r.isNullAt(2) && !r.getDouble(2).isInfinite))
  }

  test("x_autocorr: constant daily series => exact-integer guard yields 0 bp") {
    import spark.implicits._
    val dir = tmpDir("acdegen")
    // 20 days x exactly 3 events/day: variance term m*saa - sa*sa is an
    // EXACT integer 0, so the guard must fire (never a noisy ratio)
    val rows = for { d <- 0L until 20L; k <- 0L until 3L } yield
      (d * 3 + k, new Timestamp(86400000L * d + k), d % 5, "steady", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("x_autocorr")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(3) == 0L, s"constant series bp: $r"))
  }

  test("x_drift_ks closed forms: identical halves => 0 bp; disjoint " +
      "value supports => exactly 10000 bp") {
    import spark.implicits._
    val dir = tmpDir("ksdegen")
    // 'same': the same 10 values in both calendar halves (days 0 and
    // 10 split at (0+10) DIV 2 = 5) → every ECDF cross-term cancels →
    // ks_bp = 0, ks_at = the minimum cent level.
    // 'shift': late-half values all strictly above the early half →
    // at the early support's top the ECDF gap is ne·nl exactly →
    // ks_bp = 10000 and ks_at = the early half's max cent level.
    val same = (1L to 10L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "same", i.toDouble, "{}"),
      (100 + i, new Timestamp(864000000L), i, "same", i.toDouble, "{}")))
    val shift = (1L to 10L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "shift", i.toDouble, "{}"),
      (300 + i, new Timestamp(864000000L), i, "shift", 100.0 + i, "{}")))
    (same ++ shift)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_drift_ks")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("same") == ((10L, 10L, 100L, 0L)), rows("same").toString)
    assert(rows("shift") == ((10L, 10L, 1000L, 10000L)), rows("shift").toString)

    // x_drift_psi on the SAME corpora: identical halves put p_b = q_b in
    // every band → psi exactly 0.0; the shifted half stacks ALL late
    // mass in the top early band (the documented reference-binned
    // blindness) → 9 bands at (ε − 0.1)·ln(ε/0.1) plus (1 − 0.1)·ln(10),
    // replicated here with the query's own clamped double arithmetic
    val psi = SparkEntry.queries("x_drift_psi")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(psi("same") == ((10L, 10L, 10L, 0.0)), psi("same").toString)
    val eps = 0.0001
    val term0 = (eps - 0.1) * math.log(eps / 0.1)
    val term9 = (1.0 - 0.1) * math.log(1.0 / 0.1)
    val want = BigDecimal(9 * term0 + term9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(psi("shift") == ((10L, 10L, 10L, want)), psi("shift").toString)
  }

  test("x_drift_emd closed forms: identical halves => 0; point masses " +
      "at distance d => w1_bp EXACTLY d*10^4; a uniform shift by s => " +
      "exactly s*10^4") {
    import spark.implicits._
    val dir = tmpDir("emddegen")
    // 'same': identical half-multisets → every cross term cancels → 0.
    // 'point': early all at 1.00, late all at 8.00 → the verdict's
    // closed form: disjoint point masses at distance d ⇒ W₁ = d =
    // 700 cents ⇒ w1_bp = 700·10⁴ (the only nonzero term is the full
    // ne·nl gap over the 700-cent span).
    // 'shift': the KS pin's corpus — 10 uniform levels shifted up by
    // exactly 100.00 → W₁ = 10⁴ cents ⇒ w1_bp = 10⁸ (translation
    // invariance: W₁ of a pure shift IS the shift).
    val same = (1L to 10L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "same", i.toDouble, "{}"),
      (100 + i, new Timestamp(864000000L), i, "same", i.toDouble, "{}")))
    val point = (1L to 5L).flatMap(i => Seq(
      (400 + i, new Timestamp(0L), i, "point", 1.0, "{}"),
      (500 + i, new Timestamp(864000000L), i, "point", 8.0, "{}")))
    val shift = (1L to 10L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "shift", i.toDouble, "{}"),
      (300 + i, new Timestamp(864000000L), i, "shift", 100.0 + i, "{}")))
    (same ++ point ++ shift)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_drift_emd")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("same") == ((10L, 10L, 0L)), rows("same").toString)
    assert(rows("point") == ((5L, 5L, 7000000L)), rows("point").toString)
    assert(rows("shift") == ((10L, 10L, 100000000L)), rows("shift").toString)

    // x_drift_cvm on the SAME corpora: identical halves → every cross
    // term 0 → 0.0; the 10-level disjoint shift has D = 10k at the
    // k-th early level and 10(10−j) at the j-th late level, each with
    // pooled weight 1 → Σ w·D² = 100·(Σ₁¹⁰k² + Σ₁⁹k²) = 67000 and
    // T = 67000/(20²·10·10) = EXACTLY 1.675; the point-mass pair has
    // one nonzero level (w = 5, D = 25) → 3125/2500 = EXACTLY 1.25.
    val cvm = SparkEntry.queries("x_drift_cvm")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(cvm("same") == ((10L, 10L, 0.0)), cvm("same").toString)
    assert(cvm("point") == ((5L, 5L, 1.25)), cvm("point").toString)
    assert(cvm("shift") == ((10L, 10L, 1.675)), cvm("shift").toString)

    // x_drift_ad on the SAME corpora: identical halves → 0.0; disjoint
    // point masses with ne = nl = m → EXACTLY m (one live level:
    // w·D²/(m²·m·m) = m·m⁴/m⁴); the shift replays Pettitt's untied
    // per-observation sum (w ≡ 1): Σ_{j≤10} j/(20−j) + Σ_{j>10} (20−j)/j
    val ad = SparkEntry.queries("x_drift_ad")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(ad("same") == ((10L, 10L, 0.0)), ad("same").toString)
    assert(ad("point") == ((5L, 5L, 5.0)), ad("point").toString)
    val pettitt =
      (1 to 10).map(j => 100.0 * j * j / (100.0 * j * (20 - j))).sum +
      (11 to 19).map(j =>
        100.0 * (20 - j) * (20 - j) / (100.0 * j * (20 - j))).sum
    val wantAd = BigDecimal(pettitt)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ad("shift")._1 == 10L && ad("shift")._2 == 10L &&
      math.abs(ad("shift")._3 - wantAd) <= 1e-4,
      s"${ad("shift")} vs replayed Pettitt $wantAd")
  }

  test("x_drift_mw closed forms: identical halves => EXACTLY 5000 bp " +
      "(pairing symmetry, not expectation); late half strictly above " +
      "=> u2 = 0 and 0 bp") {
    import spark.implicits._
    val dir = tmpDir("mwdegen")
    // same corpora shape as the x_drift_ks pins: 'same' puts the same
    // 10 values in both calendar halves → for every (early, late) pair
    // the reversed pair exists, so 2U = ne·nl exactly and cles_bp =
    // (ne·nl·10⁴) DIV (2·ne·nl) = 5000 regardless of parity. 'shift'
    // puts every late value strictly above every early one → early
    // wins NO pair → u2 = 0, cles_bp = 0 (the direction KS cannot
    // express: its 10000 bp says "maximally different", MW's 0 says
    // "moved UP").
    val same = (1L to 10L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "same", i.toDouble, "{}"),
      (100 + i, new Timestamp(864000000L), i, "same", i.toDouble, "{}")))
    val shift = (1L to 10L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "shift", i.toDouble, "{}"),
      (300 + i, new Timestamp(864000000L), i, "shift", 100.0 + i, "{}")))
    (same ++ shift)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_drift_mw")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("same") == ((10L, 10L, 100L, 5000L)), rows("same").toString)
    assert(rows("shift") == ((10L, 10L, 0L, 0L)), rows("shift").toString)
  }

  test("x_graph_linkpred closed form: a path graph a—b—c yields the " +
      "single candidate (a, c) with cn = 1 and jaccard exactly 10000") {
    import spark.implicits._
    val dir = tmpDir("linkpreddegen")
    // 5 docs {aa bb} + 5 docs {bb cc}: overlap(aa,bb) = 5/min(5,10) =
    // 10000 bp ≥ 8200 → edge; same for (bb,cc); (aa,cc) never co-occur
    // → no edge. The only wedge is aa—bb—cc, so the candidate list is
    // exactly {(aa, cc)}: cn = 1, dg(aa) = dg(cc) = 1, and since
    // neither endpoint neighbors the other |N∪| = 1+1−1 = 1 →
    // jaccard_bp = 10000 — the closed form of the "neighborhoods
    // coincide" extreme.
    val docs = (1L to 5L).map(i => (i, "aa bb", "en", "s0", 5L)) ++
      (6L to 10L).map(i => (i, "bb cc", "en", "s0", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_graph_linkpred")(spark, dir).collect()
    assert(rows.length == 1, rows.mkString("; "))
    val r = rows.head
    assert(r.getString(0) == "aa" && r.getString(1) == "cc", r.toString)
    assert(r.getLong(2) == 1L && r.getLong(3) == 10000L, r.toString)
  }

  test("x_growth_accounting closed form: a 4-user 3-week corpus replays " +
      "the full new/retained/resurrected/churned decomposition by hand") {
    import spark.implicits._
    val dir = tmpDir("growthdegen")
    // A active w0,w1,w2; B w0 only; C w0,w2 (skips w1); D w1 only.
    // w0: active 3 (A,B,C) all new; churned 0 (no prior week).
    // w1: active 2 (A,D) — D new, A retained; churned = 3 − 1 = 2
    //     (B and C both missed w1) → quick = 1·10⁴ DIV 2 = 5000.
    // w2: active 2 (A,C) — A retained, C RESURRECTED (prev active week
    //     0 < w−1); churned = 2 − 1 = 1 (D) → quick = 10⁴.
    val wk = 604800000L
    val ev = Seq((1L, 0L), (2L, wk), (3L, 2 * wk), // A
      (4L, 0L), // B
      (5L, 0L), (6L, 2 * wk), // C
      (7L, wk)) // D
    val users = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 3L, 7L -> 4L)
    ev.map { case (id, ms) =>
      (id, new Timestamp(ms), users(id), "visit", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_growth_accounting")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(rows(0L) == ((3L, 3L, 0L, 0L, 0L, 0L)), rows(0L).toString)
    assert(rows(1L) == ((2L, 1L, 1L, 0L, 2L, 5000L)), rows(1L).toString)
    assert(rows(2L) == ((2L, 0L, 1L, 1L, 1L, 10000L)), rows(2L).toString)
  }

  test("x_forecast_holt closed forms: constant series is a fixpoint " +
      "(trend 0, mae 0); two-point series replays by hand; singleton " +
      "day takes the n_days = 1 branch in BOTH engines") {
    import spark.implicits._
    val dir = tmpDir("holtdegen")
    // 'flat': 5 days × 3 events/day → l = 3·10⁴ every step, b = 0,
    // e = 0 (the quantized recursion's exact fixpoint).
    // 'pair': day0 4 events, day1 8 → l' = 6·10⁴, b' = 10⁴,
    // forecast 7·10⁴, mae = |8−4|·10⁴ DIV 1 = 4·10⁴.
    // 'once': one day, 2 events → the seed-only branch.
    val day = 86400000L
    val flat = for { d <- 0L until 5L; k <- 0L until 3L } yield
      (d * 10 + k, new Timestamp(d * day), k, "flat", 1.0, "{}")
    val pair = (0L until 4L).map(i =>
      (100 + i, new Timestamp(0L), i, "pair", 1.0, "{}")) ++
      (0L until 8L).map(i =>
        (200 + i, new Timestamp(day), i, "pair", 1.0, "{}"))
    val once = (0L until 2L).map(i =>
      (300 + i, new Timestamp(0L), i, "once", 1.0, "{}"))
    (flat ++ pair ++ once)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_forecast_holt")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rows("flat") == ((5L, 30000L, 0L, 30000L, 0L)),
      rows("flat").toString)
    assert(rows("pair") == ((2L, 60000L, 10000L, 70000L, 40000L)),
      rows("pair").toString)
    assert(rows("once") == ((1L, 20000L, 0L, 20000L, 0L)),
      rows("once").toString)
  }

  test("x_weekday_anova closed forms: constant series trips the " +
      "integer tz guard (0/0); perfectly periodic series => eta2 " +
      "EXACTLY 1.0 with the infinite-F sentinel; a hand-built mixed " +
      "corpus replays eta2 = 2/3 and F = 4.0") {
    import spark.implicits._
    val dir = tmpDir("anovadegen")
    val day = 86400000L
    // 'flat': 10 days × 5/day → N·Q − S² = 10·250 − 2500 = 0 → both 0
    val flat = for { d <- 0L until 10L; k <- 0L until 5L } yield
      (d * 10 + k, new Timestamp(d * day), k, "flat", 1.0, "{}")
    // 'perfect': 2 full weeks of 2^(d%7)·... use (d%7)+1 counts — every
    // weekday's two observations identical → wz = 0, eta2 = 1.0, F
    // emitted as the 0.0 infinite-F sentinel
    val perfect = for {
      d <- 0L until 14L
      k <- 0L until (d % 7L) + 1L
    } yield (1000 + d * 100 + k, new Timestamp(d * day), k, "perfect",
      1.0, "{}")
    // 'mixed': wd0 days {1, 3}, wd1 days {4, 4} (days 0,1 then 7,8):
    // ssb = 16/2 + 64/2 = 40, S = 12, Q = 42, N = 4, k = 2 →
    // tz = 4·42 − 144 = 24, num = 4·40 − 144 = 16 → eta2 = 2/3;
    // wz = (2·10 − 16) + (2·32 − 64) = 4 → F = 16·2/(4·2·1) = 4.0
    val mixed =
      (0L until 1L).map(i => (5000L + i, new Timestamp(0L), i, "mixed", 1.0, "{}")) ++
      (0L until 4L).map(i => (5100L + i, new Timestamp(day), i, "mixed", 1.0, "{}")) ++
      (0L until 3L).map(i => (5200L + i, new Timestamp(7 * day), i, "mixed", 1.0, "{}")) ++
      (0L until 4L).map(i => (5300L + i, new Timestamp(8 * day), i, "mixed", 1.0, "{}"))
    (flat ++ perfect ++ mixed)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_weekday_anova")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows("flat") == ((10L, 7L, 0.0, 0.0)), rows("flat").toString)
    assert(rows("perfect") == ((14L, 7L, 1.0, 0.0)), rows("perfect").toString)
    assert(rows("mixed") == ((4L, 2L, 0.6667, 4.0)), rows("mixed").toString)
  }

  test("x_forecast_holt_damped closed forms: constant series is a " +
      "fixpoint; two-point series replays by hand with the trend " +
      "VISIBLY damped vs raw Holt; singleton day takes the seed branch") {
    import spark.implicits._
    val dir = tmpDir("holtdampdegen")
    val day = 86400000L
    // 'flat': 5 days × 3/day → l = 3·10⁴ every step (damping a zero
    // trend is zero), all three forecast columns = level, mae 0.
    val flat = for { d <- 0L until 5L; k <- 0L until 3L } yield
      (d * 10 + k, new Timestamp(d * day), k, "flat", 1.0, "{}")
    // 'pair': day0 4, day1 8 → identical l/b to the Holt pin (the
    // seed step damps b = 0): l = 6·10⁴, b = 10⁴, mae 4·10⁴ — but the
    // FORECASTS differ from raw Holt's 7·10⁴: next = 6·10⁴ +
    // (10⁴·3) DIV 4 = 67500, week = 6·10⁴ + (10⁴·42591) DIV 16384 =
    // 85995 (trunc), asymptote = 6·10⁴ + 3·10⁴ = 9·10⁴ — finite,
    // where raw Holt's h→∞ forecast diverges.
    val pair = (0L until 4L).map(i =>
      (100 + i, new Timestamp(0L), i, "pair", 1.0, "{}")) ++
      (0L until 8L).map(i =>
        (200 + i, new Timestamp(day), i, "pair", 1.0, "{}"))
    val once = (0L until 2L).map(i =>
      (300 + i, new Timestamp(0L), i, "once", 1.0, "{}"))
    (flat ++ pair ++ once)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_forecast_holt_damped")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(rows("flat") ==
      ((5L, 30000L, 0L, 30000L, 30000L, 30000L, 0L)),
      rows("flat").toString)
    assert(rows("pair") ==
      ((2L, 60000L, 10000L, 67500L, 85995L, 90000L, 40000L)),
      rows("pair").toString)
    assert(rows("once") ==
      ((1L, 20000L, 0L, 20000L, 20000L, 20000L, 0L)),
      rows("once").toString)
  }

  test("x_token_burstiness closed forms: a once-per-doc token has VMR 0 " +
      "(deterministic, NOT Poisson's 10000); a one-doc burst replays " +
      "k(n-1)*10^4 DIV n by hand") {
    import spark.implicits._
    val dir = tmpDir("burstdegen")
    // 10 docs all containing "base" exactly once; doc 1 additionally
    // holds "burst" 5 times. base: df=10, S=10 → burst_bp = 10⁴,
    // vmr = (10·10 − 100)·10⁴ DIV 100 = 0 — a token that appears
    // EXACTLY once everywhere is maximally UNDER-dispersed (variance
    // 0), which is precisely what separates VMR from the burst ratio.
    // burst: df=1, S=5, SS=25 → burst_bp = 5·10⁴,
    // vmr = (10·25 − 25)·10⁴ DIV 50 = 45000.
    val docs = (1L to 10L).map(i =>
      (i, if (i == 1) "base burst burst burst burst burst" else "base",
        "en", "s0", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_token_burstiness")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows("base") == ((10L, 10L, 10000L, 0L)), rows("base").toString)
    assert(rows("burst") == ((1L, 5L, 50000L, 45000L)),
      rows("burst").toString)
  }

  test("x_stickiness closed form: a daily user and a once-a-week user " +
      "give 10000 bp on the shared day and 5000 on the rest") {
    import spark.implicits._
    val dir = tmpDir("stickdegen")
    val day = 86400000L
    // user 1 active days 0..6, user 2 active day 0 only — one calendar
    // week, wau = 2; day 0 dau = 2 → 10000, days 1..6 dau = 1 → 5000.
    val ev = (0L until 7L).map(d =>
      (d, new Timestamp(d * day), 1L, "visit", 1.0, "{}")) :+
      (100L, new Timestamp(0L), 2L, "visit", 1.0, "{}")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_stickiness")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0L) == ((2L, 2L, 10000L)), rows(0L).toString)
    (1L to 6L).foreach(d =>
      assert(rows(d) == ((1L, 2L, 5000L)), s"day $d: ${rows(d)}"))
  }

  test("x_kanon_profile closed form: constructed 1/3/20-sized QI groups " +
      "land in the min_k 1/2/20 bands with exact shares") {
    import spark.implicits._
    val ts0 = new Timestamp(0L)
    val dir = tmpDir("kanondegen")
    // all same day and value band; the QI separates on event_type:
    // 'u' x1 (unique → min_k 1), 'm' x3 (→ band 2), 'l' x20 (→ 20).
    // total 24 events → shares 416 / 1250 / 8333 bp (trunc).
    val ev = Seq((1L, "u")) ++ (2L to 4L).map((_, "m")) ++
      (5L to 24L).map((_, "l"))
    ev.map { case (id, t) => (id, ts0, id, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_kanon_profile")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((1L, 1L, 416L)), rows(1L).toString)
    assert(rows(2L) == ((1L, 3L, 1250L)), rows(2L).toString)
    assert(rows(20L) == ((1L, 20L, 8333L)), rows(20L).toString)
  }

  test("x_rfm_profile closed form: two hand-placed users land in the " +
      "expected (rec_wk, f_band, m_band) cells with exact cents") {
    import spark.implicits._
    val day = 86400000L
    val dir = tmpDir("rfmdegen")
    // A: one $5.00 event on day 0 → f_band 1, cents 500 → m_band 0,
    // rec_wk = (7 − 0) DIV 7 = 1. B: four $30.00 events on day 7 →
    // f_band 4, cents 12000 → m_band 2, rec_wk 0 (corpus end anchor).
    val ev = Seq((1L, new Timestamp(0L), 1L, "visit", 5.0, "{}")) ++
      (2L to 5L).map(i =>
        (i, new Timestamp(7 * day), 2L, "visit", 30.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_rfm_profile")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(rows((1L, 1L, 0L)) == ((1L, 500L)), rows.toString)
    assert(rows((0L, 4L, 2L)) == ((1L, 12000L)), rows.toString)
    assert(rows.size == 2, rows.toString)
  }

  test("x_drift_chi2 closed forms: identical halves => 0.0; the " +
      "all-late-in-top-band shift replays 9*20 + 8100*20/1100 by hand") {
    import spark.implicits._
    val dir = tmpDir("chi2degen")
    // the x_drift_ks/psi corpora: 'same' puts the same 10 values in
    // both halves → every cross term ce*nl − cl*ne is exactly 0.
    // 'shift' stacks all 10 late values in the top early band →
    // bins 0..8: (10−0)²·20/(100·1) = 20 each; bin 9:
    // (10−100)²·20/(100·11) = 8100·20/1100; dof = 9 both.
    val same = (1L to 10L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "same", i.toDouble, "{}"),
      (100 + i, new Timestamp(864000000L), i, "same", i.toDouble, "{}")))
    val shift = (1L to 10L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "shift", i.toDouble, "{}"),
      (300 + i, new Timestamp(864000000L), i, "shift", 100.0 + i, "{}")))
    (same ++ shift)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_drift_chi2")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows("same") == ((10L, 10L, 9L, 0.0)), rows("same").toString)
    val want = BigDecimal(9 * 20.0 + 8100.0 * 20.0 / 1100.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows("shift") == ((10L, 10L, 9L, want)), rows("shift").toString)
  }

  test("x_retention_halflife closed forms: perfect halving fits " +
      "half-life exactly 1.0 with intercept +0.0 (the signed-zero " +
      "normalization); a single offset takes the m < 2 guard") {
    import spark.implicits._
    val wk = 604800000L
    val dir = tmpDir("halflifedegen")
    // 8 users at week 0; users 1-4 also week 1; 1-2 also week 2; 1
    // also week 3 → rates 1/2, 1/4, 1/8 → y = −ln2·k exactly →
    // slope −0.6931, intercept 0.0 (the −0.0 hazard the +0.0 kills),
    // half_life ln2/ln2 = 1.0.
    val act = (1L to 8L).map(u => (u, 0L)) ++
      (1L to 4L).map(u => (u, 1L)) ++
      (1L to 2L).map(u => (u, 2L)) :+ ((1L, 3L))
    act.zipWithIndex.map { case ((u, w), i) =>
      (i.toLong, new Timestamp(w * wk), u, "visit", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("x_retention_halflife")(spark, dir)
      .collect().head
    assert(r.getLong(0) == 3L, r.toString)
    assert(r.getDouble(1) == -0.6931, r.toString)
    assert(r.getDouble(2) == 0.0 &&
      !(1.0 / r.getDouble(2)).isNegInfinity, s"signed zero: $r")
    assert(r.getDouble(3) == 1.0, r.toString)

    // one offset only → the m < 2 guard: all-zero fit columns
    val dir2 = tmpDir("halflifedegen2")
    Seq((1L, new Timestamp(0L), 1L, "visit", 1.0, "{}"),
        (2L, new Timestamp(wk), 1L, "visit", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val g = SparkEntry.queries("x_retention_halflife")(spark, dir2)
      .collect().head
    assert(g.getLong(0) == 1L && g.getDouble(1) == 0.0 &&
      g.getDouble(2) == 0.0 && g.getDouble(3) == 0.0, g.toString)
  }

  test("x_value_benford closed form: one event per leading digit => " +
      "uniform 1111 bp shares with exact deviations; zero and negative " +
      "values are filtered (no leading digit)") {
    import spark.implicits._
    val ts0 = new Timestamp(0L)
    val dir = tmpDir("benforddegen")
    // digits 1..9 once each (value d.0 → cents d·100 → leading digit d)
    // plus a 0.0 and a −5.0 event that carry no leading digit and must
    // not change any count
    val ev = (1L to 9L).map(d =>
      (d, ts0, d, "pay", d.toDouble, "{}")) ++
      Seq((10L, ts0, 10L, "pay", 0.0, "{}"),
        (11L, ts0, 11L, "pay", -5.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_value_benford")(spark, dir).collect()
    assert(rows.length == 9, rows.mkString("; "))
    val expected = Map(1L -> 3010L, 2L -> 1760L, 3L -> 1249L, 4L -> 969L,
      5L -> 791L, 6L -> 669L, 7L -> 579L, 8L -> 511L, 9L -> 457L)
    rows.foreach { r =>
      val d = r.getLong(0)
      assert(r.getLong(1) == 1L && r.getLong(2) == 1111L, r.toString)
      assert(r.getLong(3) == expected(d), r.toString)
      assert(r.getLong(4) == math.abs(1111L - expected(d)), r.toString)
    }
  }

  test("x_embed_drift closed form: constant-0.5 early half vs " +
      "constant-0.25 late half => gap_q exactly 2500, sign +1, every dim") {
    import spark.implicits._
    val dir = tmpDir("embdriftdegen")
    // midpoint (1+4) DIV 2 = 2 → vec_ids 1,2 early / 3,4 late.
    // Se = 2·5000, Sl = 2·2500 per dim → |Se·nl − Sl·ne| DIV (ne·nl)
    // = (20000−10000)·... = 10000 DIV 4 = 2500, early above → +1.
    val rows = (1L to 4L).map(i =>
      (i, Array.fill(64)(if (i <= 2) 0.5f else 0.25f)))
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("x_embed_drift")(spark, dir).collect()
    assert(out.length == 64, s"want 64 dims: ${out.length}")
    out.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 2L, r.toString)
      assert(r.getLong(3) == 2500L && r.getLong(4) == 1L, r.toString)
    }
  }

  test("x_conversion_lag closed form: hand-placed lags land in their " +
      "bands; view-less, purchase-less and purchase-BEFORE-view users " +
      "are all excluded (the strictly-after rule)") {
    import spark.implicits._
    val dir = tmpDir("convlagdegen")
    val h = 3600000L
    val ev = Seq(
      (1L, new Timestamp(0L), 1L, "view", 1.0, "{}"), // A converts in 30 min
      (2L, new Timestamp(h / 2), 1L, "purchase", 1.0, "{}"),
      (3L, new Timestamp(0L), 2L, "view", 1.0, "{}"), // B converts in 2 h
      (4L, new Timestamp(2 * h), 2L, "purchase", 1.0, "{}"),
      (5L, new Timestamp(0L), 3L, "purchase", 1.0, "{}"), // C: no view
      (6L, new Timestamp(0L), 4L, "view", 1.0, "{}"), // D: no purchase
      (7L, new Timestamp(0L), 5L, "purchase", 1.0, "{}"), // E: buys FIRST
      (8L, new Timestamp(h), 5L, "view", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_conversion_lag")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rows.size == 2, rows.toString)
    assert(rows(0L) == ((1L, 5000L, h / 2, h / 2, h / 2)), rows(0L).toString)
    assert(rows(1L) == ((1L, 5000L, 2 * h, 2 * h, 2 * h)), rows(1L).toString)
  }

  test("x_lang_jsd closed forms: identical distributions => 0.0; " +
      "disjoint vocabularies => exactly round(ln 2, 4)") {
    import spark.implicits._
    val dir = tmpDir("jsddegen")
    // aa and bb share the identical token multiset → every mixture
    // term cancels → 0.0; cc is vocabulary-disjoint from both → each
    // side's terms are p·ln 2 summing to ln 2 (the JSD maximum).
    val docs = Seq(
      (1L, "x y", "aa", "s0", 3L), (2L, "x y", "bb", "s0", 3L),
      (3L, "z w", "cc", "s0", 3L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x_lang_jsd")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4))
      .toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(("aa", "bb")) == 0.0, rows.toString)
    assert(rows(("aa", "cc")) == ln2, rows.toString)
    assert(rows(("bb", "cc")) == ln2, rows.toString)
  }

  test("x_markov_reach closed forms: a view-purchase alternation " +
      "hand-replays reach 10000 / return 6666; a target-free corpus " +
      "yields EMPTY (never a fabricated zero table)") {
    import spark.implicits._
    val ts0 = 0L
    val dir = tmpDir("reachdegen")
    // one user: view,purchase,view,purchase,view,purchase.
    // view: 3 occurrences all followed by purchase → q(v,τ) = 10⁴ →
    // reach(view) = 10⁴ at every round. purchase: 3 occurrences, 2 →
    // view, 1 stream-final → q(τ,view) = 6666; return(purchase) =
    // 0 + (6666·10⁴) DIV 10⁴ = 6666 after round 1, stable after.
    val ev = (0 until 6).map(i =>
      (i.toLong, new Timestamp(ts0 + i * 1000L), 1L,
        if (i % 2 == 0) "view" else "purchase", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_markov_reach")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("view") == ((3L, 10000L, 10000L)), rows("view").toString)
    assert(rows("purchase") == ((0L, 0L, 6666L)), rows("purchase").toString)

    // target-free corpus: the declared behavior is an EMPTY result in
    // both engines (the list_position filter / the Spark ti < 0 arm)
    val dir2 = tmpDir("reachdegen2")
    Seq((1L, new Timestamp(ts0), 1L, "view", 1.0, "{}"),
        (2L, new Timestamp(ts0 + 1000L), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val empty = SparkEntry.queries("x_markov_reach")(spark, dir2).collect()
    assert(empty.isEmpty, s"target-free corpus must be empty: ${empty.toSeq}")
  }

  test("x_markov_steady: a transition-free corpus keeps w = 1 per type " +
      "(the empty-edge-list branch the gate corpus never exercises)") {
    import spark.implicits._
    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val dir = tmpDir("markovdegen")
    // one event per user → no lag pairs anywhere → the transition edge
    // list is EMPTY: the matrix is all zeros, every power step yields
    // p ≡ 0, and the s = 0 rule must hold w at 1 per type — with
    // n_out = n_in = 0 through the left joins. Two types → shares
    // floor to exactly 5000 bp each.
    Seq((1L, ts0, 1L, "alpha", 1.0, "{}"),
        (2L, ts0, 2L, "beta", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_markov_steady")(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L, s"mass must be 0: $r")
      assert(r.getLong(3) == 1L, s"s = 0 must keep w = 1: $r")
      assert(r.getLong(4) == 5000L, s"two-type share: $r")
    }
  }

  test("Markov chain type guard: 257 event types fail x_markov_steady and " +
      "x_markov_absorb at construction; 256 types run") {
    import spark.implicits._
    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def corpus(name: String, k: Int): String = {
      val dir = tmpDir(name)
      (0 until k).map(i =>
        (i.toLong, new Timestamp(ts0 + i * 1000L), (i % 7).toLong, f"t$i%03d", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // one query per chain consumer: the steady (P) and absorbing (Q) reads
    val wide = corpus("markov257", 257)
    for (q <- Seq("x_markov_steady", "x_markov_absorb")) {
      val e = intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, wide))
      assert(e.getMessage.contains("257 event types"), e.getMessage)
    }
    val full = corpus("markov256", 256)
    for (q <- Seq("x_markov_steady", "x_markov_absorb"))
      assert(SparkEntry.queries(q)(spark, full).collect().length == 256, q)
  }

  test("x_markov_absorb: immediate absorption is EXACTLY one step; a " +
      "2-cycle replays the closed-form truncated Neumann value") {
    import spark.implicits._
    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val dir = tmpDir("absorbdegen")
    // corpus 1 — single-event users: every occurrence is stream-final,
    // Q ≡ 0, so absorb_steps_bp must be EXACTLY 10000 (one step to END,
    // the s⁰ + nothing branch) with q_row_bp = 0 and all mass in n_end
    Seq((1L, ts0, 1L, "alpha", 1.0, "{}"),
        (2L, ts0, 2L, "beta", 1.0, "{}"),
        (3L, ts0, 3L, "beta", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val one = SparkEntry.queries("x_markov_absorb")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(one("alpha") == ((0L, 1L, 0L, 10000L)), one("alpha").toString)
    assert(one("beta") == ((0L, 2L, 0L, 10000L)), one("beta").toString)

    // corpus 2 — the 2-cycle [A,B] + [B,A]: each type has one outgoing
    // transition and one stream end → tot = 2, q = 5000 bp both ways.
    // The fixed-8-round series from s⁰ = 10⁴ (both coordinates equal by
    // symmetry): s_{m+1} = 10⁴ + (5000·s_m) DIV 10⁴ → 15000, 17500,
    // 18750, 19375, 19687, 19843, 19921, 19960 — a monotone LOWER
    // bound of the true 2·10⁴ (the documented truncation bias, pinned
    // here so a round-count or renorm change can't drift silently)
    val dir2 = tmpDir("absorbcycle")
    val t1 = new Timestamp(ts0.getTime + 1000L)
    Seq((1L, ts0, 1L, "a", 1.0, "{}"), (2L, t1, 1L, "b", 1.0, "{}"),
        (3L, ts0, 2L, "b", 1.0, "{}"), (4L, t1, 2L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val cyc = SparkEntry.queries("x_markov_absorb")(spark, dir2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(cyc("a") == ((1L, 1L, 5000L, 19960L)), cyc("a").toString)
    assert(cyc("b") == ((1L, 1L, 5000L, 19960L)), cyc("b").toString)

    // x_markov_absorb_to on the SAME corpora. Corpus 1 (Q = 0): every
    // type absorbs into itself immediately — the B matrix is the
    // identity in bp, covered exactly 10⁴.
    val to1 = SparkEntry.queries("x_markov_absorb_to")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(to1(("alpha", "alpha")) == ((10000L, 10000L, 1L)), to1.toString)
    assert(to1(("alpha", "beta")) == ((0L, 10000L, 2L)), to1.toString)
    assert(to1(("beta", "beta")) == ((10000L, 10000L, 2L)), to1.toString)
    // Corpus 2 (the 2-cycle, q = r = 5000 both types): the truncated
    // series replayed by hand — S(A,A): 5000, 5000, 6250, 6250, 6562,
    // 6562, 6640, 6640, 6660; S(A,B): 0, 2500, 2500, 3125, 3125, 3281,
    // 3281, 3320, 3320 — monotone lower bounds of the true 2/3 and 1/3
    // (6667/3333 bp); covered = 9980 makes the 20 bp truncation
    // residual a VISIBLE column.
    val to2 = SparkEntry.queries("x_markov_absorb_to")(spark, dir2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(to2(("a", "a")) == ((6660L, 9980L, 1L)), to2.toString)
    assert(to2(("a", "b")) == ((3320L, 9980L, 1L)), to2.toString)
    assert(to2(("b", "a")) == ((3320L, 9980L, 1L)), to2.toString)
    assert(to2(("b", "b")) == ((6660L, 9980L, 1L)), to2.toString)
  }

  test("x_markov_mfpt closed forms: direct hit = EXACTLY 1.0, a 2-step " +
      "chain = EXACTLY 2.0, and conditioning neutralizes a competing " +
      "END (the read x_markov_reach deliberately withheld)") {
    import spark.implicits._
    val ts0 = 0L
    def ev(dir: String, rows: Seq[(Long, Long, Long, String)]): String = {
      rows.map { case (id, ts, u, t) =>
        (id, new Timestamp(ts0 + ts), u, t, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // corpus 1 — [click, view, purchase]: q(c,v) = q(v,p) = 10⁴, so
    // h(v) = 10⁴ at round 0 and h(c) = 10⁴ after round 1; the u series
    // is u(v) = 10⁴ (nothing off-target from v) and u(c) = h(c) +
    // q(c,v)·u(v) DIV 10⁴ = 2·10⁴. mfpt: view EXACTLY 1.0, click
    // EXACTLY 2.0 — the step count a path replay gives by hand. The
    // purchase row itself has h(τ) = q(τ,τ) = 0 (no repeat) and is
    // DROPPED: the declared h_bp > 0 domain rule, pinned here.
    val d1 = ev(tmpDir("mfptchain"), Seq(
      (1L, 0L, 1L, "click"), (2L, 1000L, 1L, "view"),
      (3L, 2000L, 1L, "purchase")))
    val m1 = SparkEntry.queries("x_markov_mfpt")(spark, d1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m1.keySet == Set("click", "view"), m1.toString)
    assert(m1("click") == ((0L, 10000L, 20000L, 2.0)), m1("click").toString)
    assert(m1("view") == ((1L, 10000L, 10000L, 1.0)), m1("view").toString)

    // corpus 2 — the conditioning pin: from `a` half the continuations
    // purchase and half just END (user 2's stream stops). h(a) = 5000,
    // but CONDITIONED on reaching, it is always one step: u(a) = h(a)
    // (q(a, j≠τ) = 0 → the series never grows) → mfpt EXACTLY 1.0.
    // The unconditioned expectation doesn't exist (half the mass never
    // arrives) — this pin is the whole point of the linearization.
    val d2 = ev(tmpDir("mfptcond"), Seq(
      (1L, 0L, 1L, "a"), (2L, 1000L, 1L, "purchase"),
      (3L, 0L, 2L, "a")))
    val m2 = SparkEntry.queries("x_markov_mfpt")(spark, d2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m2.keySet == Set("a"), m2.toString)
    assert(m2("a") == ((5000L, 5000L, 1.0)), m2("a").toString)

    // target-free corpus → EMPTY both engines (the x_markov_reach rule)
    val d3 = ev(tmpDir("mfptfree"), Seq(
      (1L, 0L, 1L, "view"), (2L, 1000L, 1L, "click")))
    val m3 = SparkEntry.queries("x_markov_mfpt")(spark, d3).collect()
    assert(m3.isEmpty, s"target-free corpus must be empty: ${m3.toSeq}")
  }

  test("x_drift_js closed forms: identical halves => EXACTLY 0.0; " +
      "disjoint value supports => round(ln 2, 4) — the JSD maximum " +
      "(the x_lang_jsd bounds carried to the drift split)") {
    import spark.implicits._
    val dir = tmpDir("jsdriftdegen")
    // same corpora as the x_drift_ks pin: 'same' has identical value
    // multisets in both calendar halves → every level's mixture ratio
    // is 1 → each ln term is EXACTLY +0.0 → jsd_nats +0.0; 'shift'
    // has disjoint supports → each side's terms are 0.5·p·ln 2
    // summing to 0.5·ln 2 per side → exactly round(ln 2, 4).
    val same = (1L to 10L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "same", i.toDouble, "{}"),
      (100 + i, new Timestamp(864000000L), i, "same", i.toDouble, "{}")))
    val shift = (1L to 10L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "shift", i.toDouble, "{}"),
      (300 + i, new Timestamp(864000000L), i, "shift", 100.0 + i, "{}")))
    (same ++ shift)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_drift_js")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows("same") == ((10L, 10L, 0.0)), rows("same").toString)
    assert(rows("shift") == ((10L, 10L, ln2)), rows("shift").toString)
  }

  test("x_markov_entropy closed forms: a deterministic alternation has " +
      "row entropy EXACTLY 0.0; a uniform 2-way branch has round(ln 2, " +
      "4); a stream-final-only type emits NO row (the declared domain)") {
    import spark.implicits._
    val dir = tmpDir("mentdegen")
    // user 1: a,b,a,b,a,b — every a→b and b→a at p_bp = 10⁴ →
    // ln(10⁴/10⁴) = 0 → both rows EXACTLY 0.0 (and h_contrib 0.0)
    (0 until 6).map(i => (i.toLong, new Timestamp(i * 1000L), 1L,
        if (i % 2 == 0) "a" else "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val det = SparkEntry.queries("x_markov_entropy")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    assert(det("a") == ((3L, 0.0, 0.0)), det("a").toString)
    assert(det("b") == ((2L, 0.0, 0.0)), det("b").toString)

    // user 1: a,b,a,c — a branches uniformly to b and c (5000/5000 →
    // row entropy ln 2); b is deterministic (0.0); c is STREAM-FINAL
    // only → no transition row → absent from the output entirely
    val dir2 = tmpDir("mentdegen2")
    val seq2 = Seq("a", "b", "a", "c")
    seq2.zipWithIndex.map { case (t2, i) =>
        (i.toLong, new Timestamp(i * 1000L), 1L, t2, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val br = SparkEntry.queries("x_markov_entropy")(spark, dir2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(br.keySet == Set("a", "b"), br.toString)
    assert(br("a") == ((2L, ln2)), br("a").toString)
    assert(br("b") == ((1L, 0.0)), br("b").toString)
  }

  test("x_session_gap_sweep closed forms: hand-placed 2-min and 20-min " +
      "gaps walk the ladder (3/2/2/1/1 sessions); a single-event-per-" +
      "user corpus is n_users FLAT across every threshold") {
    import spark.implicits._
    val m = 60000L
    // user 1: events at 0, 2 min, 22 min — gaps of 2 min and 20 min.
    // T=1: both gaps split → 3 sessions; T=5/15: only the 20-min gap
    // → 2; T=30/60: none → 1. Density = 3·10⁴ DIV sessions.
    val dir = tmpDir("gapsweepdegen")
    Seq((1L, new Timestamp(0L), 1L, "view", 1.0, "{}"),
        (2L, new Timestamp(2 * m), 1L, "view", 1.0, "{}"),
        (3L, new Timestamp(22 * m), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_session_gap_sweep")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(rows(1L) == ((3L, 10000L)), rows(1L).toString)
    assert(rows(5L) == ((2L, 15000L)), rows(5L).toString)
    assert(rows(15L) == ((2L, 15000L)), rows(15L).toString)
    assert(rows(30L) == ((1L, 30000L)), rows(30L).toString)
    assert(rows(60L) == ((1L, 30000L)), rows(60L).toString)

    // gap-free corpus: two users, one event each — the NULL-sum
    // coalesce branch: sessions = n_users = 2 on every ladder row
    val dir2 = tmpDir("gapsweepdegen2")
    Seq((1L, new Timestamp(0L), 1L, "view", 1.0, "{}"),
        (2L, new Timestamp(0L), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val flat = SparkEntry.queries("x_session_gap_sweep")(spark, dir2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(flat.size == 5 && flat.values.forall(_ == ((2L, 10000L))),
      flat.toString)
  }

  test("x_forecast_holt_winters closed forms: a constant daily series " +
      "is an EXACT fixpoint (level = x·10⁴, trend/seasonals/mae all 0); " +
      "a two-day series replays by hand; a 1-day type takes the seed " +
      "branch") {
    import spark.implicits._
    val day = 86400000L
    val dir = tmpDir("hwdegen")
    // type 'c': one event per day for 14 days — every update leaves
    // (l, b, s, e) exactly where the seed put them (the fixpoint the
    // scaladoc derives); type 'w': counts 2 then 4 on days 0, 1 —
    // hand replay: l' = 30000, b' = 5000, s[1] = 5000, e = 20000,
    // next-day seasonal index 2 is untouched (0) so forecast = 35000,
    // amplitude 5000, mae 20000; type 'o': a single event → seed
    // branch (level 10⁴, everything else 0, forecast = level).
    val ev =
      (0 until 14).map(i =>
        (100L + i, new Timestamp(i * day), 1L, "c", 1.0, "{}")) ++
      Seq((1L, new Timestamp(0L), 2L, "w", 1.0, "{}"),
        (2L, new Timestamp(1000L), 3L, "w", 1.0, "{}"),
        (3L, new Timestamp(day), 2L, "w", 1.0, "{}"),
        (4L, new Timestamp(day + 1000L), 3L, "w", 1.0, "{}"),
        (5L, new Timestamp(day + 2000L), 4L, "w", 1.0, "{}"),
        (6L, new Timestamp(day + 3000L), 5L, "w", 1.0, "{}"),
        (7L, new Timestamp(0L), 6L, "o", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_forecast_holt_winters")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(rows("c") == ((14L, 10000L, 0L, 0L, 10000L, 0L, 0L)),
      rows("c").toString)
    assert(rows("w") == ((2L, 30000L, 5000L, 0L, 35000L, 5000L, 20000L)),
      rows("w").toString)
    assert(rows("o") == ((1L, 10000L, 0L, 0L, 10000L, 0L, 0L)),
      rows("o").toString)
  }

  test("x_cohort_halflife closed forms: a perfect-halving cohort fits " +
      "half-life EXACTLY 1.0; a just-born cohort emits the guard row " +
      "(size with zero offsets — information, not noise)") {
    import spark.implicits._
    val wk = 604800000L
    val dir = tmpDir("cohorthldegen")
    // cohort week 0: users 1-4 all active; 2 return in week 1; 1 in
    // week 2 → rates 1/2, 1/4 → an exact ln-linear line with slope
    // −ln 2 → half_life EXACTLY 1.0. user 5 first appears in week 2
    // with no later activity → its cohort row is the m = 0 guard.
    val ev =
      (1L to 4L).map(u => (u, new Timestamp(0L), u, "view", 1.0, "{}")) ++
      Seq((11L, new Timestamp(wk), 1L, "view", 1.0, "{}"),
        (12L, new Timestamp(wk), 2L, "view", 1.0, "{}"),
        (13L, new Timestamp(2 * wk), 1L, "view", 1.0, "{}"),
        (14L, new Timestamp(2 * wk), 5L, "view", 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_cohort_halflife")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val slope = BigDecimal(-math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.keySet == Set(0L, 2L), rows.toString)
    assert(rows(0L) == ((4L, 2L, slope, 1.0)), rows(0L).toString)
    assert(rows(2L) == ((1L, 0L, 0.0, 0.0)), rows(2L).toString)
  }

  test("x_growth_accounting gap-week semantics (ADVICE r15): an empty " +
      "calendar week emits NO row and its churn rolls FORWARD to the " +
      "next active week — the documented present-weeks convention") {
    import spark.implicits._
    val dir = tmpDir("growthgap")
    val wk = 604800000L
    // users A and B active week 0; NOBODY active week 1; A returns in
    // week 2. The present-weeks lag makes week 2's churn read
    // active(week 0) − retained(week 2) = 2 − 0 = 2: B's week-0→gone
    // churn AND A's week-1 absence both land on the week-2 row (A is
    // resurrected, not retained, across the ≥2-week gap). Week 1
    // emits nothing — the pin that the axis is present-weeks-only.
    Seq((1L, new Timestamp(0L), 1L, "view", 1.0, "{}"),
        (2L, new Timestamp(1000L), 2L, "view", 1.0, "{}"),
        (3L, new Timestamp(2 * wk + 1000L), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_growth_accounting")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(rows.keySet == Set(0L, 2L),
      s"gap week must emit no row: ${rows.keySet}")
    // week 0: both new, nothing churned yet
    assert(rows(0L) == ((2L, 2L, 0L, 0L, 0L, 0L)), rows(0L).toString)
    // week 2: A resurrected; churned = active(w⁻ = week 0) − retained
    // = 2 (rolls forward); quick ratio = 1·10⁴ DIV 2 = 5000
    assert(rows(2L) == ((1L, 0L, 0L, 1L, 2L, 5000L)), rows(2L).toString)
  }

  test("x_forecast_hw_log closed forms: constant series is an EXACT " +
      "float fixpoint; a planted constant-RATIO weekly series recovers " +
      "ln of the ratio span (the multiplicative-seasonality pin); " +
      "singleton day takes the n_days = 1 branch") {
    import spark.implicits._
    val dir = tmpDir("hwlogdegen")
    val day = 86400000L
    // 'flat': 10 days × 5 events/day. In log space x = ln 5 every day
    // and the fold is an EXACT IEEE fixpoint (x − 0 + x + 0 = 2x and
    // /2 are both exact): level = ln 5, trend/seasonals/mae all +0.0.
    val flat = for { d <- 0L until 10L; k <- 0L until 5L } yield
      (d * 10 + k, new Timestamp(d * day), k, "flat", 1.0, "{}")
    // 'ratio': 100 weeks of counts 2^(day%7) — a PERFECT weekly ratio
    // structure (each weekday 2× the previous), i.e. multiplicative
    // seasonality with ratio span 64. In log space that is exact
    // additive seasonality, and the converged profile's amplitude is
    // ln 64 (the claim the integer query's boundary note makes:
    // "teams log-transform instead" — this pin is that claim, run).
    val ratio = for {
      d <- 0L until 700L
      k <- 0L until (1L << (d % 7L))
    } yield (10000 + d * 100 + k, new Timestamp(d * day), k, "ratio",
      1.0, "{}")
    // 'young': one day, 3 events → seed-only branch, level = ln 3.
    val young = (0L until 3L).map(i =>
      (990000L + i, new Timestamp(0L), i, "young", 1.0, "{}"))
    (flat ++ ratio ++ young)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x_forecast_hw_log")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln5 = r4(math.log(5.0))
    assert(rows("flat") == ((10L, ln5, 0.0, 0.0, ln5, 0.0, 0.0)),
      rows("flat").toString)
    val ln3 = r4(math.log(3.0))
    assert(rows("young") == ((1L, ln3, 0.0, 0.0, ln3, 0.0, 0.0)),
      rows("young").toString)
    // the ratio pin, two ways: (a) bit-replay the fold in Scala (the
    // same IEEE ops the query runs) — every column must match; (b) the
    // interpretable claim: amplitude within 1e-3 of ln 64 and trend
    // rounds to exactly 0.0 after 100 weeks.
    var l = math.log(1.0); var b = 0.0; var e = 0.0
    val s = Array.fill(7)(0.0)
    (1 until 700).foreach { d =>
      val x = math.log((1L << (d % 7)).toDouble)
      val i = d % 7
      val l2 = (x - s(i) + l + b) / 2.0
      val b2 = (l2 - l + b) / 2.0
      e += math.abs(x - l - b - s(i))
      s(i) = (x - l2 + s(i)) / 2.0
      l = l2; b = b2
    }
    val sNext = s(700 % 7)
    val want = ((700L, r4(l), r4(b), r4(sNext), r4(l + b + sNext),
      r4(s.max - s.min), r4(e / 699.0)))
    assert(rows("ratio") == want, s"${rows("ratio")} vs $want")
    assert(math.abs(rows("ratio")._6 - math.log(64.0)) < 1e-3,
      s"amplitude must recover ln(ratio span): ${rows("ratio")._6}")
    assert(rows("ratio")._3 == 0.0,
      s"planted zero-growth series must show zero trend: ${rows("ratio")._3}")
  }

  test("drift overflow straddle (r17 verdict task 1): the DriftArith wide " +
      "spelling is exact just BELOW and just ABOVE the old Long boundary " +
      "ne*nl ~ 9.2e14 where mx*10^4 wrapped") {
    import spark.implicits._
    // One synthetic pre-aggregated (cume, cuml, ne, nl) row per side of
    // the boundary, pushed through the LITERAL DriftArith fragments the
    // queries compile (shared operand tree — the pin IS the spelling).
    // below: ne*nl = 9e12 (mx*10^4 ~ 6e16 fits a Long — old spelling ok)
    // above: ne*nl = 1e16 (mx*10^4 ~ 1e20 — the old spelling raised in
    // ANSI batch and WRAPPED in the twins; the wide spelling is exact)
    val frame = Seq(
      (2999999L, 1000000L, 3000000L, 3000000L),
      (99999999L, 1000000L, 100000000L, 100000000L))
      .toDF("cume", "cuml", "ne", "nl")
    def want(cume: Long, cuml: Long, ne: Long, nl: Long): Long =
      ((BigInt(cume) * nl - BigInt(cuml) * ne).abs * 10000 /
        (BigInt(ne) * nl)).toLong
    val got = frame
      .withColumn("mx",
        expr(DriftArith.absCrossTermSql("cume", "nl", "cuml", "ne")))
      .select(expr(DriftArith.scaleBpSql("mx", "ne", "nl")).as("bp"))
      .as[Long].collect().toSeq
    assert(got == Seq(want(2999999L, 1000000L, 3000000L, 3000000L),
      want(99999999L, 1000000L, 100000000L, 100000000L)), got.toString)
    // sanity on the magnitudes: the above-boundary mx really does
    // exceed the old mx*10^4 Long envelope
    val mxAbove = (BigInt(99999999L) * 100000000L -
      BigInt(1000000L) * 100000000L).abs
    assert(mxAbove * 10000 > BigInt(Long.MaxValue), "straddle too small")

    // EMD decomposition: tot = mx * gap with a 100-cent gap pushes the
    // remainder term (tot % d)*10^4 past the old Long envelope too
    val emd = frame
      .withColumn("tot",
        expr(DriftArith.absCrossTermSql("cume", "nl", "cuml", "ne"))
          * lit(100L))
      .select(expr(DriftArith.emdBpSql("tot", "ne", "nl")).as("bp"))
      .as[Long].collect().toSeq
    def wantEmd(cume: Long, cuml: Long, ne: Long, nl: Long): Long = {
      val tot = (BigInt(cume) * nl - BigInt(cuml) * ne).abs * 100
      val d = BigInt(ne) * nl
      ((tot / d) * 10000 + ((tot % d) * 10000) / d).toLong
    }
    assert(emd == Seq(wantEmd(2999999L, 1000000L, 3000000L, 3000000L),
      wantEmd(99999999L, 1000000L, 100000000L, 100000000L)), emd.toString)

    // MW: one all-tied level with ea = la = 1e8 gives r2 = ea*(2*0+ea+la+1),
    // u2 = r2 - ne*(ne+1) = ne*nl = 1e16 (> 9.2e14), u2*10^4 = 1e20 — above
    // the old boundary; the tie symmetry pins cles EXACTLY at 5000 bp
    val mw = Seq((100000000L, 0L, 100000000L))
      .toDF("ea", "cb", "la")
      .withColumn("ne", $"ea").withColumn("nl", $"la")
      .groupBy("ne", "nl")
      .agg(sum(expr(DriftArith.mwR2TermSql("ea", "cb", "la"))).as("r2"))
      .select(expr(DriftArith.mwU2Sql("r2", "ne")).as("u2"),
        expr(DriftArith.mwClesBpSql("r2", "ne", "nl")).as("cles"))
      .as[(Long, Long)].collect().toSeq
    assert(mw == Seq((10000000000000000L, 5000L)), mw.toString)
  }

  test("x_drift_ad: a single-level type keeps its group and emits ad 0.0 " +
      "(r17 ADVICE — the drift family's shared type domain)") {
    import spark.implicits._
    val dir = tmpDir("addegen")
    // 'mono': the same single value in both calendar halves — merged
    // early-union-late support is ONE cent level, whose pooled cumN = N;
    // the excluded-term CASE must keep the group (ad = 0.0), not drop
    // the type (the pre-r18 WHERE did). 'ctrl' is a non-degenerate
    // control proving the term exclusion doesn't zero a real statistic.
    val mono = (1L to 5L).flatMap(i => Seq(
      (i, new Timestamp(0L), i, "mono", 3.0, "{}"),
      (100 + i, new Timestamp(864000000L), i, "mono", 3.0, "{}")))
    val ctrl = (1L to 5L).flatMap(i => Seq(
      (200 + i, new Timestamp(0L), i, "ctrl", 1.0, "{}"),
      (300 + i, new Timestamp(864000000L), i, "ctrl", 8.0, "{}")))
    (mono ++ ctrl)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ad = SparkEntry.queries("x_drift_ad")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(ad("mono") == ((5L, 5L, 0.0)), s"single-level type: ${ad.get("mono")}")
    assert(ad("ctrl") == ((5L, 5L, 5.0)), s"control: ${ad.get("ctrl")}")
    // the family's shared type domain: KS sees both types too
    val ks = SparkEntry.queries("x_drift_ks")(spark, dir)
      .collect().map(_.getString(0)).toSet
    assert(ks == ad.keySet, s"AD domain $ad vs KS domain $ks")
  }

  test("x_markov_lumpable closed forms: a 2-block lumpable toy chain reads " +
      "all eq = 1; a one-edge perturbation breaks exactly the perturbed " +
      "block's equalities (r17 verdict task 5)") {
    import spark.implicits._
    // Each desired transition i->j is realized as its own 2-event user
    // (one lag pair per user, nothing else), so the count matrix is
    // written directly. Lumpable toy over engagement={click,view},
    // failure={error}:
    //   click: ->click 1, ->view 1, ->error 2   (n=4; Eng 2/4, Fail 2/4)
    //   view:  ->click 2,           ->error 2   (n=4; Eng 2/4, Fail 2/4)
    // Kemeny-Snell holds exactly: s(click,B')*n(view) = s(view,B')*n(click)
    // for both target blocks (8 = 8).
    def corpus(edges: Seq[(String, String, Int)]) = {
      var uid = 0L
      edges.flatMap { case (a, b, k) => (1 to k).flatMap { _ =>
        uid += 1
        Seq((uid * 10, new Timestamp(uid * 100000L), uid, a, 1.0, "{}"),
          (uid * 10 + 1, new Timestamp(uid * 100000L + 1000L), uid, b, 1.0, "{}"))
      } }
    }
    val lumpable = Seq(("click", "click", 1), ("click", "view", 1),
      ("click", "error", 2), ("view", "click", 2), ("view", "error", 2))
    val dir1 = tmpDir("lumpdegen1")
    corpus(lumpable)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir1/events.parquet")
    val rows1 = SparkEntry.queries("x_markov_lumpable")(spark, dir1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // error never transitions out -> no empirical row, no pair for the
    // singleton failure block anyway; ONE pair (click, view) x two
    // target blocks, both exactly equal
    assert(rows1 == Seq(
      ("engagement", "click", "view", "engagement", 8L, 8L, 1L),
      ("engagement", "click", "view", "failure", 8L, 8L, 1L)), rows1.toString)

    // one extra view->error edge: n(view) = 5 and s(view,Fail) = 3 —
    // BOTH target-block equalities break (10 != 8 and 10 != 12)
    val dir2 = tmpDir("lumpdegen2")
    corpus(lumpable :+ (("view", "error", 1)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val rows2 = SparkEntry.queries("x_markov_lumpable")(spark, dir2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(rows2 == Seq(
      ("engagement", "click", "view", "engagement", 10L, 8L, 0L),
      ("engagement", "click", "view", "failure", 10L, 12L, 0L)), rows2.toString)
  }
}
