package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Cross-implementation equality for the TRAINING oracle twins
  * (x_kmeans_oracle / x_pq_oracle) on CONSTRUCTED vector sets — the
  * gate's DuckDB hash-match pins the algebra on the real corpus, but
  * the real corpus never exercises the edge branches: zero vectors
  * (→ cid 1 by rule), zero/unchanged centroids, EMPTY CELLS (must
  * keep their centroid), and exact score ties (→ lowest cid/code).
  * Here an INDEPENDENT driver-local reference implementation of the
  * declared algebra (same quantization, same truncating division,
  * same tie rules — written against the spec, not the code) must
  * equal the distributed training on planted-edge-case and seeded
  * random tables. */
class TrainingOracleAlgebraSpec extends AnyFunSuite with SparkTestBase {

  /** Write a one-file embeddings table; values are (k + 0.5)/100 per
    * dimension so floor(x·100) recovers k exactly and never sits on a
    * float boundary (0.01f·100 floors to 0, not 1 — the landmine this
    * encoding avoids). Zero vectors encode as all-zero floats. */
  private def writeEmb(rows: Seq[(Long, Array[Int])]): String = {
    import spark.implicits._
    val dir = tmpDir("algebra")
    rows.map { case (id, q) =>
      (id, q.map(k => if (k == 0) 0f else ((k + 0.5) / 100.0).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---- independent reference of the declared algebra ----

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** Truncating division — the declared rule (Scala `/` ≡ DuckDB `//`). */
  private def refKmeans(qs: Seq[(Long, Array[Long])], k: Int, iters: Int)
      : Array[Array[Long]] = {
    var cents: Array[Array[Long]] =
      qs.sortBy(_._1).take(k).map(_._2.clone).toArray
    def assign(w: Array[Long]): Int = {
      val nw = dot(w, w)
      if (nw == 0) 1
      else {
        var best = 1; var bs = -2.0
        for (c <- cents.indices) {
          val nc = dot(cents(c), cents(c))
          val s =
            if (nc == 0) -2.0
            else dot(w, cents(c)) / (math.sqrt(nw) * math.sqrt(nc))
          if (s > bs) { bs = s; best = c + 1 } // strict > keeps lowest cid on ties
        }
        best
      }
    }
    for (_ <- 1 to iters) {
      val asg = qs.map { case (_, w) => assign(w) }
      cents = Array.tabulate(k) { i =>
        val members = qs.zip(asg).collect { case ((_, w), a) if a == i + 1 => w }
        if (members.isEmpty) cents(i)
        else Array.tabulate(w64(qs))(d => members.map(_(d)).sum / members.length)
      }
    }
    cents
  }

  private def w64(qs: Seq[(Long, Array[Long])]): Int = qs.head._2.length

  private def refPq(qs: Seq[(Long, Array[Long])]): Array[Array[Array[Long]]] = {
    val init = qs.sortBy(_._1).take(4).map(_._2).toArray
    var cbs: Array[Array[Array[Long]]] = Array.tabulate(4)(m =>
      Array.tabulate(4)(c => init(c).slice(m * 16, m * 16 + 16)))
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (_ <- 1 to 2) {
      cbs = Array.tabulate(4) { m =>
        val subs = qs.map { case (_, q) => q.slice(m * 16, m * 16 + 16) }
        val asg = subs.map { w =>
          var best = 1; var bd = Long.MaxValue
          for (c <- 0 until 4) {
            val d = l2(w, cbs(m)(c))
            if (d < bd) { bd = d; best = c + 1 } // strict < keeps lowest code
          }
          best
        }
        Array.tabulate(4) { c =>
          val members = subs.zip(asg).collect { case (w, a) if a == c + 1 => w }
          if (members.isEmpty) cbs(m)(c)
          else Array.tabulate(16)(d => members.map(_(d)).sum / members.length)
        }
      }
    }
    cbs
  }

  private def sameMatrix(a: Array[Array[Long]], b: Array[Array[Long]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }

  /** Independent reference of the x_pca_oracle algebra (spec, not code):
    * truncating per-dim means, v⁰ = 1, three covariance-free power
    * steps u = Cv / p = Cᵀu with the (p·10000) trunc-div max|p| integer
    * renormalization, s = 0 keeps v. Returns (means, v, final p). */
  private def refPca(qs: Seq[(Long, Array[Long])])
      : (Array[Long], Array[Long], Array[Long]) = {
    val n = qs.length
    val dims = qs.head._2.length
    val m = Array.tabulate(dims)(d => qs.map(_._2(d)).sum / n)
    val cs = qs.map(_._2.zip(m).map { case (x, mm) => x - mm })
    var v = Array.fill(dims)(1L)
    def proj(vv: Array[Long]): Array[Long] = {
      val u = cs.map(c => dot(c, vv))
      Array.tabulate(dims)(d => cs.zip(u).map { case (c, ui) => c(d) * ui }.sum)
    }
    for (_ <- 1 to 3) {
      val p = proj(v)
      val s = p.map(math.abs).max
      if (s != 0L) v = p.map(x => x * 10000L / s)
    }
    (m, v, proj(v))
  }

  /** Independent reference of the x_pca2_oracle algebra (spec, not
    * code): deflate each centered vector by c₂ = (c·⟨v,v⟩ − v·⟨c,v⟩)
    * trunc-div 10¹⁰ against the dir-1 reference, then run the dir-1
    * power loop verbatim over c₂. Returns (v₂, final p₂). */
  private def refPca2(qs: Seq[(Long, Array[Long])])
      : (Array[Long], Array[Long]) = {
    val (m, v, _) = refPca(qs)
    val dims = qs.head._2.length
    val cs = qs.map(_._2.zip(m).map { case (x, mm) => x - mm })
    val vv = v.map(x => x * x).sum
    val cs2 = cs.map { c =>
      val cu = dot(c, v)
      Array.tabulate(dims)(d => (c(d) * vv - v(d) * cu) / 10000000000L)
    }
    def proj(w: Array[Long]): Array[Long] = {
      val u = cs2.map(c => dot(c, w))
      Array.tabulate(dims)(d => cs2.zip(u).map { case (c, ui) => c(d) * ui }.sum)
    }
    var v2 = Array.fill(dims)(1L)
    for (_ <- 1 to 3) {
      val p = proj(v2)
      val s = p.map(math.abs).max
      if (s != 0L) v2 = p.map(x => x * 10000L / s)
    }
    (v2, proj(v2))
  }

  /** Independent reference of the x_pca3_oracle algebra: the dir-2
    * deflation recipe composed once more — deflate the (already
    * deflated) c₂ frame by v₂, re-quantize by the same 10¹⁰, run the
    * power loop. Returns (v₃, final p₃). */
  private def refPca3(qs: Seq[(Long, Array[Long])])
      : (Array[Long], Array[Long]) = {
    val (m, v, _) = refPca(qs)
    val (v2, _) = refPca2(qs)
    val dims = qs.head._2.length
    val cs = qs.map(_._2.zip(m).map { case (x, mm) => x - mm })
    val vv = v.map(x => x * x).sum
    val cs2 = cs.map { c =>
      val cu = dot(c, v)
      Array.tabulate(dims)(d => (c(d) * vv - v(d) * cu) / 10000000000L)
    }
    val vv2 = v2.map(x => x * x).sum
    val cs3 = cs2.map { c =>
      val cu2 = dot(c, v2)
      Array.tabulate(dims)(d => (c(d) * vv2 - v2(d) * cu2) / 10000000000L)
    }
    def proj(w: Array[Long]): Array[Long] = {
      val u = cs3.map(c => dot(c, w))
      Array.tabulate(dims)(d => cs3.zip(u).map { case (c, ui) => c(d) * ui }.sum)
    }
    var v3 = Array.fill(dims)(1L)
    for (_ <- 1 to 3) {
      val p = proj(v3)
      val s = p.map(math.abs).max
      if (s != 0L) v3 = p.map(x => x * 10000L / s)
    }
    (v3, proj(v3))
  }

  /** Independent reference of the x_pca_energy algebra: per stage, the
    * frame energy Σ‖f‖², the re-quantized projection energy
    * (Σ(u² DIV 10⁴)) DIV (‖v‖² DIV 10⁴) and its bp share — the
    * vvq = 0 / zero-energy branches emit 0. */
  private def refPcaEnergy(qs: Seq[(Long, Array[Long])])
      : Seq[(Long, Long, Long, Long)] = {
    val (m, v, _) = refPca(qs)
    val (v2, _) = refPca2(qs)
    val (v3, _) = refPca3(qs)
    val dims = qs.head._2.length
    val cs = qs.map(_._2.zip(m).map { case (x, mm) => x - mm })
    def deflate(fs: Seq[Array[Long]], w: Array[Long]): Seq[Array[Long]] = {
      val ww = w.map(x => x * x).sum
      fs.map { f =>
        val fu = dot(f, w)
        Array.tabulate(dims)(d => (f(d) * ww - w(d) * fu) / 10000000000L)
      }
    }
    val cs2 = deflate(cs, v)
    val cs3 = deflate(cs2, v2)
    Seq((1L, cs, v), (2L, cs2, v2), (3L, cs3, v3)).map { case (d, fs, w) =>
      val fe = fs.map(f => f.map(x => x * x).sum).sum
      val qe = fs.map { f => val u = dot(f, w); u * u / 10000L }.sum
      val vvq = w.map(x => x * x).sum / 10000L
      val proj = if (vvq == 0L) 0L else qe / vvq
      val bp = if (vvq == 0L || fe == 0L) 0L else proj * 10000L / fe
      (d, fe, proj, bp)
    }
  }

  /** Independent reference of the x_kcenter_coreset algebra: seed =
    * lowest vec_id, then argmax over remaining of min-L2²-to-selected,
    * ties → lowest vec_id, min(k, n) selections; plus the live cover
    * objective max over ALL vectors of min-dist-to-selected. */
  private def refKcenter(qs: Seq[(Long, Array[Long])], k: Int = 8)
      : (Seq[(Long, Long, Long)], Long) = {
    val sorted = qs.sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sel = scala.collection.mutable.ArrayBuffer(
      (1L, sorted.head._1, 0L))
    def selQ = sel.map(s => sorted.find(_._1 == s._2).get._2)
    while (sel.length < math.min(k, sorted.length)) {
      val cand = sorted.filterNot(v => sel.exists(_._2 == v._1))
        .map { case (id, q) => (id, selQ.map(sq => l2(q, sq)).min) }
      val best = cand.minBy { case (id, d) => (-d, id) }
      sel += ((sel.length + 1L, best._1, best._2))
    }
    val cover = sorted.map { case (_, q) => selQ.map(sq => l2(q, sq)).min }.max
    (sel.toSeq, cover)
  }

  test("edge branches: zero vector → cid 1; empty cell keeps its centroid; " +
      "duplicate vectors tie to the lowest cid") {
    // 12 vectors in TWO tight clusters + one zero vector PLANTED AT
    // id 3 so it becomes an INIT CENTROID (cid 4): with k = 8 the
    // zero-centroid branch (score −2.0, never best), the zero-VECTOR
    // rule (→ cid 1), empty cells (≥ 5 per iteration, must hold their
    // init centroids) and exact duplicate-score ties (→ lowest cid)
    // are all exercised — none of them occur on the real corpus.
    val a = Array.fill(64)(40)
    val b = Array.fill(64)(-30)
    val rows: Seq[(Long, Array[Int])] =
      Seq(0L -> a.clone, 1L -> a.clone, 2L -> a.clone,
        3L -> Array.fill(64)(0), 4L -> b.clone, 5L -> b.clone,
        6L -> b.clone, 7L -> b.clone, 8L -> a.clone, 9L -> b.clone,
        10L -> b.clone, 11L -> a.clone)
    val dir = writeEmb(rows)
    val qs = rows.map { case (id, q) => id -> q.map(_.toLong) }

    val got = VectorOps.kmeansArithCents(spark, dir)
    val want = refKmeans(qs, k = 8, iters = 3)
    assert(sameMatrix(got, want),
      s"edge-case centroids diverged:\n got=${got.map(_.take(2).mkString(",")).mkString(" | ")}" +
        s"\nwant=${want.map(_.take(2).mkString(",")).mkString(" | ")}")

    // the declared query itself on the same dir: all 12 vectors
    // assigned, all 8 cells emit a row, empty cells report n = 0
    val out = graft.SparkEntry.queries("x_kmeans_oracle")(spark, dir).collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).sum == 12L, "not every vector assigned")

    val gotPq = VectorOps.pqArithCodebooks(spark, dir)
    val wantPq = refPq(qs)
    assert(gotPq.zip(wantPq).forall { case (x, y) => sameMatrix(x, y) },
      "edge-case PQ codebooks diverged")
  }

  test("seeded random tables: distributed training equals the reference algebra") {
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(25)
      val rows: Seq[(Long, Array[Int])] = (0L until n).map { i =>
        i -> Array.fill(64)(rnd.nextInt(161) - 80) // signed, exercises negatives
      }
      val dir = writeEmb(rows)
      val qs = rows.map { case (id, q) => id -> q.map(_.toLong) }
      assert(sameMatrix(VectorOps.kmeansArithCents(spark, dir),
        refKmeans(qs, k = 8, iters = 3)), s"kmeans diverged at seed $seed")
      val gotPq = VectorOps.pqArithCodebooks(spark, dir)
      val wantPq = refPq(qs)
      assert(gotPq.zip(wantPq).forall { case (x, y) => sameMatrix(x, y) },
        s"pq diverged at seed $seed")
      // PCA: trained state AND the declared query's corpus-recomputed
      // projection column against the independent reference
      val (wm, wv, wp) = refPca(qs)
      val (gm, gv) = VectorOps.pcaArithState(spark, dir)
      assert(gm.sameElements(wm) && gv.sameElements(wv),
        s"pca state diverged at seed $seed")
      val out = graft.SparkEntry.queries("x_pca_oracle")(spark, dir).collect()
      assert(out.length == 64)
      assert(out.map(_.getLong(2)).sameElements(wv) &&
        out.map(_.getLong(3)).sameElements(wp),
        s"pca declared output diverged at seed $seed")
      // the serving read: top-10 |projection| against the reference sort
      val cs = qs.map { case (id, q) =>
        id -> q.zip(wm).map { case (x, mm) => x - mm } }
      val wantTop = cs.map { case (id, c) => (id, dot(c, wv)) }
        .sortBy { case (id, u) => (-math.abs(u), id) }.take(10)
      val gotTop = graft.SparkEntry.queries("x_pca_outliers")(spark, dir)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(gotTop.sameElements(wantTop),
        s"pca outliers diverged at seed $seed")
      // the SECOND direction: deflation, re-quantization and the
      // second power loop against the independent reference
      val (wv2, wp2) = refPca2(qs)
      val (_, _, gv2) = VectorOps.pca2ArithState(spark, dir)
      assert(gv2.sameElements(wv2), s"pca2 state diverged at seed $seed")
      val out2 = graft.SparkEntry.queries("x_pca2_oracle")(spark, dir).collect()
      assert(out2.length == 64)
      assert(out2.map(_.getLong(1)).sameElements(wv2) &&
        out2.map(_.getLong(2)).sameElements(wp2),
        s"pca2 declared output diverged at seed $seed")
      // the THIRD direction: the composed deflation against the
      // independent reference (guards a shared-bug hash-match)
      val (wv3, wp3) = refPca3(qs)
      val (_, _, _, gv3) = VectorOps.pca3ArithState(spark, dir)
      assert(gv3.sameElements(wv3), s"pca3 state diverged at seed $seed")
      val out3 = graft.SparkEntry.queries("x_pca3_oracle")(spark, dir).collect()
      assert(out3.length == 64)
      assert(out3.map(_.getLong(1)).sameElements(wv3) &&
        out3.map(_.getLong(2)).sameElements(wp3),
        s"pca3 declared output diverged at seed $seed")
      // the energy decomposition against the independent reference
      val wantE = refPcaEnergy(qs)
      val gotE = graft.SparkEntry.queries("x_pca_energy")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(gotE == wantE, s"pca energy diverged at seed $seed:\n" +
        s" got=$gotE\nwant=$wantE")
      // k-center: the greedy trajectory AND the live cover objective
      val (wSel, wCover) = refKcenter(qs)
      val outK = graft.SparkEntry.queries("x_kcenter_coreset")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(outK.map(t => (t._1, t._2, t._3)).toSeq == wSel,
        s"kcenter trajectory diverged at seed $seed:\n got=${outK.toSeq}\nwant=$wSel")
      assert(outK.forall(_._4 == wCover),
        s"kcenter cover objective diverged at seed $seed")
    }
  }

  test("kcenter k=64: the distributed struct-max argmax replays the " +
      "reference greedy trajectory, and k=8 is its literal prefix " +
      "(VERDICT r14 #1 — the large-k proof the declared query's " +
      "documented k=8 pin leans on)") {
    val rnd = new scala.util.Random(64)
    val rows: Seq[(Long, Array[Int])] = (0L until 100L).map { i =>
      i -> Array.fill(64)(rnd.nextInt(161) - 80)
    }
    val dir = writeEmb(rows)
    val qs = rows.map { case (id, q) => id -> q.map(_.toLong) }
    val (want, _) = refKcenter(qs, k = 64)
    assert(want.length == 64)
    val got64 = VectorOps.kcenterState(spark, dir, 64)
    assert(got64.map(t => (t._1, t._2, t._3)) == want,
      s"k=64 trajectory diverged:\n got=${got64.map(t => (t._1, t._2, t._3))}" +
        s"\nwant=$want")
    // greedy determinism: the k=8 state (the declared query's model)
    // is literally the first 8 steps of the k=64 run — the pin that a
    // larger k never changes what the small-k user was served
    val got8 = VectorOps.kcenterState(spark, dir)
    assert(got8.map(t => (t._1, t._2, t._3, t._4.toSeq)) ==
        got64.take(8).map(t => (t._1, t._2, t._3, t._4.toSeq)),
      "k=8 trajectory is not a prefix of the k=64 one")
  }

  test("kcenter partial selection: n < 8 vectors emit exactly n steps " +
      "(the MMR max-step fin rule, applied up front)") {
    val rows: Seq[(Long, Array[Int])] = Seq(
      5L -> Array.fill(64)(30), 9L -> Array.fill(64)(-20),
      2L -> Array.fill(64)(0))
    val dir = writeEmb(rows)
    val qs = rows.map { case (id, q) => id -> q.map(_.toLong) }
    val (wSel, wCover) = refKcenter(qs)
    assert(wSel.length == 3 && wSel.head._2 == 2L) // seed = lowest vec_id
    val out = graft.SparkEntry.queries("x_kcenter_coreset")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 3, s"partial selection emitted ${out.length} rows")
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == wSel, out.mkString(","))
    // with every vector selected the cover objective is exactly 0
    assert(wCover == 0L && out.forall(_._4 == 0L))
    // the k=64 fin on the same 3-row table: still exactly n steps
    assert(VectorOps.kcenterState(spark, dir, 64).length == 3,
      "k=64 partial selection did not stop at n")
  }

  test("undersized tables fail LOUDLY in the training helpers (ADVICE r12)") {
    // k-means needs n ≥ 8 and PQ n ≥ 4 for their lowest-vec_id inits;
    // before the guards an undersized table threw IndexOutOfBounds on
    // the Spark side while the oracle's list index returned NULL —
    // divergent failure modes. Pin the clear-message contract.
    val dir = writeEmb((0L until 3L).map(i => i -> Array.fill(64)(10)))
    val km = intercept[IllegalArgumentException] {
      VectorOps.kmeansArithCents(spark, dir)
    }
    assert(km.getMessage.contains(">= 8 vectors"), km.getMessage)
    val pq = intercept[IllegalArgumentException] {
      VectorOps.pqArithCodebooks(spark, dir)
    }
    assert(pq.getMessage.contains(">= 4 vectors"), pq.getMessage)
    // PCA has no k-sized init — a 3-vector table trains fine
    val (_, v) = VectorOps.pcaArithState(spark, dir)
    assert(v.length == 64)
  }

  test("the PCA envelope guards fail LOUDLY past 2^53, and a table just " +
      "under the bound trains") {
    def envelope(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("exceed the exact-double envelope"), e.getMessage)
    }
    val zeros = Array.fill(64)(0)
    // level 1's a-priori bound n·(2·max|q|)²·64·10⁴ < 2^53 ≈ 9.007·10¹⁵:
    // at n = 3, max|q| = 34,500 gives 9.14·10¹⁵ and 34,000 gives 8.88·10¹⁵
    def table(q: Int) = writeEmb(Seq(0L -> (q +: zeros.tail), 1L -> zeros,
      2L -> (-q +: zeros.tail)))
    val over = table(34500)
    envelope(VectorOps.pcaArithState(spark, over))
    envelope(VectorOps.pca2ArithState(spark, over))
    envelope(VectorOps.pca3ArithState(spark, over))
    envelope(graft.SparkEntry.queries("x_pca_energy")(spark, over))
    val under = table(34000)
    val (m, v, v2, v3) = VectorOps.pca3ArithState(spark, under)
    assert(m.forall(_ == 0L) && v.sameElements(10000L +: Array.fill(63)(0L)), v.mkString(","))
    // deflating by v leaves nothing: every later level keeps v⁰ = 1⁶⁴
    assert(v2.forall(_ == 1L) && v3.forall(_ == 1L))
    assert(graft.SparkEntry.queries("x_pca_energy")(spark, under).collect().length == 3)
    // levels 2 and 3 guard the MEASURED max|c_k| of their deflated frame:
    // c = (M, 0, …) deflated by w = 10⁴·1⁶⁴ is c₂ = (0.63·M, −0.01·M, …),
    // and c₂ deflated by w again is c₃ = 0.64·c₂ (⟨c₂, w⟩ = 0); at
    // M = 200,000 both pass max|c| = 68,500, the bound at n = 3
    graft.GraftFunctions.install(spark)
    val qd = spark.read.parquet(s"${table(200000)}/embeddings.parquet")
      .select(graft.functions.EmbeddingQuantizer.col.as("qd"))
    val (m0, w) = (Array.fill(64)(0L), Array.fill(64)(10000L))
    val e2 = intercept[IllegalArgumentException](PcaFrame.trainDeflated(qd, m0, Seq(w)))
    assert(e2.getMessage.contains("pca2ArithState: n=3, max|c2|=126000 exceed " +
      "the exact-double envelope"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](PcaFrame.trainDeflated(qd, m0, Seq(w, w)))
    assert(e3.getMessage.contains("pca3ArithState: n=3, max|c3|=80640 exceed " +
      "the exact-double envelope"), e3.getMessage)
  }

  test("pca edge branches: constant corpus → p ≡ 0 keeps v⁰; negative-mean " +
      "truncation matches") {
    // every vector identical → exact trunc-mean equals the value, every
    // centered vector is 0, every projection is 0 → the s = 0 guard
    // must hold v at 1⁶⁴ in BOTH engines (never occurs on the corpus)
    val const: Seq[(Long, Array[Int])] =
      (0L until 9L).map(i => i -> Array.fill(64)(-37)) // negative: m trunc
    val dir = writeEmb(const)
    val (m, v) = VectorOps.pcaArithState(spark, dir)
    assert(m.forall(_ == -37L), s"trunc mean of constant -37 column: ${m.head}")
    assert(v.forall(_ == 1L), "s = 0 must keep the all-ones v")
    val out = graft.SparkEntry.queries("x_pca_oracle")(spark, dir).collect()
    assert(out.forall(r => r.getLong(2) == 1L && r.getLong(3) == 0L))
    // and the reference agrees on the same rows
    val (wm, wv, wp) = refPca(const.map { case (id, q) => id -> q.map(_.toLong) })
    assert(wm.sameElements(m) && wv.sameElements(v) && wp.forall(_ == 0L))
    // second direction on the constant corpus: every centered vector is
    // 0 → deflation and re-quantization stay 0 → p₂ ≡ 0 keeps v₂ = 1⁶⁴
    // in the trainer, the declared query AND the reference
    val (_, _, v2) = VectorOps.pca2ArithState(spark, dir)
    assert(v2.forall(_ == 1L), "s = 0 must keep the all-ones v2")
    val out2 = graft.SparkEntry.queries("x_pca2_oracle")(spark, dir).collect()
    assert(out2.forall(r => r.getLong(1) == 1L && r.getLong(2) == 0L))
    val (wv2, wp2) = refPca2(const.map { case (id, q) => id -> q.map(_.toLong) })
    assert(wv2.forall(_ == 1L) && wp2.forall(_ == 0L))
    // energy decomposition on the constant corpus: vv = 64 → vvq = 0
    // and frame_energy = 0 — BOTH zero-guard branches fire, all three
    // rows all-zero in both engines (the declared degenerate rule)
    val outE = graft.SparkEntry.queries("x_pca_energy")(spark, dir).collect()
    assert(outE.length == 3 && outE.forall(r =>
        r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L),
      outE.mkString(","))
  }
}
