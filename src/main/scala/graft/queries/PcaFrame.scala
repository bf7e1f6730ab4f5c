package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PCA family's one shared frame (x_pca_oracle, x_pca2_oracle,
  * x_pca3_oracle, x_pca_energy, x_pca_outliers and
  * graft.streaming.StreamingPcaProject). Every trained direction is the
  * same fold: level 1 is the table quantized (`qd`) and centered by its
  * per-dim truncating means m; level k is level k−1 deflated by its
  * trained direction v_{k−1}; v_k is three scaled power steps over level
  * k. The centering, the one re-quantized deflation, the one power loop
  * and the DuckDB text of each live here and nowhere else; each member
  * adds only its own read. Level k's frame column is `c` / `c2` / `c3`
  * and its projection column `u` / `u2` / `u3` ([[c]], [[u]]).
  *
  * MAGNITUDE WORKSHEET (maxq = max|floor(x·100)| ≤ 58 on the gate
  * corpora, |c| ≤ 2·maxq after trunc-mean centering; measured max|c₂|
  * ≤ 149 at sf0.1):
  *
  *   v (trained dir):    |v_d| ≤ 10⁴;  vv = Σv² ≤ 64·10⁸ = 6.4·10⁹
  *   u = ⟨c, v⟩:         |u| ≤ 64·(2maxq)·10⁴ ≈ 7.4·10⁷   (exact ✓)
  *   deflation c′_d = c_d·vv − v_d·u:
  *     |c′_d| ≤ (2maxq)·(vv + 64·10⁸) ≤ (2maxq)·1.28·10¹⁰
  *              ≈ 1.5·10¹² ≪ 2^53                          (exact ✓)
  *   re-quantization c_{k+1} = trunc(c′ / 10¹⁰): the class grows by
  *     ≤ 1.28× per level (|c₂| ≲ 149, |c₃| ≲ 191 at maxq 58), not by
  *     the |v|² ≈ 10⁸ the unquantized chain would. Trunc-div is exact
  *     and identical in both engines (Spark DIV ≡ DuckDB `//` on
  *     BIGINT, negatives included).
  *   power step on level k: |p_d| ≤ n·maxc²·64·10⁴ < 2^53 — guarded
  *     loudly per level (n = 2000, maxc₃ = 191 → 4.7·10¹³, ~190×
  *     headroom); the driver renorm p·10⁴ passes 2^53, so it runs in
  *     driver Longs (< 2^63 ✓).
  *   The family's practical boundary at gate scale is maxc ≈ 2650
  *   (≈ dir 9); directions past the third add no analytic value on
  *   64-dim embeddings, so the declared surface stops at 3. */
object PcaFrame {

  /** Re-quantization divisor of a deflated frame. Decimal, like the
    * ×10⁴ renormalization. */
  private val Pca2Requant = 10000000000L // 10^10

  def c(k: Int): String = if (k == 1) "c" else s"c$k"
  private def u(k: Int): String = if (k == 1) "u" else s"u$k"

  /** An integer vector (means or a direction) as a double-array literal. */
  def vLit(v: Array[Long]): String = v.map(x => s"${x}D").mkString("array(", ", ", ")")

  /** qd − m as an array column — the batch twins and the streaming
    * projection serve this literally-same codegen expression. */
  def centerExpr(m: Array[Long]): String =
    s"transform(qd, (x, i) -> x - element_at(${vLit(m)}, i + 1))"

  /** Level k deflated by w into level k+1, re-quantized:
    * c_{k+1} = (c_k·⟨w,w⟩ − w·⟨c_k,w⟩) DIV 10¹⁰, with ⟨c_k,w⟩ as u_k —
    * one narrow codegen projection (w and ⟨w,w⟩ ride as literals). */
  private def deflate(f: DataFrame, k: Int, w: Array[Long]): DataFrame =
    f.withColumn(u(k), expr(s"vec_dot(${c(k)}, ${vLit(w)})"))
      .select(expr(
        s"""transform(${c(k)}, (x, j) -> CAST(CAST(x * ${w.map(x => x * x).sum}D
           |  - element_at(${vLit(w)}, j + 1) * ${u(k)} AS BIGINT)
           |  DIV ${Pca2Requant}L AS DOUBLE))""".stripMargin).as(c(k + 1)))

  /** The training frame of level `vs.length + 1` over the quantized
    * table `qd`: centered by m, then deflated by each of `vs` in turn. */
  def level(qd: DataFrame, m: Array[Long], vs: Seq[Array[Long]]): DataFrame =
    vs.zipWithIndex.foldLeft(qd.select(expr(centerExpr(m)).as("c"))) {
      case (f, (w, i)) => deflate(f, i + 1, w)
    }

  /** p_d = Σᵢ c_{i,d}·⟨c_i, w⟩ over level k's frame as p0..p63: one
    * vec_dot pass and ONE wide 64-sum map-side-combined aggregate. */
  private def projSums(f: DataFrame, k: Int, w: Array[Long], asLong: Boolean) = {
    val ps = (0 until 64).map { d =>
      val p = sum(expr(s"${c(k)}[$d] * ${u(k)}"))
      (if (asLong) p.cast("long") else p).as(s"p$d")
    }
    f.withColumn(u(k), expr(s"vec_dot(${c(k)}, ${vLit(w)})")).agg(ps.head, ps.tail: _*)
  }

  /** Three scaled power steps over level k from v⁰ = 1⁶⁴: v ← (p·10⁴)
    * trunc-div max|p|, on the driver in exact Longs (power iteration is
    * invariant to per-step scaling, so no sqrt and no float division).
    * s = 0 (a constant corpus, p ≡ 0) keeps v — the declared degenerate
    * rule. Driver traffic: 64 bounded values per step. */
  private def power(f: DataFrame, k: Int): Array[Long] = {
    var v = Array.fill(64)(1L)
    for (_ <- 1 to 3) {
      val r = projSums(f, k, v, asLong = false).collect().head
      val p = Array.tabulate(64)(d => r.getDouble(d).toLong)
      val s = p.map(math.abs).max
      if (s != 0L) v = p.map(x => x * 10000L / s)
    }
    v
  }

  /** Level 1: (m, v₁). The per-dim sums for m and max|q| come from one
    * aggregate, and level 1's guard is the a-priori bound |c| ≤ 2·max|q|:
    * |p_d| ≤ n·(2·max|q|)²·64·10⁴ must stay < 2^53 for the double-carried
    * sums to BE integer arithmetic — beyond it Spark would round
    * silently where the oracle's BIGINTs stay exact. */
  def trainCentered(qd: DataFrame): (Array[Long], Array[Long]) = {
    val absMax = expr((0 until 64).map(d => s"abs(qd[$d])").mkString("greatest(", ", ", ")"))
    val stats = count(lit(1)).as("n") +: max(absMax).as("maxq") +:
      (0 until 64).map(d => sum(expr(s"qd[$d]")).as(s"s$d"))
    val r = qd.agg(stats.head, stats.tail: _*).collect().head
    val n = r.getLong(0)
    require(n > 0, "pcaArithState: embeddings table is empty")
    val maxq = r.getDouble(1).toLong
    require(n.toDouble * (2.0 * maxq) * (2.0 * maxq) * 64.0 * 10000.0
        < 9007199254740992.0, // 2^53
      s"pcaArithState: n=$n, max|q|=$maxq exceed the exact-double " +
        "envelope (n·(2·max|q|)²·64·10000 ≥ 2^53) — train over a sample")
    val m = Array.tabulate(64)(d => r.getDouble(d + 2).toLong / n)
    (m, power(level(qd, m, Nil), 1))
  }

  /** Level k = `vs.length + 1` ≥ 2: v_k. The guard is the same bound
    * with the MEASURED max|c_k| (one 2-value probe), so a corpus outside
    * the worksheet's modeled range fails clearly. */
  def trainDeflated(qd: DataFrame, m: Array[Long], vs: Seq[Array[Long]]): Array[Long] = {
    val k = vs.length + 1
    val f = level(qd, m, vs)
    val absMax = expr((0 until 64).map(d => s"abs(${c(k)}[$d])").mkString("greatest(", ", ", ")"))
    val g = f.agg(count(lit(1)).as("n"), max(absMax).as("mx")).collect().head
    val (n, mx) = (g.getLong(0), g.getDouble(1).toLong)
    require(n.toDouble * mx * mx * 64.0 * 10000.0 < 9007199254740992.0, // 2^53
      s"pca${k}ArithState: n=$n, max|c$k|=$mx exceed the exact-double " +
        s"envelope (n·max|c$k|²·64·10000 ≥ 2^53) — raise Pca2Requant or " +
        "train over a sample")
    power(f, k)
  }

  /** The oracle twins' read of level k = `vs.length`: its frame's
    * projection sums under v_k, stacked as 64 (dim, [mean_q,] comp_k,
    * proj_k_sum) rows of constants and sums — one narrow pass, one wide
    * aggregate, no join, no window, no explode on the corpus side. */
  def oracleRead(qd: DataFrame, m: Array[Long], vs: Seq[Array[Long]]): DataFrame = {
    val (k, w) = (vs.length, vs.last)
    val s = sfx(k)
    val consts = (if (k == 1) Seq("mean_q" -> m) else Nil) :+ (s"comp$s" -> w)
    projSums(level(qd, m, vs.init), k, w, asLong = true)
      .select(expr("stack(64, " + (0 until 64).map(d =>
        (s"CAST(${d + 1} AS BIGINT)" +: consts.map(x => s"CAST(${x._2(d)} AS BIGINT)") :+
          s"p$d").mkString(", ")).mkString(", ") +
        s") AS (dim, ${consts.map(_._1).mkString(", ")}, proj${s}_sum)"))
      .orderBy(col("dim"))
  }

  // ---- DuckDB: the same fold as recursive-CTE LIST-state rows ----

  private def sfx(k: Int) = if (k == 1) "" else k.toString

  /** Level k's frame relation: cv (centered), then dfl, dfl3. */
  private def rel(k: Int) = k match { case 1 => "cv"; case 2 => "dfl"; case _ => s"dfl$k" }

  /** p = Σ_w w[d]·⟨w, v_k⟩ over level k's collected vectors, continuation
    * lines indented to `ind`. */
  private def projSql(k: Int, ind: Int): String = {
    val (v, nl) = (s"v${sfx(k)}", "\n" + " " * ind)
    s"list_transform($v, (vd, d) -> CAST($nl  list_sum(list_transform(cs${sfx(k)}, w ->" +
      s"$nl    w[d] * list_sum(list_transform(w,$nl      (x, j) -> x * $v[j])))) AS BIGINT))"
  }

  /** Level k's CTEs: level 1 quantizes (qv), takes the per-dim trunc
    * means (mv) and centers (cv); level k ≥ 2 deflates level k−1 by
    * fin_{k−1} and re-quantizes. Then the power loop: vl (the collected
    * frame), it (three steps from v⁰ = 1⁶⁴, s = 0 keeps v), fin. */
  private def levelSql(k: Int): String = {
    val (s, v) = (sfx(k), s"v${sfx(k)}")
    val frame = if (k == 1)
      """qv AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |                     x -> CAST(floor(x * 100.0) AS BIGINT)) AS q FROM embeddings),
        |            px AS (SELECT unnest(list_transform(q,
        |                     (x, i) -> {'x': x, 'i': i}), recursive := true) FROM qv),
        |            sums AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM px GROUP BY i),
        |            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
        |            mv AS (SELECT list(s // n ORDER BY i) AS m FROM sums CROSS JOIN nn),
        |            cv AS (SELECT vec_id, list_transform(q, (x, i) -> x - m[i]) AS c
        |                   FROM qv CROSS JOIN mv),""".stripMargin
    else {
      val (j, pj) = (sfx(k - 1), c(k - 1))
      s"""${rel(k)} AS (SELECT vec_id, list_transform($pj, (x, j) ->
         |              (x * vv$j - v$j[j] * cu$j) // $Pca2Requant) AS ${c(k)}
         |            FROM (SELECT vec_id, $pj, v$j,
         |                    CAST(list_sum(list_transform($pj, (x, j) -> x * v$j[j]))
         |                      AS BIGINT) AS cu$j,
         |                    CAST(list_sum(list_transform(v$j, x -> x * x))
         |                      AS BIGINT) AS vv$j
         |                  FROM ${rel(k - 1)} CROSS JOIN fin$j)),""".stripMargin
    }
    s"""$frame
       |            vl$s AS (SELECT list(${c(k)} ORDER BY vec_id) AS cs$s FROM ${rel(k)}),
       |            it$s AS (
       |              SELECT 0 AS step,
       |                list_transform(range(1, 65), d -> CAST(1 AS BIGINT)) AS $v
       |              FROM (SELECT 1)
       |              UNION ALL
       |              SELECT step + 1,
       |                CASE WHEN s = 0 THEN $v ELSE
       |                  list_transform(p, x -> CAST((x * 10000) // s AS BIGINT))
       |                END AS $v
       |              FROM (SELECT step, $v, p,
       |                      list_max(list_transform(p, x -> abs(x))) AS s
       |                    FROM (SELECT step, $v,
       |                            ${projSql(k, 28)} AS p
       |                          FROM it$s, vl$s))
       |              WHERE step < 3),
       |            fin$s AS (SELECT $v FROM it$s ORDER BY step DESC LIMIT 1)""".stripMargin
  }

  /** The CTE chain through level k (the caller writes WITH RECURSIVE). */
  def oracleCtes(k: Int): String = (1 to k).map(levelSql).mkString(",\n            ")

  /** The DuckDB twin of [[oracleRead]] at level k: the chain, then res_k
    * and its 64-row unnest. */
  def oracleReadSql(k: Int): String = {
    val s = sfx(k)
    val (keep, mv, cols) =
      if (k == 1) ("m, v", " CROSS JOIN mv", "CAST(m[d] AS BIGINT) AS mean_q,\n" +
        "              CAST(v[d] AS BIGINT) AS comp, CAST(p[d] AS BIGINT) AS proj_sum")
      else (s"v$s", "", s"CAST(v$s[d] AS BIGINT) AS comp$s,\n" +
        s"              CAST(p$s[d] AS BIGINT) AS proj${s}_sum")
    s"""WITH RECURSIVE
       |            ${oracleCtes(k)},
       |            res$s AS (SELECT $keep,
       |                      ${projSql(k, 22)} AS p$s
       |                    FROM fin$s$mv CROSS JOIN vl$s)
       |            SELECT CAST(d AS BIGINT) AS dim, $cols
       |            FROM res$s CROSS JOIN (SELECT unnest(range(1, 65)) AS d)
       |            ORDER BY dim""".stripMargin
  }

  /** x_pca_energy's per-row stage k: ‖f‖², u = ⟨f, v_k⟩ and
    * vvq = ‖v_k‖² DIV 10⁴ over level k's frame. */
  def oracleStageSql(k: Int): String = {
    val (f, v) = (c(k), s"v${sfx(k)}")
    s"""s$k AS (SELECT CAST(list_sum(list_transform($f, x -> x * x))
       |                     AS BIGINT) AS cc,
       |                     CAST(list_sum(list_transform($f, (x, j) -> x * $v[j]))
       |                       AS BIGINT) AS u,
       |                     CAST(list_sum(list_transform($v, x -> x * x)) // 10000
       |                       AS BIGINT) AS vvq
       |                   FROM ${rel(k)} CROSS JOIN fin${sfx(k)})""".stripMargin
  }
}
