package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The Markov family's one shared frame (x_event_transitions,
  * x_markov_steady / absorb / absorb_to / reach / mfpt / entropy /
  * lumpable): a transition is a pair of consecutive events of one user,
  * ordered by (µs-floored ts, event_id) — `unix_micros` in Spark ≡
  * `epoch_us` on DuckDB's ns timestamps, so both engines see identical
  * successor pairs. The window is unframed: `lag`/`lead` read one row
  * of sorter lookahead, bot-user-proof. The projection, the window and
  * the `prev_type`/`nxt` columns live here and nowhere else; each member
  * adds only its own rollup. The trained members read one cached chain
  * ([[chain]]), and the DuckDB side shares one CTE prefix per direction
  * ([[oracleLag]], [[oracleLead]]). */
object MarkovFrame {

  /** (user_id, event_id, event_type, ts_us) of the `events` table. */
  def events(raw: DataFrame): DataFrame =
    raw.select(col("user_id"), col("event_id"), col("event_type"),
      expr("unix_micros(ts)").as("ts_us"))

  /** Per user, in (ts_us, event_id) order. */
  val byUser: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))

  /** [[events]] plus `prev_type`, the user's previous event type (null
    * on a stream's first event). */
  def lagged(raw: DataFrame): DataFrame =
    events(raw).withColumn("prev_type", lag(col("event_type"), 1).over(byUser))

  /** [[events]] plus `nxt`, the user's next event type (null on a
    * stream's last event — its end). */
  def led(raw: DataFrame): DataFrame =
    events(raw).withColumn("nxt", lead(col("event_type"), 1).over(byUser))

  /** (prev_type, next_type, n): the transition count rollup. */
  def transitions(raw: DataFrame): DataFrame =
    lagged(raw).where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))

  /** The quantized chain, collected once per (JVM, generation) of the
    * events table under `stamp`: one (event_type, next_type, n) rollup
    * of [[led]], a null next_type counting each stream's last event. */
  def chain(dir: String, stamp: String)(raw: => DataFrame): Chain =
    QueryModule.cachedLocal(s"markov:$dir", stamp) {
      Chain(led(raw).groupBy(col("event_type"), col("nxt").as("next_type"))
        .agg(count(lit(1)).as("n")).collect())
    }

  /** The chain over `types` (every observed event type, sorted; each
    * occurrence is followed or last, so each is a rollup key), all in
    * basis points with trunc division:
    *   - `p(i)(j)` = n(i→j)·10⁴ DIV n_out(i), the row-stochastic
    *     transition matrix (x_event_transitions' p_bp; a type with no
    *     successor has a zero row);
    *   - `q(i)(j)` = n(i→j)·10⁴ DIV tot(i) with tot(i) = n_out(i) +
    *     n_end(i), the substochastic chain whose missing mass is the
    *     stream's END;
    *   - `r(i)` = n_end(i)·10⁴ DIV tot(i), the per-occurrence END mass.
    * Driver traffic: ≤ K² + K bounded values. The type space is guarded
    * at 256 — the oracle's position-unnest cap; beyond it the Spark side
    * fails loudly where the oracle would silently truncate (the k-core
    * cap-coupling rule). */
  final case class Chain(types: Seq[String], p: Array[Array[Long]],
      q: Array[Array[Long]], r: Array[Long]) {

    def k: Int = types.length

    /** Five rounds of w ← wᵀP from w⁰ = 1ᴷ with the scale-invariant
      * renormalization (w·10⁴) trunc-div max(w) (the x_pca_oracle
      * trick: power iteration only needs a direction). Envelope: w ≤
      * 10⁴, p ≤ 10⁴ → wᵀP entries ≤ K·10⁸ ≤ 2.6·10¹⁰; all values
      * nonnegative, so trunc ≡ floor. */
    def steady: Array[Long] = {
      var w = Array.fill(k)(1L)
      for (_ <- 1 to 5) {
        val wp = Array.tabulate(k)(j => (0 until k).map(i => w(i) * p(i)(j)).sum)
        val s = wp.map(math.abs).max
        if (s != 0L) w = wp.map(x => x * 10000L / s)
      }
      w
    }

    /** Eight rounds of s ← base + (Q·s) DIV 10⁴ from s⁰ = base, the
      * column `skip` of Q read as 0 (a taboo target). Every member's
      * fixed-budget Neumann series is this one: base 10⁴·1 gives the
      * expected steps to END, a column of diag(r) the absorption
      * probabilities into one end type, q(·,τ) the first passage to τ. */
    def series(base: Array[Long], skip: Int = -1): Array[Long] = {
      var s = base
      for (_ <- 1 to 8)
        s = Array.tabulate(k)(i =>
          base(i) + (0 until k).filter(_ != skip).map(j => q(i)(j) * s(j)).sum / 10000L)
      s
    }
  }

  object Chain {
    def apply(rows: Array[Row]): Chain = {
      val types = rows.map(_.getString(0)).distinct.sorted.toSeq
      require(types.length <= 256,
        s"Markov chain: ${types.length} event types exceed the declared " +
          "bounded type space (oracle position cap 256) — widen both or sample")
      val idx = types.zipWithIndex.toMap
      val k = types.length
      val m = Array.ofDim[Long](k, k)
      val out = Array.ofDim[Long](k)
      val end = Array.ofDim[Long](k)
      rows.foreach { r =>
        val i = idx(r.getString(0))
        if (r.isNullAt(1)) end(i) += r.getLong(2)
        else { m(i)(idx(r.getString(1))) = r.getLong(2); out(i) += r.getLong(2) }
      }
      Chain(types,
        Array.tabulate(k, k)((i, j) => if (out(i) == 0L) 0L else m(i)(j) * 10000L / out(i)),
        Array.tabulate(k, k)((i, j) => m(i)(j) * 10000L / (out(i) + end(i))),
        Array.tabulate(k)(i => end(i) * 10000L / (out(i) + end(i))))
    }
  }

  /** DuckDB CTEs of the lag direction: `e` (the projection), `p`
    * (prev_type, next_type), `c` (the pair counts), `tt`/`pb` (P_bp
    * edges), `ty` (the sorted type list), `el`/`pm` (the dense matrix),
    * then `it`/`fin`/`sw`, the five-round steady iteration and its
    * total. A member appends `,` and its own CTEs, then its SELECT. */
  val oracleLag: String =
    """WITH RECURSIVE
            e AS (SELECT user_id, event_id, event_type,
                    epoch_us(ts) AS ts_us FROM events),
            p AS (SELECT lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type,
                    event_type AS next_type
                  FROM e),
            c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
                  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
            tt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
                   FROM c GROUP BY 1),
            pb AS (SELECT c.prev_type AS a, c.next_type AS b,
                     CAST((c.n * 10000) // tt.tot AS BIGINT) AS v
                   FROM c JOIN tt USING (prev_type)),
            ty AS (SELECT list(t ORDER BY t) AS ts
                   FROM (SELECT DISTINCT event_type AS t FROM events)),
            el AS (SELECT coalesce(list(struct_pack(a := a, b := b, v := v)),
                     []) AS es FROM pb),
            pm AS (SELECT ts, list_transform(ts, x -> list_transform(ts, y ->
                     coalesce(list_min(list_transform(
                       list_filter(es, q -> q.a = x AND q.b = y),
                       q -> q.v)), 0))) AS m
                   FROM ty CROSS JOIN el),
            it AS (
              SELECT 0 AS step, list_transform(ts, t -> CAST(1 AS BIGINT)) AS w
              FROM ty
              UNION ALL
              SELECT step + 1,
                CASE WHEN s = 0 THEN w ELSE
                  list_transform(wp, x -> CAST((x * 10000) // s AS BIGINT))
                END AS w
              FROM (SELECT step, w, wp,
                      list_max(list_transform(wp, x -> abs(x))) AS s
                    FROM (SELECT step, w,
                            list_transform(range(1, len(w) + 1), j -> CAST(
                              list_sum(list_transform(range(1, len(w) + 1),
                                i -> w[i] * m[i][j])) AS BIGINT)) AS wp
                          FROM it CROSS JOIN pm))
              WHERE step < 5),
            fin AS (SELECT w FROM it ORDER BY step DESC LIMIT 1),
            sw AS (SELECT ts, w, CAST(list_sum(w) AS BIGINT) AS wt
                   FROM fin CROSS JOIN ty)"""

  /** DuckDB CTEs of the lead direction: `e`, `p` (cur, nxt), `c` (the
    * pair counts), `en` (END counts), `outs`, `ty`, `tt` (occurrence
    * totals), `qb` (Q_bp edges) and `el`/`qm` (the dense matrix). */
  val oracleLead: String =
    """WITH RECURSIVE
            e AS (SELECT user_id, event_id, event_type,
                    epoch_us(ts) AS ts_us FROM events),
            p AS (SELECT event_type AS cur, lead(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
                  FROM e),
            c AS (SELECT cur AS a, nxt AS b, CAST(count(*) AS BIGINT) AS n
                  FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
            en AS (SELECT cur AS t, CAST(count(*) AS BIGINT) AS n_end
                   FROM p WHERE nxt IS NULL GROUP BY 1),
            outs AS (SELECT a AS t, CAST(sum(n) AS BIGINT) AS n_out
                     FROM c GROUP BY 1),
            ty AS (SELECT list(t ORDER BY t) AS ts
                   FROM (SELECT DISTINCT event_type AS t FROM events)),
            tt AS (SELECT u.t,
                     coalesce(o.n_out, 0) + coalesce(e2.n_end, 0) AS tot
                   FROM (SELECT DISTINCT event_type AS t FROM events) u
                   LEFT JOIN outs o ON o.t = u.t
                   LEFT JOIN en e2 ON e2.t = u.t),
            qb AS (SELECT c.a, c.b,
                     CAST((c.n * 10000) // tt.tot AS BIGINT) AS v
                   FROM c JOIN tt ON tt.t = c.a),
            el AS (SELECT coalesce(list(struct_pack(a := a, b := b, v := v)),
                     []) AS es FROM qb),
            qm AS (SELECT ts, list_transform(ts, x -> list_transform(ts, y ->
                     coalesce(list_min(list_transform(
                       list_filter(es, q -> q.a = x AND q.b = y),
                       q -> q.v)), 0))) AS m
                   FROM ty CROSS JOIN el)"""
}
