package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The forecast family's one shared frame (x_forecast_ses / holt /
  * holt_damped / holt_winters / hw_log and x_weekday_anova): each member
  * folds the same per-type daily count series. Three decisions live here
  * and nowhere else:
  *   - the (event_type, day = unix_millis(ts) DIV 86400000) rollup — the
  *     count `n`, or `x` = ln(count) for the log-domain member;
  *   - the per-type series: the rollup's rows as one day-ordered array
  *     `xs`, folded left to right by one `aggregate`;
  *   - the two recurrences (α = β = γ = 1/2): the Holt fold, which takes
  *     its trend read, and the weekly Holt–Winters fold, which takes its
  *     number domain.
  * Each member keeps only its output tail (SES its dyadic double fold,
  * the ANOVA its sufficient statistics). The DuckDB side replays the
  * same frame: the `d`/`s` prefix ([[oracleSeries]]), one Holt `f`
  * ([[oracleHolt]]) and one Holt–Winters `f` ([[oracleHw]]). The
  * streaming twins' image of the folds is graft.streaming.DailyForecast.
  *
  * Envelope contract (SCALING.md "Arithmetic envelopes", forecast row):
  * the integer folds run the level/trend/seasonal recurrence in Long
  * basis points. The documented OPERATING envelope is daily counts ≤ 10⁷
  * (state ≤ ~10¹¹ bp — five orders of headroom); the HARD boundary is
  * the x·10⁴ promotion plus the level-scale additions, which first
  * exceed 2⁶³ once a single day's count reaches ~4.6·10¹⁴ (the sum
  * x·10⁴ + l + b doubles the level term). Under the pinned ANSI mode
  * every Long overflow RAISES (SparkArithmeticException) — loud, never
  * a silent wrap; ArithmeticEnvelopeSpec drives each fold above and
  * below that boundary, observing the raise and the exact value.
  * x_forecast_ses has no integer fold: it is pure dyadic DOUBLE halving
  * of integer-born values, in the "rounds, never wraps" float class. */
object ForecastFrame {

  /** (event_type, day, `agg`) over the `events` table: one
    * map-side-combined aggregate per calendar day. */
  def daily(events: DataFrame, agg: Column = count(lit(1)).as("n")): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"event_type", expr("unix_millis(ts) DIV 86400000").as("day"))
      .agg(agg)
  }

  /** (event_type, xs): per type, the day-ordered array of the rollup's
    * (day, `v`) structs, or of `p -> read` over them. */
  def series(d: DataFrame, v: String, read: String = ""): DataFrame = {
    val days = s"sort_array(collect_list(struct(day, $v)))"
    d.groupBy(col("event_type"))
      .agg(expr(if (read.isEmpty) days else s"transform($days, p -> $read)").as("xs"))
  }

  /** (event_type, n_days, `cols`) of a [[series]]; a member's fold is
    * one of `cols`. */
  def folded(xs: DataFrame, cols: Column*): DataFrame =
    xs.select((Seq(col("event_type"), size(col("xs")).cast("long").as("n_days"))
      ++ cols): _*)

  /** Holt linear-trend fold over a Long count array: seed l = x₁·10⁴,
    * b = 0; step l' = (x·10⁴ + l + b̂) DIV 2, b' = (l' − l + b̂) DIV 2,
    * e += |x·10⁴ − l − b̂|, where b̂ = `trend` is how the step reads b. */
  private def holtFold(trend: String): String =
    s"""aggregate(slice(xs, 2, size(xs) - 1),
                    named_struct('l', xs[0] * 10000L, 'b', 0L, 'e', 0L),
                    (acc, x) -> named_struct(
                      'l', (x * 10000L + acc.l + $trend) DIV 2,
                      'b', ((x * 10000L + acc.l + $trend) DIV 2
                            - acc.l + $trend) DIV 2,
                      'e', acc.e + abs(x * 10000L - acc.l - $trend)))"""

  /** Holt (x_forecast_holt): b read as is. */
  val holtFoldSql: String = holtFold("acc.b")

  /** Damped-trend Holt (x_forecast_holt_damped, φ = 3/4): every read of
    * b damped first — (b·3) DIV 4 is one exact trunc division. */
  val dampedFoldSql: String = holtFold("(acc.b * 3L) DIV 4")

  /** Additive Holt–Winters over the day-carrying struct array, weekly
    * season indexed by day MOD 7 (a gap day skips an observation, never
    * rotates the profile). The number domain is `x` (the step's
    * observation), `seed` (l₁), `zero` (b₁, s₁ and e₁) and `half`. Seed
    * s = 0⁷; the step updates the hit slot only. */
  private def hwFold(x: String, seed: String, zero: String, half: String): String = {
    val si = "element_at(acc.s, CAST(x.day % 7 AS INT) + 1)"
    val l = s"($x - $si + acc.l + acc.b)$half"
    s"""aggregate(slice(xs, 2, size(xs) - 1),
                    named_struct('l', $seed, 'b', $zero,
                      's', array_repeat($zero, 7), 'e', $zero),
                    (acc, x) -> named_struct(
                      'l', $l,
                      'b', ($l - acc.l + acc.b)$half,
                      's', transform(acc.s, (v, j) ->
                        IF(j = CAST(x.day % 7 AS INT), ($x - $l + v)$half, v)),
                      'e', acc.e + abs($x - acc.l - acc.b - $si)))"""
  }

  /** x_forecast_holt_winters: Long basis points over struct<day, n>. */
  val hwFoldSql: String = hwFold("x.n * 10000L", "xs[0].n * 10000L", "0L", " DIV 2")

  /** x_forecast_hw_log: doubles over struct<day, x>, x = ln(count);
    * every halving is exact in IEEE. */
  val hwLogFoldSql: String =
    hwFold("x.x", "xs[0].x", "CAST(0.0 AS DOUBLE)", " / 2.0D")

  /** DuckDB `d`: the (event_type, day, `agg`) rollup. */
  def oracleDaily(agg: String): String =
    s"""WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
                $agg
              FROM events GROUP BY 1, 2)"""

  /** [[oracleDaily]] plus `s` (event_type, xs), the day-ordered list of
    * `elem`. */
  def oracleSeries(agg: String, elem: String): String =
    oracleDaily(agg) + s""",
            s AS (SELECT event_type, list($elem ORDER BY day) AS xs
                  FROM d GROUP BY 1)"""

  /** The rollup's count column, as DuckDB spells it. */
  val oracleCount = "CAST(count(*) AS BIGINT) AS n"

  /** DuckDB `f` (event_type, n_days, st = [l, b, e]) of the Holt fold
    * over `s`, as list_reduce over a flat BIGINT list; the first step
    * sees the bare seed element (len(acc) = 1) and `trend` is how the
    * step reads b. */
  private def oracleHoltFold(trend: String): String =
    s""",
            f AS (SELECT event_type, len(xs) AS n_days,
                    list_reduce(list_transform(xs, x -> [x]),
                      (acc, x) -> CASE WHEN len(acc) = 1
                        THEN [(x[1] * 10000 + acc[1] * 10000 + 0) // 2,
                              ((x[1] * 10000 + acc[1] * 10000 + 0) // 2
                                - acc[1] * 10000 + 0) // 2,
                              abs(x[1] * 10000 - acc[1] * 10000 - 0)]
                        ELSE [(x[1] * 10000 + acc[1] + $trend) // 2,
                              ((x[1] * 10000 + acc[1] + $trend) // 2
                                - acc[1] + $trend) // 2,
                              acc[3] + abs(x[1] * 10000 - acc[1] - $trend)]
                        END) AS st
                  FROM s)"""

  /** [[oracleSeries]] of the counts plus the Holt `f`. */
  val oracleHolt: String =
    oracleSeries(oracleCount, "n") + oracleHoltFold("acc[2]")

  /** [[oracleSeries]] of the counts plus the damped Holt `f`. */
  val oracleDamped: String =
    oracleSeries(oracleCount, "n") + oracleHoltFold("(acc[2] * 3) // 4")

  /** DuckDB `f` (event_type, n_days, last_day, st) of the Holt–Winters
    * fold over `s`, as list_reduce over a flat 10-list [l, b, s₀..s₆, e];
    * the first step sees the bare [day, v] seed pair (len(acc) = 2). The
    * domain is `pair` (a struct's list image), `scale` (the x and seed
    * factor), `half`, `zero` (an unhit seed slot) and `wd` (the weekday
    * index of x). */
  private def oracleHwFold(pair: String, scale: String, half: String, zero: String,
      wd: String): String = {
    val (x, l1) = (s"x[2]$scale", s"acc[2]$scale")
    val si = s"acc[3 + ($wd)]"
    val l = s"($x - $si + acc[1] + acc[2])$half"
    s""",
            f AS (SELECT event_type, len(xs) AS n_days,
                    xs[len(xs)].day AS last_day,
                    list_reduce(list_transform(xs, x -> $pair),
                      (acc, x) -> CASE WHEN len(acc) = 2 THEN
                        [($x + $l1)$half, (($x + $l1)$half - $l1)$half]
                        || list_transform(range(0, 7), j ->
                             CASE WHEN j = $wd
                             THEN ($x - ($x + $l1)$half)$half
                             ELSE $zero END)
                        || [abs($x - $l1)]
                      ELSE
                        [$l, ($l - acc[1] + acc[2])$half]
                        || list_transform(range(0, 7), j ->
                             CASE WHEN j = $wd
                             THEN ($x - $l + acc[3 + j])$half
                             ELSE acc[3 + j] END)
                        || [acc[10] + abs($x - acc[1] - acc[2] - $si)]
                      END) AS st
                  FROM s)"""
  }

  /** x_forecast_holt_winters' `d`/`s`/`f`: BIGINT basis points. */
  val oracleHw: String =
    oracleSeries(oracleCount, "struct_pack(day := day, n := n)") +
      oracleHwFold("[x.day, x.n]", " * 10000", " // 2", "CAST(0 AS BIGINT)", "x[1] % 7")

  /** x_forecast_hw_log's `d`/`s`/`f`: doubles of ln(count). */
  val oracleHwLog: String =
    oracleSeries("ln(CAST(count(*) AS DOUBLE)) AS x", "struct_pack(day := day, x := x)") +
      oracleHwFold("[CAST(x.day AS DOUBLE), x.x]", "", " / 2.0", "CAST(0 AS DOUBLE)",
        "CAST(x[1] AS BIGINT) % 7")
}
