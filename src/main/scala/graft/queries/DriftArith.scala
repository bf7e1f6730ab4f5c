package graft.queries

/** The two-sample drift family's EXACT wide-integer spellings
  * (x_drift_ks / x_drift_cvm / x_drift_ad / x_drift_emd / x_drift_mw),
  * factored so the queries and the overflow-straddle spec pins share
  * ONE operand tree (r17 verdict task 1: the family's Long-arithmetic
  * envelope must be loud or exact).
  *
  * Spelling contract, mirrored verbatim on the DuckDB oracle side as
  * HUGEINT casts: every ECDF cross-multiply runs in DECIMAL(38,0) —
  * cumE·nl ≤ ne·nl ≤ (2⁶³−1)² ≈ 8.5·10³⁷ < 10³⁸, so the cross terms
  * are EXACT for every possible BIGINT count, with no envelope at all
  * (the old spelling wrapped/raised past ne·nl ≈ 9.2·10¹⁸). The one
  * residual boundary is the terminal ×10⁴ bp scaling: mx·10⁴ exceeds
  * DECIMAL(38,0) once mx ≥ 10³⁴, i.e. ne·nl ≥ 10³⁴ ≈ (10¹⁷)² —
  * per-type pooled rows ~2·10¹⁷, five orders beyond a 100 TB corpus
  * (~10¹² rows). At THAT boundary both engines now raise loudly
  * instead of wrapping: Spark runs ANSI mode (decimal overflow →
  * SparkArithmeticException; the sessions pin spark.sql.ansi.enabled
  * explicitly) and DuckDB raises natively on HUGEINT overflow
  * (OutOfRangeException) — never a silently wrong number, the task-1
  * "loud or exact" contract with "exact" holding everywhere a row
  * count can physically reach.
  *
  * The streaming twins (graft.streaming.HistogramDrift: ks, cvm, ad,
  * emd, mw) compute the same operand trees in JVM scalar code, where
  * Long arithmetic wraps SILENTLY regardless of ANSI — they carry the
  * same widening as BigInt on the cross terms and scaling (exact at any count; the
  * walk runs once per (type, micro-batch) over quantizer-bounded
  * levels, so the boxing cost is off the per-arrival hot path). */
object DriftArith {

  /** cumE·nl − cumL·ne in DECIMAL(38,0) — exact for all BIGINT
    * inputs (|result| ≤ ne·nl ≤ 8.5·10³⁷ < 10³⁸). */
  def crossTermSql(cume: String, nl: String, cuml: String, ne: String): String =
    s"CAST($cume AS DECIMAL(38,0)) * $nl - CAST($cuml AS DECIMAL(38,0)) * $ne"

  /** |cumE·nl − cumL·ne| — the KS/EMD magnitude form. */
  def absCrossTermSql(cume: String, nl: String, cuml: String, ne: String): String =
    s"abs(${crossTermSql(cume, nl, cuml, ne)})"

  /** mx·10⁴ DIV (ne·nl) as BIGINT — the terminal bp scaling. Exact
    * while mx < 10³⁴ (ne·nl < 10³⁴ ⇒ pooled per-type rows ≲ 2·10¹⁷);
    * raises (ANSI decimal overflow) beyond, never wraps. */
  def scaleBpSql(mx: String, ne: String, nl: String): String =
    s"CAST($mx * 10000 DIV (CAST($ne AS DECIMAL(38,0)) * $nl) AS BIGINT)"

  /** W₁'s exact floor-division decomposition
    * (tot DIV d)·10⁴ + ((tot MOD d)·10⁴) DIV d with d = ne·nl —
    * algebraically equal to tot·10⁴ DIV d but keeping the scaled
    * factor ≤ d·10⁴; exact while ne·nl < 10³⁴, raises beyond. */
  def emdBpSql(tot: String, ne: String, nl: String): String = {
    val d = s"(CAST($ne AS DECIMAL(38,0)) * $nl)"
    s"CAST(($tot DIV $d) * 10000 + (($tot % $d) * 10000) DIV $d AS BIGINT)"
  }

  /** MW: one level's doubled rank-sum contribution
    * ea·(2·cb + ea + la + 1), accumulated in DECIMAL(38,0) so the
    * type-level sum r2 ≤ 2n² + 2n never wraps (exact to n ≈ 7·10¹⁸
    * per type — any BIGINT-countable corpus). */
  def mwR2TermSql(ea: String, cb: String, la: String): String =
    s"CAST($ea AS DECIMAL(38,0)) * (2 * $cb + $ea + $la + 1)"

  /** MW: u2 = 2R − ne·(ne+1) from the doubled rank sum r2, output as
    * BIGINT (ANSI cast raises if u2 ≥ 2⁶³ — u2 ≤ 2·ne·nl, so that is
    * per-type rows ≳ 3·10⁹ mixed; internal arithmetic exact far
    * beyond, the output WIDTH is what binds). */
  def mwU2Sql(r2: String, ne: String): String =
    s"CAST($r2 - CAST($ne AS DECIMAL(38,0)) * ($ne + 1) AS BIGINT)"

  /** MW: cles_bp = u2·10⁴ DIV (2·ne·nl) — exact while ne·nl < 5·10³³,
    * raises beyond. */
  def mwClesBpSql(r2: String, ne: String, nl: String): String =
    s"CAST(($r2 - CAST($ne AS DECIMAL(38,0)) * ($ne + 1)) * 10000 " +
      s"DIV (2 * CAST($ne AS DECIMAL(38,0)) * $nl) AS BIGINT)"
}
