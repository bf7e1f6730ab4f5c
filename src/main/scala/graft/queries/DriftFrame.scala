package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The value-drift family's one shared frame (x_drift_ks / psi / chi2 /
  * cvm / ad / mw / js / emd): per event type, the early- and late-half
  * count at every cent level. Three decisions live here and nowhere
  * else:
  *   - the calendar-midpoint split: a day is early iff
  *     day ≤ (d0 + d1) DIV 2 over the corpus' first and last day
  *     (integer in both engines);
  *   - the cents quantizer floor(value·100) — the declared bucketing
  *     that bounds every downstream partition by distinct value levels,
  *     not by event volume;
  *   - the per-level ECDF projection: running early/late counts in
  *     ascending cents plus the type totals ne/nl, with types whose
  *     early or late half is empty dropped (never a division by zero).
  * Each member adds only its own statistic; the DuckDB side shares the
  * same `d`, `dr`, `s` CTEs through [[oracleCtes]]. The streaming twins'
  * image of the frame is graft.streaming.HistogramDrift. */
object DriftFrame {

  /** DuckDB CTEs `d` (quantized, day-stamped events), `dr` (first and
    * last day) and `s` (event_type, cents, ea, la). A member appends
    * `,` and its own CTEs, then its SELECT. */
  val oracleCtes: String =
    """WITH d AS (SELECT event_type,
                         CAST(floor(value * 100.0) AS BIGINT) AS cents,
                         epoch_ms(ts) // 86400000 AS day FROM events),
            dr AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
            s AS (SELECT event_type, cents,
                    CAST(sum(CASE WHEN day <= (d0 + d1) // 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS ea,
                    CAST(sum(CASE WHEN day > (d0 + d1) // 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS la
                  FROM d CROSS JOIN dr GROUP BY 1, 2)"""

  /** (event_type, cents, ea, la) over the `events` table: one
    * map-side-combined (type, cents) aggregate, with the one-row split
    * bounds broadcast onto the scan. */
  def histogram(events: DataFrame): DataFrame = {
    val d = events
      .select(col("event_type"),
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(ts) DIV 86400000").as("day"))
    val dr = d.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    d.crossJoin(broadcast(dr))
      .withColumn("early", col("day") <= expr("(d0 + d1) DIV 2"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("ea"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("la"))
  }

  /** Per type, ascending cents, every level up to the current one. */
  val upTo: WindowSpec = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  // The totals share upTo's (partition, order) spec with a whole-partition
  // frame, so Spark fuses every frame of a member into ONE Window
  // operator instead of stacking a second partition-only pass.
  private val whole = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Early values at or below the level. */
  def cume: Column = sum(col("ea")).over(upTo).as("cume")

  /** Late values at or below the level. */
  def cuml: Column = sum(col("la")).over(upTo).as("cuml")

  /** One row per (type, level) of the histogram `s`: event_type, the
    * member's `cols`, the type totals ne and nl, then `tail`; types
    * with an empty half dropped. */
  def levels(s: DataFrame, cols: Seq[Column], tail: Column*): DataFrame =
    s.select(((col("event_type") +: cols)
        ++ Seq(sum(col("ea")).over(whole).as("ne"), sum(col("la")).over(whole).as("nl"))
        ++ tail): _*)
      .where(col("ne") > 0 && col("nl") > 0)
}
