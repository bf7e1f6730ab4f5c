package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Live QUANTILE-sketch maintenance — the streaming twin of
  * x_sketch_quantiles (19th twin), completing the live-artifact family
  * (HLL distinct / theta set-algebra / quantiles): the per-event_type
  * log-linear bucket vector (HdrHistogram layout, pure integer — see
  * the batch query's scaladoc) is kept up to date as events arrive, so
  * "p95 value right now" is answerable at any moment from ≤ ~500
  * bucket rows per type — no raw-event rescan ever.
  *
  * The sketch state is a streaming COUNT per (event_type, bucket) —
  * the most battle-tested stateful aggregate Spark has, KBs per type
  * regardless of event volume. [[SnapshotSink]] versioned snapshots
  * as the other twins. Because bucket counts are an exact additive
  * set-function of the inputs, live estimates are IDENTICAL to the
  * batch artifact's over the same events — exact equality, pinned by
  * the spec across micro-batch splits and a checkpoint restart.
  */
object StreamingQuantileSketch {

  /** Start maintaining the bucket-vector table from `events` —
    * streaming (event_type string, value double) rows — writing the
    * full artifact (event_type, bucket, c) to a versioned snapshot
    * under `outDir` each micro-batch. */
  def start(
      events: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    SnapshotSink.start(events
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .withColumn("bucket", expr(
        """CASE WHEN cents < 32 THEN cents
                ELSE (length(bin(cents)) - 5) * 32
                     + shiftright(cents, length(bin(cents)) - 6) - 32 END"""))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("c")), checkpoint, outDir)

  /** The artifact's read path — same rank arithmetic as the batch
    * query: p50/p95/p99 lower bounds per event_type from the NEWEST
    * COMMITTED snapshot's bucket rows. */
  def quantiles(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = SnapshotSink.latestCommitted(spark, outDir)
    val ranked = spark.read.parquet(latest)
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bucket"))))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
    def lb(b: String) = expr(
      s"""CAST(CASE WHEN $b < 32 THEN $b
           ELSE shiftleft(32 + $b % 32, $b DIV 32 - 1) END AS BIGINT)""")
    ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_buckets"),
        min(when(col("cum") * 100 >= col("n") * 50, col("bucket"))).as("b50"),
        min(when(col("cum") * 100 >= col("n") * 95, col("bucket"))).as("b95"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bucket"))).as("b99"))
      .select(col("event_type"), col("n"), col("n_buckets"),
        lb("b50").as("p50_lb_cents"),
        lb("b95").as("p95_lb_cents"),
        lb("b99").as("p99_lb_cents"))
      .orderBy(col("event_type"))
  }
}
