package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Live THETA-sketch maintenance — the streaming twin of
  * x_sketch_intersect (18th twin), completing the live-artifact pair
  * next to [[StreamingSketch]]'s HLL: the per-event_type theta sketch
  * of the user set is kept up to date as events arrive, so audience
  * SET ALGEBRA ("users who did A and B", "did A but never B") is
  * answerable at any moment purely on the sketches — the capability
  * HLL structurally lacks (no intersection), with the raw events
  * scanned exactly once at arrival and never again.
  *
  * Mechanics are [[SnapshotSink]]'s versioned-snapshot Complete-mode
  * sink, shared with the HLL twin: the artifact is |types| rows of KB
  * sketches, a whole-table rewrite per micro-batch is trivially
  * idempotent, readers get the newest committed snapshot with one
  * batch of read grace. [[overlap]] runs the SAME pair set-algebra
  * read path as the batch query (theta_intersection / difference /
  * union over the stored sketch column).
  *
  * Trust: theta sketch state is a deterministic set-function of the
  * input hashes (retained-hash set under a threshold; union of
  * partials ≡ single-pass), so live estimates EQUAL batch-built ones
  * over the same events — and in exact mode (distinct users ≤ nominal
  * entries, the regime every test SF is in) they equal BRUTE FORCE,
  * which is what the spec pins, same as the batch query's.
  */
object StreamingThetaSketch {

  /** Start maintaining the per-type theta sketch table from `events` —
    * streaming (event_type string, user_id long) rows — writing the
    * full artifact (event_type, sk) to a versioned snapshot under
    * `outDir` each micro-batch. */
  def start(
      events: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    SnapshotSink.start(events
      .groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id, 12)").as("sk")), checkpoint, outDir)

  /** The artifact's read path — identical shape to x_sketch_intersect:
    * audience intersection / difference / union estimates for every
    * type pair, computed purely on the NEWEST COMMITTED snapshot's
    * sketches. */
  def overlap(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    val latest = SnapshotSink.latestCommitted(spark, outDir)
    val sk = spark.read.parquet(latest)
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    broadcast(a).join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        expr("CAST(theta_sketch_estimate(theta_intersection(sk_a, sk_b)) AS BIGINT)")
          .as("users_both_est"),
        expr("CAST(theta_sketch_estimate(theta_difference(sk_a, sk_b)) AS BIGINT)")
          .as("users_only_a_est"),
        expr("CAST(theta_sketch_estimate(theta_union(sk_a, sk_b)) AS BIGINT)")
          .as("users_either_est"))
      .orderBy(col("type_a"), col("type_b"))
  }
}
