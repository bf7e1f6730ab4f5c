package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Live mergeable-sketch maintenance — the streaming twin of
  * x_sketch_union: the per-(day, event_type) HLL sketch table is kept
  * up to date as events ARRIVE, so "distinct users, any window" is
  * answerable at any moment by unioning the current artifact rows —
  * no nightly batch job, no rescan, and the same downstream read path
  * as the batch-built artifact (hll_union_agg over the parquet table).
  *
  * Mechanics: a streaming aggregation carries one HLL buffer per
  * (day, type) key in the state store (Datasketches partial aggregates
  * work as streaming state like any typed buffer — KBs per key,
  * cardinality-independent), and each micro-batch writes the artifact
  * table in Complete mode as a fresh VERSIONED SNAPSHOT dir
  * (`outDir/v=<batchId>`), retaining the PREVIOUS committed snapshot
  * and pruning only strictly older ones after the new one commits;
  * [[estimates]] reads the newest snapshot carrying a _SUCCESS marker.
  * That gives readers snapshot isolation with no atomic-rename
  * assumption and ONE BATCH of read grace: estimates() returns a lazy
  * frame pinned to a concrete v= path, and a reader that resolved
  * snapshot N and runs its action while batch N+1 commits still scans
  * intact files (N survives until N+2 commits — a reader that holds a
  * frame across ≥2 micro-batch commits is out of contract and gets a
  * clean FileNotFoundException). A crash mid-write leaves the previous
  * snapshot live, and a REPLAYED batch whose own v= dir already
  * carries _SUCCESS skips the write entirely (Complete mode re-emits
  * the same state, so the committed snapshot is already correct) —
  * never overwriting a dir a reader may have resolved.
  * Complete-over-foreachBatch is the right trade HERE because the
  * artifact is structurally tiny — |days|×|types| rows of KB sketches.
  * At 100 TB the artifact is still tiny (days × types, not events),
  * but if the key space ever grew unbounded the documented migration
  * is a watermark + update-mode sink that overwrites only changed day
  * partitions.
  *
  * Estimates from the live table are IDENTICAL to batch-built sketches
  * over the same events — HLL register state is a deterministic
  * set-function of the inputs (order/batching-invariant), which is the
  * same mergeability property the batch spec pins; the streaming spec
  * re-pins it across micro-batch splits and restarts.
  */
object StreamingSketch {

  /** Start maintaining the sketch table from `events` — streaming
    * (ts timestamp, event_type string, user_id long) rows — writing
    * the full artifact (day, event_type, sk, n_events) to a versioned
    * snapshot under `outDir` each micro-batch. */
  def start(
      events: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    SnapshotSink.start(events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
        count(lit(1)).as("n_events")), checkpoint, outDir)

  /** The artifact's read path (shared with the batch-built table):
    * distinct-user estimate per event_type across all days in the
    * NEWEST COMMITTED snapshot (largest v= dir with a _SUCCESS
    * marker — in-flight writes are invisible). */
  def estimates(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    val latest = SnapshotSink.latestCommitted(spark, outDir)
    spark.read.parquet(latest)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))")
        .as("n_users_est"))
      .orderBy(col("event_type"))
  }
}
