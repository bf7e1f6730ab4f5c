package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.EmbeddingQuantizer

/** Live coreset cover-radius monitor — the 23rd streaming twin and the
  * THIRD over a trained model ([[StreamingKMeansAssign]] /
  * [[StreamingPcaProject]]'s sibling for the k-center family):
  * embeddings arriving on a stream are scored against the
  * x_kcenter_coreset generation's selected points the moment they land
  * (selection stays a batch concern — the faiss-style split), and the
  * live rollup (n_vectors, cover_d2 = max over arrivals of the min
  * exact integer L2² to the coreset) is maintained as ONE row of
  * streaming state and snapshotted per micro-batch through
  * [[SnapshotSink]]. This is the monitoring read a coreset deployment
  * actually watches: "has the stream drifted outside the selected
  * set's coverage radius" — a rising cover_d2 is the retrain signal.
  *
  * Trust chain: the distance expression IS the batch query's own
  * cover column (VectorOps.kcenterCoverExpr — the literally-same
  * codegen expression), and the batch cover_d2 is itself
  * ORACLE-HASH-MATCHED, so the spec's exact equality pins
  * stream ≡ batch ≡ DuckDB for a third trained-model serving path,
  * across micro-batch splits and a checkpoint restart. max and count
  * are order-free set-functions of the arrivals (exact integers —
  * every distance is inside the x_pq_oracle integer envelope), so
  * arrival order and batch boundaries cannot move the result.
  *
  * At 100 TB: the model is ≤ 8×64 integers baked into the plan (no
  * join, no state lookup); state is ONE row (a count and a max) at any
  * volume; the snapshot artifact is bytes. Model refresh = restart
  * with the next generation's coreset — the cachedLocal lifecycle's
  * streaming face. */
object StreamingKCenterCover {

  /** Start monitoring `embStream` — (vec_id long, embedding
    * array<float>) rows — against the selected coreset points `sel`
    * (quantized integer vectors), writing the live (n_vectors,
    * cover_d2) rollup to a versioned snapshot under `outDir` each
    * micro-batch. */
  def start(
      embStream: DataFrame,
      sel: Seq[Array[Long]],
      outDir: String,
      checkpoint: String): StreamingQuery = {
    graft.GraftFunctions.install(embStream.sparkSession)
    SnapshotSink.start(embStream
      .select(
        EmbeddingQuantizer.col
          .as("qd"))
      .select(expr(graft.queries.VectorOps.kcenterCoverExpr(sel))
        .cast("long").as("d2"))
      .groupBy()
      // coalesce (ADVICE r14): Complete-mode max over ZERO arrivals is
      // NULL — an empty first micro-batch would commit a snapshot whose
      // cover_d2 NPEs cover()'s getLong and compares as NULL against
      // the batch query. An empty arrival set has cover radius 0 by
      // definition (sup over the empty set of nonnegative distances),
      // which is also what the batch query reports on an empty corpus
      // slice — so 0 is the semantically-correct served value, not a
      // sentinel.
      .agg(count(lit(1)).as("n_vectors"),
        coalesce(max(col("d2")), lit(0L)).as("cover_d2")), checkpoint, outDir)
  }

  /** The artifact's read path: the (n_vectors, cover_d2) row from the
    * NEWEST committed snapshot — cover_d2 is directly comparable to
    * the batch x_kcenter_coreset query's cover_d2 column. */
  def cover(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    spark.read.parquet(SnapshotSink.latestCommitted(spark, outDir))
      .select(col("n_vectors"), col("cover_d2"))
}
