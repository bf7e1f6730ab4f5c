package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.EmbeddingQuantizer

/** Online cluster assignment — the 20th streaming twin, and the first
  * over a TRAINED model: embeddings arriving on a stream are assigned
  * to the x_kmeans_oracle generation's integer centroids the moment
  * they land (the faiss-style split the ANN probe twin also uses:
  * training stays a batch concern, serving is a narrow stateless map),
  * and the per-cell membership rollup (n_members, Σ member ids) is
  * maintained as live streaming state and snapshotted per micro-batch
  * through [[SnapshotSink]].
  *
  * The trust chain is the quantile twin's, one level stronger: the
  * assignment expression IS the batch query's column (same codegen
  * vec_dot folds, same (cos, −cid) struct-max tie rule — exposed via
  * [[graft.queries.VectorOps.kmeansCidCol]]), and the batch rollup it
  * must equal is itself ORACLE-HASH-MATCHED — so the spec's exact
  * equality pins stream ≡ batch ≡ DuckDB for a trained-model serving
  * path end to end. Rollup counts/id-sums are exact additive
  * set-functions of the inputs: live state EQUALS the batch artifact
  * over the same vectors, across micro-batch splits and a checkpoint
  * restart (spec-pinned).
  *
  * At 100 TB: the model is 8×64 integers baked into the plan (no join,
  * no state lookup); per-cell state is ≤ k rows regardless of stream
  * volume; the snapshot artifact is KBs. Model refresh = restart with
  * the next generation's centroids — the cachedIndex lifecycle's
  * streaming face.
  */
object StreamingKMeansAssign {

  /** Start assigning `embStream` — (vec_id long, embedding
    * array<float>) rows — against `cents` (the trained integer
    * centroid matrix, 1-based cids), writing the live (cid, n_members,
    * sum_ids) rollup to a versioned snapshot under `outDir` each
    * micro-batch. */
  def start(
      embStream: DataFrame,
      cents: Array[Array[Long]],
      outDir: String,
      checkpoint: String): StreamingQuery = {
    graft.GraftFunctions.install(embStream.sparkSession)
    SnapshotSink.start(embStream
      .select(col("vec_id"),
        EmbeddingQuantizer.col
          .as("qd"))
      .withColumn("cid", graft.queries.VectorOps.kmeansCidCol(cents))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids")), checkpoint, outDir)
  }

  /** The artifact's read path: the NEWEST committed snapshot's per-cell
    * rollup, cid-ascending. */
  def assignments(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    spark.read.parquet(SnapshotSink.latestCommitted(spark, outDir))
      .orderBy(col("cid"))
}
