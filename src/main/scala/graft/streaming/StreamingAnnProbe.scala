package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.{ExactAnn, IvfPq}

/** Online ANN serving — the streaming twin of the persisted vector
  * indexes ([[graft.operators.ExactAnn]] / [[graft.operators.IvfPq]]),
  * completing the index family's online story next to
  * StreamingExactDedup (exact digests) and StreamingNearDup (MinHash
  * shingles): embeddings arriving on a stream are probed against the
  * static persisted index micro-batch by micro-batch, so every new
  * crawl vector gets its top-k corpus neighbours the moment it lands —
  * no nightly batch probe.
  *
  * Unlike the dedup twins this needs NO cross-batch operator state: a
  * new vector's neighbours depend only on the (static) index, so each
  * micro-batch runs the SAME bounded batch probe, and exactly-once
  * output comes from the checkpoint plus an IDEMPOTENT sink (each
  * batch overwrites its own batch_id partition — see [[start]]'s
  * replay note). That statelessness
  * is the point — index updates stay a batch concern
  * (saveIndex(append) nightly), serving stays a stateless map, the
  * same split faiss deployments use. The IVF-PQ path releases its
  * per-batch encode checkpoint via [[IvfPq.probeAndConsume]] — a
  * long-running stream would otherwise retain one block per
  * micro-batch.
  *
  * At 100 TB: the exact probe streams the full code/vector table per
  * batch (right while the corpus side is small or recall must be 1.0);
  * the IVF-PQ probe reads only probed cells' ~8-byte code rows via
  * partition pruning — the serving path. Both emit the same
  * (new_id, rk, index_id, *_bp) contract, so swapping is a flag.
  */
object StreamingAnnProbe {

  /** Start probing `embStream` — (vec_id, v array<double>, nrm) rows —
    * against the index at `indexPath`, writing results to `outDir` as
    * parquet partitioned by `batch_id`. `exact = true` probes an
    * [[ExactAnn]] index (emits sim_bp); otherwise an [[IvfPq]] index
    * (emits approx_bp).
    *
    * Replay idempotence: foreachBatch is at-least-once — a crash
    * between the parquet commit and the offset commit re-runs the
    * batch — so each batch DYNAMICALLY OVERWRITES its own batch_id
    * partition instead of blind-appending: the replayed batch replaces
    * its earlier output and downstream readers never see duplicated
    * neighbour lists. The index is resolved ONCE here (quantizer
    * collects, SDC LUT, scan footers), not per micro-batch — a serving
    * stream with 1 s triggers must not pay driver-side index loading
    * as recurring overhead. */
  def start(
      embStream: DataFrame,
      indexPath: String,
      k: Int,
      outDir: String,
      checkpoint: String,
      exact: Boolean = false,
      nProbe: Int = 2): StreamingQuery = {
    val spark = embStream.sparkSession
    graft.GraftFunctions.install(spark)
    val exactIdx = if (exact) Some(spark.read.parquet(indexPath)) else None
    val pqIdx = if (exact) None else Some(IvfPq.loadForServing(spark, indexPath))
    def sink(res: DataFrame, batchId: Long): Unit =
      res.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)
    embStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        (exactIdx, pqIdx) match {
          case (Some(idx), _) =>
            sink(ExactAnn.probeAgainstIndex(batch, idx, k), batchId)
          case (_, Some(srv)) =>
            IvfPq.probeAndConsume(batch, srv, k, nProbe)(sink(_, batchId))
          case _ => ()
        }
      }
      .start()
  }
}
