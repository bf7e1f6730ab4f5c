package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.multimodal.{MediaPipeline, MediaRow}

/** Live lossy-video trust band — the streaming twin of x_media_mjpeg's
  * |luma err| column (VERDICT r12 #6): the JPEG-quantizer error band the
  * batch query emits per payload becomes a LIVE aggregate maintained as
  * MJPEG containers ARRIVE, published through the same versioned-
  * snapshot mechanics as the sketch twins ([[SnapshotSink]]) so an
  * operator can read "is the lossy path still inside its measured
  * band?" at any moment without a batch rescan.
  *
  * Shape: the REAL per-frame JPEG decode ([[MediaPipeline.decodeFrames]],
  * a stateless narrow batched mapPartitions pass — identical code under
  * readStream) joins the STATIC per-payload expectation table
  * (media_id → exact_luma_bp, the x_media_mjpeg source-byte pass —
  * stream-static join, broadcast, no watermark needed), then one global
  * streaming aggregate folds the per-payload |err| into the band row:
  * payload/frame/decode/bad counts, max and floor-mean |err| bp. The
  * band statistics are defined over CLEANLY decoded payloads only
  * (n_bad = 0): a payload with an undecodable frame has a biased
  * mean-luma (the expectation covers frames the decode skipped), so it
  * is counted in n_bad's accounting, never folded into the error band —
  * the corrupt tail is data, not evidence against the codec.
  *
  * State is ONE row of sums at any volume (the Complete-mode trade is
  * free here — the artifact is structurally a single row); each
  * micro-batch commits a fresh `v=<batchId>` snapshot with the sketch
  * twins' read-grace/replay-skip contract. Band values are
  * deterministic set-functions of the arrived payloads (integer sums
  * and a max — order/batching-invariant), so live ≡ batch over the same
  * rows, the property StreamingMediaSpec pins across batch splits.
  *
  * 100 TB: decode work is per-arrival and embarrassingly parallel; the
  * join side is |monitored payloads| rows (a sampled probe set in
  * production — the expectation requires source bytes, so the monitor
  * rides the ingest sample, not the full firehose); aggregate state is
  * constant. */
object StreamingMjpegMonitor {

  /** Start maintaining the band from `media` — a STREAMING
    * Dataset[MediaRow] of MJPEG frame containers — against the static
    * `expected` frame (media_id, exact_luma_bp), decoding every
    * `stride`-th frame, committing the one-row band table to a
    * versioned snapshot under `outDir` each micro-batch. */
  def start(
      media: Dataset[MediaRow],
      expected: DataFrame,
      stride: Int,
      outDir: String,
      checkpoint: String): StreamingQuery =
    SnapshotSink.start(MediaPipeline.decodeFrames(media, stride).toDF()
      .join(broadcast(expected), "media_id")
      .select(col("media_id"), col("n_frames"), col("n_decoded"),
        col("n_bad"),
        abs(col("mean_luma_bp") - col("exact_luma_bp")).as("luma_err_bp"))
      .groupBy()
      .agg(count(lit(1)).as("n_payloads"),
        sum("n_frames").as("n_frames"),
        sum("n_decoded").as("n_decoded"),
        sum("n_bad").as("n_bad"),
        // band over cleanly decoded payloads only (scaladoc rationale);
        // explicit zero-count guard — ANSI mode throws on DIV by zero
        max(when(col("n_bad") === 0, col("luma_err_bp"))).as("max_err_bp"),
        expr("""CASE WHEN count_if(n_bad = 0) = 0 THEN NULL
                ELSE sum(CASE WHEN n_bad = 0 THEN luma_err_bp END)
                     DIV count_if(n_bad = 0) END""").as("mean_err_bp")), checkpoint, outDir)

  /** The live band's read path: the one-row trust table from the
    * newest COMMITTED snapshot (in-flight writes invisible — the
    * sketch twins' contract). */
  def band(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(SnapshotSink.latestCommitted(spark, outDir))
}
