package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Versioned-snapshot table sink for Complete-mode streaming artifacts
  * (the shared mechanics of the seven snapshot twins, [[StreamingSketch]]
  * and [[StreamingThetaSketch]] among them): each micro-batch writes the
  * WHOLE artifact to a fresh `outDir/v=<batchId>` dir, retains the previous
  * committed snapshot, and prunes only strictly-older ones — readers
  * get snapshot isolation with one batch of read grace and no
  * atomic-rename assumption (see [[StreamingSketch]]'s scaladoc for
  * the full contract, incl. the replayed-batch skip-if-committed
  * rule). Correct ONLY for structurally tiny artifacts (KBs of sketch
  * rows): a whole-table rewrite per micro-batch is the trade that
  * buys trivial idempotence. */
object SnapshotSink {

  /** Start `df` as a Complete-mode streaming query checkpointed under
    * `checkpoint`, committing each micro-batch's whole result as a
    * snapshot under `outDir`. */
  def start(df: DataFrame, checkpoint: String, outDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // new snapshot first, prune after — and only snapshots OLDER
        // than batchId-1: the previous committed snapshot survives one
        // more batch so a reader that resolved it pre-commit finishes
        // its scan on intact files (read grace of one full batch). A
        // replayed batch finding its own committed dir skips the write:
        // overwriting in place would delete files under a reader
        // pinned to that exact path, and Complete-mode state makes the
        // existing snapshot already byte-correct.
        commit(batch, outDir, batchId)
      }
      .start()

  /** foreachBatch body: commit `batch` as snapshot `batchId` under
    * `outDir`, then prune snapshots older than batchId-1. */
  private def commit(batch: DataFrame, outDir: String, batchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val mine = new org.apache.hadoop.fs.Path(s"$outDir/v=$batchId")
    val committed = fs.exists(
      new org.apache.hadoop.fs.Path(mine, "_SUCCESS"))
    if (!committed)
      graft.eventstore.LocalFs.write(batch).mode("overwrite").parquet(mine.toString)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") &&
          n.drop(2).toLongOption.exists(_ < batchId - 1))
        fs.delete(st.getPath, true)
    }
  }

  /** Path of the newest snapshot carrying a _SUCCESS marker, with
    * explicit errors when no micro-batch has committed yet. */
  def latestCommitted(spark: SparkSession, outDir: String): String = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"no committed sketch snapshot yet at $outDir (dir absent — " +
        "has the streaming query produced a micro-batch?)")
    val candidates = fs.listStatus(root).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        n.drop(2).toLongOption.map(_ -> st.getPath.toString)
      else None
    }
    require(candidates.nonEmpty,
      s"no committed sketch snapshot yet at $outDir (no v= dir with " +
        "_SUCCESS — a write may be in flight)")
    candidates.maxBy(_._1)._2
  }
}
