package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-snapshot table sink for Complete-mode streaming artifacts
  * (the shared mechanics of [[StreamingSketch]] and
  * [[StreamingThetaSketch]]): each micro-batch writes the WHOLE
  * artifact to a fresh `outDir/v=<batchId>` dir, retains the previous
  * committed snapshot, and prunes only strictly-older ones — readers
  * get snapshot isolation with one batch of read grace and no
  * atomic-rename assumption (see [[StreamingSketch]]'s scaladoc for
  * the full contract, incl. the replayed-batch skip-if-committed
  * rule). Correct ONLY for structurally tiny artifacts (KBs of sketch
  * rows): a whole-table rewrite per micro-batch is the trade that
  * buys trivial idempotence. */
object SnapshotSink {

  /** foreachBatch body: commit `batch` as snapshot `batchId` under
    * `outDir`, then prune snapshots older than batchId-1. */
  def commit(batch: DataFrame, outDir: String, batchId: Long): Unit = {
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
