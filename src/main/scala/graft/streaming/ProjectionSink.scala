package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.eventstore.{Event, Fold, LocalFs, OrderedSqlFold, ProjRow, SqlFold}

/** The queryable projection-value surface (reference O10: `projection` /
  * `projection-value` point reads of the materialized state,
  * api.clj:51-64): a live stateful projection writes its updated
  * descriptors per micro-batch into a parquet descriptor table
  * (one snapshot dir per batch, latest wins), and point reads go
  * through [[latest]] / [[value]].
  *
  * foreachBatch (not a plain file sink) because update-mode stateful
  * output can't append to files; the batch writer is also where a real
  * deployment would upsert into a key-value store instead.
  */
object ProjectionSink {

  /** Start the live projection, maintaining `tableDir` as the current
    * descriptor snapshot (overwritten per batch with the merged latest
    * values). `updatesDir`, when set, additionally APPENDS each batch's
    * updated descriptors (tagged with batch_id) — the delta channel
    * [[subscribe]] tails. */
  def start[S](
      events: Dataset[Event],
      fold: Fold[S],
      tableDir: String,
      checkpointDir: String,
      updatesDir: Option[String] = None)(
      implicit stateEnc: Encoder[StatefulProjection.ProjState[S]],
      rowEnc: Encoder[ProjRow[S]]): StreamingQuery = {
    StatefulProjection.run(events, fold)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[ProjRow[S]], batchId: Long) =>
        writeBatch(batch.toDF(), fold.name, tableDir, batchId, updatesDir)
      }
      .start()
  }

  /** A runtime-registered SQL fold on the LIVE path: the same agg
    * expression [[graft.eventstore.Projections.runSql]] runs in batch
    * drops into a streaming `groupBy(stream_name).agg(...)` in update
    * mode, maintaining the identical descriptor snapshot/updates layout
    * as [[start]]. State is one agg buffer per stream (bounded by the
    * stream catalog, not history); the checkpoint makes restarts resume,
    * so a re-registered fold continues rather than re-folding. */
  def startSql(
      events: DataFrame,
      fold: SqlFold,
      tableDir: String,
      checkpointDir: String,
      updatesDir: Option[String] = None): StreamingQuery = {
    events
      .groupBy(col("stream_name"))
      .agg(expr(fold.aggSql).as("value"), count(lit(1)).as("processed"))
      .select(lit(fold.name).as("projection_name"), col("stream_name"),
        col("value"), col("processed"), lit("running").as("status"),
        lit(null).cast("string").as("last_error"))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, fold.name, tableDir, batchId, updatesDir)
      }
      .start()
  }

  /** Live ORDER-SENSITIVE runtime fold: each micro-batch's events are
    * collected per stream into an order_id-sorted struct array and
    * folded ON TOP of the prior snapshot value —
    * `aggregate(evs, coalesce(prior_value, init), (acc, x) -> step)` —
    * so state lives in the descriptor table itself, not the state
    * store. Cross-batch ordering relies on ingest's monotone stamping
    * (a stream's later events arrive in later batches), the same
    * contract the compiled live path assumes.
    *
    * Retry safety: foreachBatch is at-least-once, so the prior state is
    * read from the newest snapshot version whose batch id is STRICTLY
    * BELOW the current one — a retried batch re-folds from the
    * pre-batch version instead of double-applying (the version pruner's
    * one-version grace window is exactly the retry window). */
  def startOrderedSql(
      events: DataFrame,
      fold: OrderedSqlFold,
      tableDir: String,
      checkpointDir: String,
      updatesDir: Option[String] = None): StreamingQuery = {
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val evs = batch
          .groupBy(col("stream_name"))
          .agg(
            array_sort(collect_list(struct(
              col("order_id"), col("event_time"), col("service_id"),
              col("local_id"), col("schema_version"), col("payload")))).as("evs"),
            count(lit(1)).as("batch_n"))
        val descr = priorVersionBefore(spark, tableDir, batchId) match {
          case None =>
            evs.select(lit(fold.name).as("projection_name"), col("stream_name"),
              expr(s"aggregate(evs, ${fold.initCanonical}, " +
                s"(acc, x) -> ${fold.stepCanonical})").as("value"),
              col("batch_n").as("processed"), lit("running").as("status"),
              lit(null).cast("string").as("last_error"))
          case Some(prevDir) =>
            val prior = spark.read.parquet(prevDir)
              .select(col("stream_name"), col("value").as("prior_value"),
                col("processed").as("prior_n"))
            evs.join(prior, Seq("stream_name"), "left")
              .select(lit(fold.name).as("projection_name"), col("stream_name"),
                expr(s"aggregate(evs, coalesce(prior_value, ${fold.initCanonical}), " +
                  s"(acc, x) -> ${fold.stepCanonical})").as("value"),
                (coalesce(col("prior_n"), lit(0L)) + col("batch_n")).as("processed"),
                lit("running").as("status"),
                lit(null).cast("string").as("last_error"))
        }
        writeBatch(descr, fold.name, tableDir, batchId, updatesDir)
      }
      .start()
  }

  /** The newest snapshot version written by a batch id strictly below
    * `batchId` (None before the first batch commits). */
  private def priorVersionBefore(
      spark: SparkSession, tableDir: String, batchId: Long): Option[String] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    versionIds(fs, base)
      .filter(_._1 < batchId)
      .sortBy(_._1)
      .lastOption
      .map(t => s"$tableDir/${t._2}")
  }

  /** (batch id, dir name) of every snapshot version under `base`. */
  private def versionIds(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Array[(Long, String)] = {
    if (!fs.exists(base)) return Array.empty
    fs.listStatus(base).map(_.getPath.getName)
      .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(n => (n.drop(1).toLong, n))
  }

  /** Per-batch descriptor write: merge into the versioned snapshot (point
    * reads) and append to the delta channel (subscriptions). foreachBatch
    * is at-least-once on retry — the snapshot merge is idempotent
    * (latest-per-stream) and [[subscribe]]'s max_by(batch_id) conflation
    * makes duplicate appends invisible to latest-value consumers. */
  private def writeBatch(
      next: DataFrame,
      projection: String,
      tableDir: String,
      batchId: Long,
      updatesDir: Option[String]): Unit = {
    val spark = next.sparkSession
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Checkpoint/table mismatch guard: a fresh checkpoint restarts batch
    // ids at 0; against a tableDir with existing (higher-numbered)
    // versions, state would silently re-initialize (priorVersionBefore(0)
    // = None) and the name-sorted pruner would then delete the
    // just-written v0 while _LATEST points at it — a dangling pointer.
    // Fail fast instead. Strictly `>` so a RETRY of the newest batch
    // (same id, version dir possibly present from the failed attempt)
    // still goes through — that overwrite is the documented retry path.
    val newer = versionIds(fs, base).filter(_._1 > batchId).map(_._2).sorted
    if (newer.nonEmpty) throw new IllegalStateException(
      s"checkpoint/table mismatch for projection '$projection': " +
        s"$tableDir already holds snapshot version(s) ${newer.mkString(", ")} " +
        s"from batches NEWER than the current batch $batchId. The streaming " +
        "checkpoint was reset (or belongs to a different run) while the " +
        "descriptor table was kept. Resume with the original " +
        "checkpointLocation, or point the query at a fresh tableDir.")
    // each projection owns a subdir of the updates channel: concurrent
    // live projections never contend on one output-commit _temporary
    // dir, and a subscriber's listing prunes to its projection
    updatesDir.foreach { d =>
      LocalFs.write(next.withColumn("batch_id", lit(batchId)).coalesce(1))
        .mode(SaveMode.Append).parquet(s"$d/$projection")
    }
    // versioned snapshots + a pointer file: readers resolve _LATEST
    // and read an immutable version dir, so there is NO swap window
    // — the previous version stays intact until after the pointer
    // moves. (An in-place directory swap raced readers between
    // file-listing and file-reading.)
    val merged = (currentVersion(spark, tableDir) match {
      case None => next
      case Some(prevDir) =>
        val prev = spark.read.parquet(prevDir)
        // latest descriptor per stream wins (this batch > previous);
        // the using-join moves its key column first, so re-select the
        // canonical descriptor order afterwards
        prev.join(next.select("stream_name"), Seq("stream_name"), "left_anti")
          .unionByName(next)
    }).select(next.columns.map(col): _*)
    val vDir = new org.apache.hadoop.fs.Path(base, f"v$batchId%020d")
    LocalFs.write(merged.coalesce(1)).mode(SaveMode.Overwrite).parquet(vDir.toString)
    // atomically move the pointer: write tmp, then rename OVER the
    // existing _LATEST in one operation (Options.Rename.OVERWRITE via
    // FileContext). Delete-then-rename would leave a window where the
    // pointer does not exist and readers see an empty table.
    val ptrTmp = new org.apache.hadoop.fs.Path(base, s"._LATEST.$batchId")
    val out = fs.create(ptrTmp, true)
    out.write(vDir.getName.getBytes("UTF-8")); out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(base).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fs.makeQualified(ptrTmp), fs.makeQualified(
      new org.apache.hadoop.fs.Path(base, "_LATEST")),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // prune all but the two newest versions (current + one grace)
    val versions = fs.listStatus(base).map(_.getPath)
      .filter(_.getName.startsWith("v")).sortBy(_.getName)
    versions.dropRight(2).foreach(fs.delete(_, true))
    ()
  }

  /** Subscribe to ONE projection's live values — the reference's
    * `projection/<name>` channel (streams.clj:182-200, muon.clj:91-103):
    * a latest-value-conflated stream of that projection's descriptors,
    * blind to every other projection sharing the updates channel.
    *
    * Shape: tail the delta channel, filter to the projection, conflate
    * to the latest descriptor per stream (max_by over batch_id — update
    * mode emits a row only when a stream's value actually changed).
    * Conflation state is one descriptor per stream — catalog-sized.
    * Run with OutputMode.Update. */
  def subscribe(
      spark: SparkSession,
      updatesDir: String,
      projection: String,
      schema: StructType): DataFrame = {
    val upd = spark.readStream.schema(schema).parquet(s"$updatesDir/$projection")
      .where(col("projection_name") === projection) // belt to the subdir's braces
    val all = struct(upd.columns.map(col): _*)
    upd.groupBy(col("stream_name").as("sn"))
      .agg(max_by(all, col("batch_id")).as("d"))
      .select(col("d.*"))
  }

  /** Schema-inferring convenience: valid once the projection's first
    * update batch has landed (streaming file sources need a declared
    * schema). */
  def subscribe(spark: SparkSession, updatesDir: String, projection: String): DataFrame =
    subscribe(spark, updatesDir, projection,
      spark.read.parquet(s"$updatesDir/$projection").schema)

  /** Resolve the current snapshot dir via the pointer; None before the
    * first batch commits. */
  private def currentVersion(spark: SparkSession, tableDir: String): Option[String] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(base, "_LATEST")
    if (!fs.exists(ptr)) None
    else {
      val len = fs.getFileStatus(ptr).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(ptr)
      in.readFully(0, buf)
      in.close()
      Some(new org.apache.hadoop.fs.Path(base, new String(buf, "UTF-8").trim).toString)
    }
  }

  /** One narrow retry: a reader that resolved the pointer just before a
    * prune can lose its (grace-period) version dir; re-resolving gets
    * the fresh snapshot. Only the file-missing case retries — real
    * errors surface immediately. The snapshot is MATERIALIZED inside the
    * guarded region (the descriptor table is catalog-sized — one row per
    * stream) and returned as a local frame, so the caller's later
    * orderBy/collect cannot re-scan a version dir the pruner has since
    * removed. A missing pointer is not retried: with the overwrite
    * rename above there is no pointer-swap window, so None genuinely
    * means "no batch committed yet". */
  private def readLatest(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    def attempt(): Option[DataFrame] =
      currentVersion(spark, tableDir).map { dir =>
        val df = spark.read.parquet(dir)
        val rows = df.collect() // force the read inside the guarded region
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** All current descriptors (the `projection` API read); empty frame
    * before the first batch commits. */
  def latest(spark: SparkSession, tableDir: String): DataFrame =
    readLatest(spark, tableDir)
      .map(_.orderBy("stream_name"))
      .getOrElse(spark.emptyDataFrame)

  /** Point read of one stream's materialized value (`projection-value`). */
  def value(spark: SparkSession, tableDir: String, stream: String): Option[Any] =
    readLatest(spark, tableDir).flatMap { df =>
      df.where(col("stream_name") === stream)
        .select("value").collect().headOption.map(_.get(0))
    }
}
