package graft.eventstore

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, GenericInternalRow, Literal}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Replay = reads over the event log (reference streams.clj:340-405).
  *
  * Cold scan (O1), stream filter (O4), from-timestamp (O5), limit (O6),
  * point lookup (O14), distinct streams (O13), delete-stream (O15).
  * The hot/hot-cold live paths are in graft.streaming.HotCold.
  */
object Replay {

  val AllStreams = "__all__"

  /** Open the log. `__all__` is just the unfiltered log — stream_name is
    * an ordinary (partition) column, exactly SURVEY.md §1.6. */
  def open(spark: SparkSession, logDir: String): DataFrame =
    spark.read.parquet(logDir)

  def typed(spark: SparkSession, logDir: String): Dataset[Event] = {
    import spark.implicits._
    // partitionBy writes stream_name last; restore canonical column order
    open(spark, logDir)
      .select("stream_name", "order_id", "event_time", "service_id",
        "local_id", "schema_version", "payload", "provenance")
      .as[Event]
  }

  /** Bounded cold replay: stream + from-ts + limit, totally ordered by
    * order_id (reference streams.clj:340-366: walks db/lazy-events from
    * `from`, applies `limit`, then closes). The stream filter prunes
    * `stream_name` directories; `from` prunes only what [[since]] says. */
  def cold(
      log: DataFrame,
      stream: String = AllStreams,
      fromMs: Long = 0L,
      limit: Option[Int] = None): DataFrame = {
    val byStream =
      if (stream == AllStreams) log
      else log.where(col("stream_name") === stream)
    val scanned = since(byStream, fromMs).orderBy("order_id")
    limit.fold(scanned)(scanned.limit)
  }

  /** The rows of `log` with `event_time` at or after `fromMs`.
    *
    * `event_time` is written as INT96, which carries no min/max
    * statistics, and the filter is a function of the column, so it skips
    * no file or row group by itself. On a date-bucketed log (an
    * `event_date` partition, `append(byDate = true)`) it adds the bucket
    * bound `event_date >= utc_date(from) - 1`, which skips whole days.
    * A bucket is the event's date in the writer's session time zone,
    * never more than a day before its UTC date for any offset above
    * −24 h, so the one-day margin keeps every row. */
  def since(log: DataFrame, fromMs: Long): DataFrame = {
    val rows = log.where(unix_millis(col("event_time")) >= fromMs)
    if (!log.columns.contains("event_date")) rows
    else rows.where(col("event_date") >=
      lit(java.time.LocalDate.ofEpochDay(Math.floorDiv(fromMs, 86400000L) - 1)))
  }

  /** Point lookup by (stream, order_id) (reference streams.clj:322,
    * `db/fetch`), read on the driver without a Spark job.
    *
    * `log` must be the parquet file relation [[open]] returns; anything
    * else raises an IllegalArgumentException. The stream's files come from
    * the relation's own cached file index under a `stream_name` partition
    * filter, so the listing snapshot, the path escaping and the
    * `event_date` partition values are the ones a scan of `log` would
    * use, and a file appended after [[open]] stays unseen. Each file is
    * read by parquet-mr with Spark's `ParquetReadSupport`, the session's
    * Hadoop conf and SQL keys and the footer's rebase specs, with
    * `order_id = orderId` pushed down to the row-group statistics, the
    * dictionaries, the column index and each record. The matching rows,
    * joined with their partition values, come back as a local relation:
    * the same rows and schema as filtering `log`, and `collect()` launches
    * no job.
    *
    * Cost model: one footer read per file of the stream, done serially on
    * the driver, plus the pages whose statistics admit `orderId`; no job,
    * task or broadcast. A stream compacted by [[compactStream]] is a few
    * files; an uncompacted stream of thousands of append files costs
    * thousands of serial footer reads (SCALING.md). */
  def pointGet(log: DataFrame, stream: String, orderId: Long): DataFrame = {
    val (rel, output) = log.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] => (h, l.output)
        case r => throw new IllegalArgumentException(
          s"pointGet reads the parquet log Replay.open returns, not a ${r.getClass.getSimpleName}")
      }
      case p => throw new IllegalArgumentException(
        s"pointGet reads the parquet log Replay.open returns, not a ${p.nodeName} plan")
    }
    val parts = rel.partitionSchema.fieldNames
    val streamAttr = output.find(a => a.name == "stream_name" && parts.contains(a.name))
      .getOrElse(throw new IllegalArgumentException("pointGet: the log is not partitioned by stream_name"))
    val spark = log.sparkSession
    val sql = spark.sessionState.conf
    val data = StructType(rel.dataSchema.filterNot(f => parts.contains(f.name)))
    val conf = spark.sessionState.newHadoopConfWithOptions(rel.options)
    PointRead.setSqlKeys(conf, sql, data)
    val rebase = new ParquetOptions(rel.options, sql)
    val streamIs = EqualTo(streamAttr,
      Cast(Literal(stream), streamAttr.dataType, Option(sql.sessionLocalTimeZone)))
    val rows = for {
      dir <- rel.location.listFiles(Seq(streamIs), Nil)
      file <- dir.files
      row <- PointRead.matching(file.fileStatus, conf, orderId, rebase)
    } yield new GenericInternalRow(output.map { a =>
      val p = parts.indexOf(a.name)
      if (p >= 0) dir.values.get(p, a.dataType) else row.get(data.fieldIndex(a.name), a.dataType)
    }.toArray): InternalRow
    LocalFrame(spark, output.map(_.newInstance()), rows)
  }

  /** Boot catalog: distinct stream names (reference streams.clj:163-165).
    * With the partitioned layout this is metadata-only at scale. */
  def distinctStreams(log: DataFrame): DataFrame =
    log.select("stream_name").distinct().orderBy("stream_name")

  /** Per-stream totals — the `__streams__` catalog view (O25). */
  def streamsCatalog(log: DataFrame): DataFrame =
    log.groupBy("stream_name")
      .agg(count(lit(1)).as("total_events"),
        min("order_id").as("min_order_id"),
        max("order_id").as("max_order_id"))
      .orderBy("stream_name")

  /** Compact one stream's partition: streaming ingest appends one small
    * file per micro-batch, and at 100 TB a day of 5-second triggers is
    * ~17k files per stream — scan planning and open() costs dominate.
    * Rewrite the partition into files of ~targetRows each (sorted by
    * order_id so min-max stats stay tight for cold-scan pruning), then
    * swap directories. A date-bucketed stream (Ingest.append byDate=true:
    * `event_date=` dirs under the stream) is re-written WITH
    * partitionBy(event_date), preserving the layout — flattening it
    * would leave mixed partition schemes under the log root and break
    * whole-log partition discovery. Returns the new file count.
    *
    * Concurrency contract: SINGLE WRITER, no concurrent readers of this
    * stream during the swap — between the two renames the stream's
    * partition is briefly absent, so a concurrent reader would observe
    * an empty stream (correct reads resume after the swap; no data is
    * ever lost). Run compaction in the ingest's maintenance window, and
    * call [[recoverCompaction]] at open time to heal a crashed swap. */
  def compactStream(
      spark: SparkSession,
      logDir: String,
      stream: String,
      targetRows: Long = 5000000L): Int = {
    val part = new Path(s"$logDir/stream_name=$stream")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, logDir, stream) // heal any crashed prior swap
    require(fs.exists(part), s"no such stream partition: $part")
    val byDate = fs.listStatus(part)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("event_date="))
    val df = spark.read.parquet(part.toString)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    val tmp = new Path(s"$logDir/.compact_tmp_$stream")
    if (byDate)
      // event_date surfaces as a discovered partition column; write it
      // back as a partition level (partitionBy drops it from the data
      // files), range-clustered so a task writes few date dirs
      LocalFs.write(df.repartitionByRange(files, col("event_date"), col("order_id"))
        .sortWithinPartitions("event_date", "order_id"))
        .mode("overwrite").partitionBy("event_date").parquet(tmp.toString)
    else
      LocalFs.write(df.repartitionByRange(files, col("order_id"))
        .sortWithinPartitions("order_id"))
        .mode("overwrite").parquet(tmp.toString)
    swapDir(fs, part, tmp, new Path(s"$logDir/.compact_old_$stream"))
    // recursive: byDate layouts keep their files under event_date= subdirs
    val it = fs.listFiles(part, true)
    var count = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) count += 1
    count
  }

  /** Two renames, never delete-then-rename: a crash between steps leaves
    * either the original or the rewritten copy addressable — the target
    * is recoverable at every point (see recoverCompaction /
    * recoverDeleteEvent, which heal a missing target from `old`). */
  private def swapDir(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, tmp: Path, old: Path): Unit = {
    fs.delete(old, true) // clear leftover from a prior COMPLETED swap
    require(fs.rename(target, old), s"rename $target -> $old failed")
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target) // roll back
      throw new IllegalStateException(s"rename $tmp -> $target failed; rolled back")
    }
    fs.delete(old, true)
  }

  /** Open-time recovery for a compaction swap that crashed between
    * renames: if the stream partition is missing but its .compact_old
    * backup exists, restore the backup (and drop the half-written tmp).
    * If the partition EXISTS alongside the backup, the swap COMPLETED
    * and only its final cleanup was lost — the stale backup is purged
    * (mirroring swapDir's final delete). Left in place it would
    * resurrect the whole stream after a later deleteStream, since
    * recovery runs before existence checks and cannot tell "crashed
    * mid-swap" from "legitimately deleted" once the partition is gone.
    * Idempotent; no-op when the partition is healthy. Returns true if a
    * restore happened. */
  def recoverCompaction(spark: SparkSession, logDir: String, stream: String): Boolean = {
    val part = new Path(s"$logDir/stream_name=$stream")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"$logDir/.compact_old_$stream")
    if (!fs.exists(part) && fs.exists(old)) {
      require(fs.rename(old, part), s"recovery rename $old -> $part failed")
      fs.delete(new Path(s"$logDir/.compact_tmp_$stream"), true)
      true
    } else {
      if (fs.exists(old)) fs.delete(old, true) // completed swap: purge stale backup
      false
    }
  }

  /** Delete a stream (reference api.clj:131-147 loops scan-and-delete
    * until empty; with a stream-partitioned log it is one partition-dir
    * drop — O(1) instead of O(n)). */
  def deleteStream(spark: SparkSession, logDir: String, stream: String): Boolean = {
    val p = new Path(s"$logDir/stream_name=$stream")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Point event delete (reference streams.clj:322-323 `db/delete!`,
    * the per-event step of api.clj:136 `delete-event!`): compact-out
    * rewrite of the NARROWEST partition containing the event, swapped in
    * with the same crash-safe two-rename as compaction. A date-bucketed
    * stream rewrites only the one `event_date=` bucket holding the event
    * — located by parquet row-group min/max pruning on order_id, so at
    * 100 TB the rewrite is bounded by one stream-day, not the stream. A
    * flat stream rewrites its partition (sorted by order_id, same file
    * sizing contract as compactStream). Returns true iff the event
    * existed. Single-writer contract as compactStream; call
    * [[recoverDeleteEvent]] at open time to heal a crashed swap. */
  def deleteEvent(spark: SparkSession, logDir: String, stream: String,
      orderId: Long, targetRows: Long = 5000000L): Boolean = {
    val part = new Path(s"$logDir/stream_name=$stream")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDeleteEvent(spark, logDir, stream)
    recoverCompaction(spark, logDir, stream)
    require(fs.exists(part), s"no such stream partition: $part")
    val byDate = fs.listStatus(part)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("event_date="))
    def rewriteMinus(src: Path, tmp: Path): Long = {
      val df = spark.read.parquet(src.toString)
        .where(col("order_id") =!= orderId)
      val n = df.count()
      val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
      LocalFs.write(df.repartitionByRange(files, col("order_id"))
        .sortWithinPartitions("order_id"))
        .mode("overwrite").parquet(tmp.toString)
      n
    }
    // Deleting the LAST event of a bucket/partition must remove the
    // directory, not swap in an empty parquet dir: empty `event_date=`
    // dirs accumulate, and Replay.open over a log whose only partition
    // is empty fails schema inference. Dir delete is atomic enough
    // here: a crash before it retries the whole deleteEvent (the event
    // still exists); after it, the event is gone — either way no
    // half-state, and recovery clears the orphan tmp.
    if (byDate) {
      // one cheap pruned probe finds the bucket; order_id is unique per
      // stream so at most one date matches
      val hit = spark.read.parquet(part.toString)
        .where(col("order_id") === orderId)
        .select(col("event_date").cast("string")).distinct().collect()
      if (hit.isEmpty) return false
      val date = hit.head.getString(0)
      val bucket = new Path(s"$part/event_date=$date")
      val tmp = new Path(s"$logDir/.delevent_tmp_${stream}_$date")
      if (rewriteMinus(bucket, tmp) == 0L) {
        require(fs.delete(bucket, true), s"delete $bucket failed")
        fs.delete(tmp, true)
      } else
        swapDir(fs, bucket, tmp, new Path(s"$logDir/.delevent_old_${stream}_$date"))
      true
    } else {
      if (spark.read.parquet(part.toString)
          .where(col("order_id") === orderId).limit(1).count() == 0L) return false
      val tmp = new Path(s"$logDir/.delevent_tmp_$stream")
      if (rewriteMinus(part, tmp) == 0L) {
        require(fs.delete(part, true), s"delete $part failed")
        fs.delete(tmp, true)
      } else
        swapDir(fs, part, tmp, new Path(s"$logDir/.delevent_old_$stream"))
      true
    }
  }

  /** Open-time recovery for a point-delete swap that crashed between
    * renames (flat or per-date-bucket): restore any `.delevent_old_*`
    * backup whose target is missing, drop the matching half-written tmp.
    *
    * When the target EXISTS the backup is from a COMPLETED swap whose
    * final cleanup didn't run — it holds a pre-delete copy of the data,
    * INCLUDING the deleted event, so it is deleted here (mirroring
    * swapDir's own final `fs.delete(old)`). Keeping it would both
    * retain recoverable copies of deleted data indefinitely and — worse
    * — resurrect the event later: deleteEvent runs recovery before its
    * existence check, so once the partition/bucket is legitimately gone
    * (deleteStream, last-event delete) a stale backup would be
    * "restored" over the absence.
    *
    * Idempotent; no-op when healthy. Returns true if a restore happened. */
  def recoverDeleteEvent(spark: SparkSession, logDir: String, stream: String): Boolean = {
    val root = new Path(logDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return false
    val part = new Path(s"$logDir/stream_name=$stream")
    val flatOld = s".delevent_old_$stream"
    val bucketPrefix = s".delevent_old_${stream}_"
    var healed = false
    fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      if (nm == flatOld) {
        if (!fs.exists(part)) {
          require(fs.rename(st.getPath, part), s"recovery rename $nm failed")
          healed = true
        } else fs.delete(st.getPath, true) // completed swap: purge the pre-delete copy
        fs.delete(new Path(s"$logDir/.delevent_tmp_$stream"), true)
      } else if (nm.startsWith(bucketPrefix)) {
        val date = nm.substring(bucketPrefix.length)
        val bucket = new Path(s"$part/event_date=$date")
        if (!fs.exists(bucket)) {
          require(fs.rename(st.getPath, bucket), s"recovery rename $nm failed")
          healed = true
        } else fs.delete(st.getPath, true) // completed swap: purge the pre-delete copy
        fs.delete(new Path(s"$logDir/.delevent_tmp_${stream}_$date"), true)
      } else if (nm == s".delevent_tmp_$stream" || nm.startsWith(s".delevent_tmp_${stream}_")) {
        // orphan tmp with no backup (crash inside a last-event delete
        // after the dir drop, or inside rewriteMinus before any swap):
        // tmp is never the live dir — always safe to drop at open
        fs.delete(st.getPath, true)
      }
    }
    healed
  }
}

/** The driver-side parquet read behind [[Replay.pointGet]]. */
private object PointRead {

  /** The SQL keys Spark's parquet scan sets on its Hadoop conf for
    * `ParquetReadSupport` and its schema converter. */
  def setSqlKeys(conf: Configuration, sql: SQLConf, data: StructType): Unit = {
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, data.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The rows of one file whose order_id is `orderId`, copied out of the
    * reader's reused row. */
  def matching(status: FileStatus, conf: Configuration, orderId: Long,
      rebase: ParquetOptions): List[InternalRow] = {
    val reader = new Builder(HadoopInputFile.fromStatus(status, conf),
        new HadoopParquetConfiguration(conf), new FooterRebased(rebase))
      .withFilter(FilterCompat.get(
        FilterApi.eq(FilterApi.longColumn("order_id"), java.lang.Long.valueOf(orderId))))
      .useStatsFilter(true).useDictionaryFilter(true).useColumnIndexFilter(true)
      .useRecordFilter(true)
      .build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map(_.copy()).toList
    finally reader.close()
  }

  /** The `(InputFile, ParquetConfiguration)` builder reads with the given
    * conf; the path builder creates a default `new Configuration()`, whose
    * first lookup searches the whole classpath. */
  private final class Builder(file: InputFile, conf: ParquetConfiguration,
      readSupport: ReadSupport[InternalRow])
      extends ParquetReader.Builder[InternalRow](file, conf) {
    override protected def getReadSupport(): ReadSupport[InternalRow] = readSupport
  }

  /** Spark's `ParquetReadSupport` with the rebase specs that Spark's scan
    * derives from the file's own footer, built once parquet-mr has read
    * that footer, so each file's footer is read once. INT96 values keep
    * their time zone (`convertTz = None`): Spark converts them only in
    * files that parquet-mr did not write, and Spark writes the log. */
  private final class FooterRebased(rebase: ParquetOptions) extends ReadSupport[InternalRow] {
    private var delegate: ParquetReadSupport = _
    override def init(context: InitContext): ReadSupport.ReadContext = {
      // one file: one value per footer key
      val meta = context.getKeyValueMetadata
      val footer = (k: String) => Option(meta.get(k)).map(_.iterator.next).orNull
      delegate = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(footer, rebase.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(footer, rebase.int96RebaseModeInRead))
      delegate.init(context)
    }
    override def prepareForRead(conf: Configuration, meta: java.util.Map[String, String],
        schema: MessageType, context: ReadSupport.ReadContext): RecordMaterializer[InternalRow] =
      delegate.prepareForRead(conf, meta, schema, context)
  }
}
