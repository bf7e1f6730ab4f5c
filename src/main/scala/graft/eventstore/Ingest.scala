package graft.eventstore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event ingest: validate → stamp → append (reference streams.clj:290-308).
  *
  * Stamping semantics vs the reference: photon stamps each event with the
  * server wall-clock ms and `order_id = 1000*ms + counter(0..999)` — a hard
  * 1000 events/ms ceiling with key collisions beyond it (streams.clj:
  * 298-301). Here a whole micro-batch is stamped at its ingest time and the
  * in-batch sequence OVERFLOWS into the next millisecond instead of
  * colliding (`ms += seq/1000`), a documented upgrade (SURVEY.md §4.4).
  * The batch-local sequence comes from a deterministic total sort of the
  * batch, so re-stamping the same batch yields identical order_ids.
  *
  * Durability ordering is also the upgraded store-THEN-publish (the
  * reference publishes to hot subscribers before persisting,
  * streams.clj:292,305-307 — its own TODO flags this).
  */
object Ingest {

  val OrderPerMs = 1000L

  private val required =
    Seq("stream_name", "service_id", "local_id", "schema_version", "payload")

  /** Split a raw batch into (valid, invalid) on the EventTemplate-required
    * fields (reference api.clj:35-36: invalid events are rejected at the
    * API edge, not stored). */
  def validate(raw: DataFrame): (DataFrame, DataFrame) = {
    val missing = required.filterNot(raw.columns.contains)
    require(missing.isEmpty, s"raw events missing required columns: $missing")
    val ok = required.map(col(_).isNotNull).reduce(_ && _)
    (raw.where(ok), raw.where(!ok))
  }

  /** Stamp `event_time` + `order_id` onto a validated batch.
    *
    * The global row_number is a single-partition window over ONE
    * micro-batch (not the log); at cluster scale ingest batches are
    * bounded by the trigger interval, so this stays small. A fully
    * shuffle-free alternative (partition_id-prefixed sequence) would
    * break the reference's dense `1000*ms + seq` encoding.
    *
    * `orderCols` defines the in-batch sequence; the default includes
    * `payload` as the final tiebreaker so the sort is total (two events
    * sharing the identity columns but differing in payload must stamp
    * deterministically). Callers that know the original order (e.g.
    * import re-stamping) pass their own ordering column.
    */
  def stamp(
      raw: DataFrame,
      ingestTimeMs: Long,
      orderCols: Seq[String] =
        Seq("stream_name", "service_id", "local_id", "payload")): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
    raw
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .withColumn("event_time_ms", lit(ingestTimeMs) + expr("seq DIV 1000"))
      .withColumn("event_time", timestamp_millis(col("event_time_ms")))
      .withColumn("order_id", col("event_time_ms") * OrderPerMs + col("seq") % OrderPerMs)
      .drop("seq", "event_time_ms")
  }

  /** Shuffle-free stamping for high-rate ingest: per-partition sequence
    * ranges instead of the default's single-partition global sort.
    *
    * Encoding: `order_id = ingestTimeMs * 2^20 + (partition_id *
    * capacity + local_rownum)` — each input partition owns a disjoint
    * range of the 2^20 per-batch sequence space, so stamping is one
    * narrow projection over the existing partitioning (ZERO exchanges;
    * IngestReplaySpec pins the plan). Documented deviations from the
    * reference's dense `1000*ms + seq` (SURVEY.md §4.4 ceiling upgrade):
    * order_ids are sparse (unfilled range gaps), cross-partition order
    * within one batch is partition order rather than arrival order, and
    * the `order_id DIV 1000 = event_time_ms` relation becomes
    * `DIV 2^20`. Within a partition order_ids stay monotone; across
    * batches they stay monotone in ingest time; total replay order is
    * still a total order. A log must use ONE stamping scheme throughout
    * — don't mix stamp() and stampPartitioned() in the same log.
    *
    * Determinism: local_rownum comes from the input's partition layout
    * (monotonically_increasing_id), so re-stamping the SAME source (same
    * files, same partitioning — the import/replay case) yields identical
    * order_ids. Overflowing a partition's `capacity` (or the 2^20 batch
    * space) raises rather than colliding.
    */
  def stampPartitioned(
      raw: DataFrame,
      ingestTimeMs: Long,
      capacityPerPartition: Int = 1 << 14): DataFrame = {
    val seqSpace = 1L << 20
    val mid = monotonically_increasing_id() // (partition_id << 33) | local_rownum
    val pid = shiftrightunsigned(mid, 33)
    val rownum = mid.bitwiseAND(lit((1L << 33) - 1))
    val seq = pid * capacityPerPartition + rownum
    raw
      .withColumn("seq",
        when(rownum < capacityPerPartition && seq < seqSpace, seq)
          .otherwise(raise_error(concat(lit("stampPartitioned sequence overflow: "),
            pid, lit("*"), lit(capacityPerPartition), lit("+"), rownum))))
      .withColumn("event_time", timestamp_millis(lit(ingestTimeMs)))
      .withColumn("order_id", lit(ingestTimeMs) * seqSpace + col("seq"))
      .drop("seq")
  }

  /** Append a stamped batch to the log, partitioned by stream so stream
    * filters prune at the file level (the columnar analogue of the
    * reference's per-stream `db/lazy-events` pushdown, streams.clj:325-327).
    *
    * `byDate = true` adds an `event_date` partition level below the
    * stream — the 100 TB layout (SCALING.md): one stream's years of
    * history aren't a single giant directory, and `from`-bounded cold
    * scans prune whole days before reading a footer.
    *
    * `hotDir` dual-writes the batch to a small rolling HOT TOPIC dir —
    * the reference's publish-to-live-subscribers + persist fan-out
    * (streams.clj:305-307), minus its publish-before-store wrinkle: the
    * log write commits FIRST, so a hot subscriber can never observe an
    * event that isn't durable. Hot subscriptions (HotCold.hot) tail the
    * topic instead of the log, so their cost is the topic's retention
    * window ([[pruneHotTopic]]), not the log history.
    *
    * Crash semantics of the dual write: hot delivery is AT-MOST-ONCE
    * across ingest crashes — a crash after the log commit but before the
    * topic write leaves a durable event that hot subscribers never see
    * (the converse cannot happen: nothing reaches the topic before the
    * log). The log stays the source of truth; run [[reconcileHotTopic]]
    * from the ingest maintenance loop to re-publish any such gap within
    * the retention window, or have subscribers needing completeness do a
    * hot-cold read (HotCold.hotCold) instead of tailing the topic alone.
    */
  def append(
      stamped: DataFrame,
      logDir: String,
      byDate: Boolean = false,
      hotDir: Option[String] = None): Unit = {
    // the stamping plan contains a sort; cache it so a dual-write stamps
    // once (and both sinks see identical order_ids)
    hotDir.foreach(_ => stamped.persist())
    if (byDate)
      LocalFs.write(stamped.withColumn("event_date", to_date(col("event_time"))))
        .mode("append").partitionBy("stream_name", "event_date").parquet(logDir)
    else
      LocalFs.write(stamped).mode("append").partitionBy("stream_name").parquet(logDir)
    hotDir.foreach { d =>
      LocalFs.write(stamped).mode("append").parquet(d) // unpartitioned: topic is small
      stamped.unpersist()
    }
  }

  /** Drop hot-topic files older than `retainMs` (by modification time).
    * Run from the ingest maintenance loop. Already-delivered files may
    * be deleted freely (subscriber checkpoints track them by path); the
    * retention window must exceed the slowest subscriber's catch-up lag
    * plus the event_time filter's subscribe race window. */
  def pruneHotTopic(spark: SparkSession, hotDir: String, retainMs: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(hotDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val cutoff = System.currentTimeMillis() - retainMs
    val old = fs.listStatus(p).filter(s => s.isFile && s.getModificationTime < cutoff)
    old.foreach(s => fs.delete(s.getPath, false))
    old.length
  }

  /** Re-publish log events missing from the hot topic (the at-most-once
    * gap [[append]] documents: a crash between the log commit and the
    * topic write). Window-bounded: only log events with `event_time >=
    * sinceMs` are considered — pass the topic retention cutoff. On a
    * byDate log the scan skips the day buckets before it
    * ([[Replay.since]]); a flat log is read whole. Anti-join on order_id (unique) makes
    * the operation idempotent; run it from the same single-writer
    * maintenance loop as [[pruneHotTopic]] so it never races an ingest.
    * Returns the number of re-published events. */
  def reconcileHotTopic(
      spark: SparkSession,
      logDir: String,
      hotDir: String,
      sinceMs: Long): Long = {
    val hotPath = new org.apache.hadoop.fs.Path(hotDir)
    val fs = hotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recent = Replay.since(spark.read.parquet(logDir), sinceMs)
    val missing = (if (fs.exists(hotPath) && fs.listStatus(hotPath).exists(_.isFile))
        recent.join(spark.read.parquet(hotDir).select("order_id"), Seq("order_id"),
          "left_anti")
      else recent)
      // topic files carry the canonical column order, not the log's
      // partition-column-last layout
      .select("stream_name", "order_id", "event_time", "service_id",
        "local_id", "schema_version", "payload", "provenance")
      .persist()
    val n = missing.count()
    if (n > 0) LocalFs.write(missing).mode("append").parquet(hotDir)
    missing.unpersist()
    n
  }

  /** validate → stamp → append in one call; returns the invalid rows. */
  def ingest(
      raw: DataFrame,
      logDir: String,
      ingestTimeMs: Long,
      hotDir: Option[String] = None): DataFrame = {
    val (ok, bad) = validate(raw)
    append(stamp(ok, ingestTimeMs), logDir, hotDir = hotDir)
    bad
  }
}
