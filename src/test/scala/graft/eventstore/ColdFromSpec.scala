package graft.eventstore

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A `from` bound on a date-bucketed log skips the `event_date` buckets
  * that cannot hold an event at or after it, and returns the rows the
  * plain `event_time` filter returns, whatever session time zones wrote
  * and read the log. */
class ColdFromSpec extends AnyFunSuite with SparkTestBase {

  private val HourMs = 3600000L
  private val D0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  private val D4 = D0 + 96 * HourMs

  private def withTz[T](tz: String)(f: => T): T = {
    val old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try f finally spark.conf.set("spark.sql.session.timeZone", old)
  }

  /** A byDate log of stream s1, one batch per ingest time. */
  private def log(name: String, times: Seq[Long]): String = {
    val dir = tmpDir(name)
    times.zipWithIndex.foreach { case (ms, i) =>
      Ingest.append(Ingest.stamp(rawEvents(3 + i, Seq("s1")), ms), dir, byDate = true)
    }
    dir
  }

  private def unpruned(df: DataFrame, fromMs: Long): Seq[Row] =
    df.where(col("stream_name") === "s1" && unix_millis(col("event_time")) >= fromMs)
      .orderBy("order_id").collect().toSeq

  /** Files the executed scans of `df` read. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  private def parquetFiles(dir: java.io.File): Int =
    dir.listFiles().count(_.getName.endsWith(".parquet"))

  test("from on a byDate log reads only the later day's files, rows as the unpruned filter") {
    val dir = log("coldfrom", Seq(D0 + 5 * HourMs, D4 + 5 * HourMs))
    val s1 = new java.io.File(s"$dir/stream_name=s1")
    assert(s1.listFiles().map(_.getName).sorted.toSeq ==
      Seq("event_date=2026-01-01", "event_date=2026-01-05"))
    val later = parquetFiles(new java.io.File(s1, "event_date=2026-01-05"))
    assert(later > 0 && parquetFiles(new java.io.File(s1, "event_date=2026-01-01")) > 0)
    val df = Replay.open(spark, dir)
    val cold = Replay.cold(df, "s1", fromMs = D4)
    assert(filesRead(cold) == later)
    assert(cold.collect().toSeq == unpruned(df, D4))
    assert(cold.count() == 4)
    // the hot-topic reconcile reads the log through the same bound
    assert(Ingest.reconcileHotTopic(spark, dir, tmpDir("coldfromhot"), sinceMs = D4) == 4)
  }

  test("from keeps every row when the session time zone moves ±14 h between write and read") {
    // batches an hour before and five hours after D4's midnight, and late
    // on D4: written at −14:00 the 05:00Z batch lands in the previous
    // day's bucket, written at +14:00 the 23:00Z batch in the next one's
    val times = Seq(D0 + 5 * HourMs, D4 - HourMs, D4 + 5 * HourMs, D4 + 23 * HourMs)
    for (wTz <- Seq("-14:00", "+14:00")) {
      val dir = withTz(wTz)(log("coldfromtz", times))
      for (rTz <- Seq("-14:00", "UTC", "+14:00"); from <- times :+ (D4 + 6 * HourMs))
        withTz(rTz) {
          val df = Replay.open(spark, dir)
          val got = Replay.cold(df, "s1", fromMs = from).collect().toSeq
          assert(got.nonEmpty && got == unpruned(df, from),
            s"written at $wTz, read at $rTz, from $from")
        }
    }
  }
}
