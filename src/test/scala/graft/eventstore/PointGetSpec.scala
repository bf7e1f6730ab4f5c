package graft.eventstore

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** `Replay.pointGet` reads on the driver: for every lookup it returns the
  * rows, all columns included, that filtering the log on
  * `(stream_name, order_id)` returns, with the same schema, and its
  * `collect()` starts no Spark job. */
class PointGetSpec extends AnyFunSuite with SparkTestBase {

  private val T0 = 1700000000000L
  private val DayMs = 86400000L

  /** [[rawEvents]] with a provenance link on every even event. */
  private def events(n: Int, streams: Seq[String] = Seq("s1", "s2")): DataFrame =
    rawEvents(n, streams).withColumn("provenance",
      when(expr("CAST(substring(local_id, 5) AS INT) % 2 = 0"),
        struct(lit("upstream").as("service_id"), col("local_id"), lit("caused-by").as("relationship")))
        .cast("struct<service_id:string,local_id:string,relationship:string>"))

  private def filtered(log: DataFrame, stream: String, oid: Long): Array[Row] =
    log.where(col("stream_name") === stream && col("order_id") === oid).collect()

  /** The lookup's rows, after asserting they equal the filter's. */
  private def checked(log: DataFrame, stream: String, oid: Long): Array[Row] = {
    val got = Replay.pointGet(log, stream, oid)
    assert(got.schema == log.schema)
    val rows = got.collect()
    assert(rows.toSeq == filtered(log, stream, oid).toSeq, s"stream $stream, order_id $oid")
    rows
  }

  private def orderIds(log: DataFrame, stream: String): Array[Long] =
    log.where(col("stream_name") === stream).select("order_id").collect().map(_.getLong(0))

  /** Every event of `streams` is found, once, with the filter's row. */
  private def everyEvent(log: DataFrame, streams: Seq[String]): Seq[Row] =
    streams.flatMap { s =>
      val ids = orderIds(log, s)
      assert(ids.nonEmpty, s)
      ids.toSeq.map { oid =>
        val rows = checked(log, s, oid)
        assert(rows.length == 1, s"stream $s, order_id $oid")
        rows.head
      }
    }

  private def parquetFiles(dir: String): Int = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator.asScala.count(_.toString.endsWith(".parquet")) finally walk.close()
  }

  /** Jobs started while `body` runs: the body's own job group, counted
    * once a later marker job has reached the listener (the bus delivers
    * in order). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("point-get-body", "the collect under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("point-get-marker", "drains the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60000000000L
      while (!groups.contains("point-get-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("point-get-marker"), "the marker job never reached the listener")
      groups.asScala.count(_ == "point-get-body")
    } finally sc.removeSparkListener(listener)
  }

  test("flat stream of several files: each get equals the filter, provenance null and set") {
    val dir = tmpDir("pgflat")
    (0 until 3).foreach(b => Ingest.ingest(events(12), dir, T0 + b * 5000L))
    assert(parquetFiles(s"$dir/stream_name=s1") == 3)
    val rows = everyEvent(Replay.open(spark, dir), Seq("s1", "s2"))
    assert(rows.length == 36)
    val prov = rows.map(_.getAs[Row]("provenance"))
    assert(prov.count(_ == null) == 18)
    assert(prov.filter(_ != null).forall(_.getString(2) == "caused-by"))
  }

  test("compacted stream: each get equals the filter") {
    val dir = tmpDir("pgcompact")
    (0 until 3).foreach(b => Ingest.ingest(events(20), dir, T0 + b * 5000L))
    assert(Replay.compactStream(spark, dir, "s1", targetRows = 1000L) == 1)
    assert(everyEvent(Replay.open(spark, dir), Seq("s1", "s2")).length == 60)
  }

  test("date-partitioned log: two event_date buckets, the date comes back with the row") {
    val dir = tmpDir("pgdate")
    Ingest.append(Ingest.stamp(events(10), T0), dir, byDate = true)
    Ingest.append(Ingest.stamp(events(6), T0 + DayMs), dir, byDate = true)
    val log = Replay.open(spark, dir)
    assert(log.columns.contains("event_date"))
    val rows = everyEvent(log, Seq("s1", "s2"))
    assert(rows.length == 16)
    assert(rows.map(_.getAs[java.sql.Date]("event_date")).distinct.length == 2)
  }

  test("an absent order_id or stream returns no rows") {
    val dir = tmpDir("pgabsent")
    Ingest.ingest(events(8), dir, T0)
    val log = Replay.open(spark, dir)
    val s1 = orderIds(log, "s1")
    val s2 = orderIds(log, "s2")
    assert(checked(log, "s1", s1.max + 1).isEmpty)
    assert(checked(log, "s1", s2.head).isEmpty) // the id lives in another stream
    assert(checked(log, "no-such-stream", s1.head).isEmpty)
  }

  test("a stream name that needs path escaping") {
    val dir = tmpDir("pgescape")
    val streams = Seq("a=b:c", "p q%r")
    Ingest.ingest(events(8, streams), dir, T0)
    val rows = everyEvent(Replay.open(spark, dir), streams)
    assert(rows.map(_.getAs[String]("stream_name")).toSet == streams.toSet)
  }

  test("numeric stream names: partition inference reads stream_name back as a number") {
    val dir = tmpDir("pgnumeric")
    Ingest.ingest(events(8, Seq("7", "42")), dir, T0)
    val log = Replay.open(spark, dir)
    assert(log.schema("stream_name").dataType == org.apache.spark.sql.types.IntegerType)
    assert(everyEvent(log, Seq("7", "42")).length == 8)
  }

  test("a file appended after Replay.open stays unseen, as in a scan of the same log") {
    val dir = tmpDir("pglate")
    Ingest.ingest(events(4), dir, T0)
    val log = Replay.open(spark, dir)
    Ingest.ingest(events(4), dir, T0 + 5000L)
    val late = orderIds(Replay.open(spark, dir), "s1").max
    assert(checked(log, "s1", late).isEmpty)
    assert(checked(Replay.open(spark, dir), "s1", late).length == 1)
  }

  test("collect() starts no Spark job; the filter it replaces starts one") {
    val dir = tmpDir("pgjobs")
    (0 until 2).foreach(b => Ingest.ingest(events(8), dir, T0 + b * 5000L))
    val log = Replay.open(spark, dir)
    val oid = orderIds(log, "s2").head
    var got = Array.empty[Row]
    assert(jobsDuring { got = Replay.pointGet(log, "s2", oid).collect() } == 0)
    assert(got.length == 1)
    assert(jobsDuring(filtered(log, "s2", oid)) > 0)
  }

  test("a log that is not a parquet file relation raises IllegalArgumentException") {
    val dir = tmpDir("pgnotfile")
    Ingest.ingest(events(4), dir, T0)
    val log = Replay.open(spark, dir)
    val oid = orderIds(log, "s1").head
    intercept[IllegalArgumentException](Replay.pointGet(Ingest.stamp(events(4), T0), "s1", oid))
    intercept[IllegalArgumentException](
      Replay.pointGet(log.where(col("stream_name") === "s1"), "s1", oid))
  }
}
