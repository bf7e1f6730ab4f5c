package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs
import graft.streaming.HotCold

/** Uniform source/sink facade over the event log and external formats.
  *
  * The reference's storage layer is a pluggable row store (photon-db:
  * h2/cassandra/redis/file/mongo/riak — README.adoc:108-110) behind a
  * tiny protocol (SURVEY.md §1.4). Spark-side the same pluggability is
  * the DataSource API: one canonical schema, any format. Supported here:
  * parquet (the log itself), ORC (the columnar alternative some lakes
  * standardize on — built into Spark, same pushdown/pruning story),
  * JSON lines (export/import wire format) and
  * CSV (flat interchange; provenance struct is JSON-encoded).
  */
object EventSource {

  val Formats = Seq("parquet", "orc", "json", "csv")

  /** Read an event collection in any supported format into the canonical
    * column layout. JSON/CSV read with the declared schema (no inference
    * pass — at 100 TB schema inference is a full extra scan). */
  def read(spark: SparkSession, format: String, path: String): DataFrame = {
    val flat = "stream_name order_id event_time service_id local_id schema_version payload"
      .split(' ').map(col).toSeq
    format match {
      case "parquet" => spark.read.parquet(path)
        .select(flat :+ col("provenance"): _*)
      case "orc" => spark.read.orc(path)
        .select(flat :+ col("provenance"): _*)
      case "json" => spark.read.schema(HotCold.eventSchema).json(path)
        .select(flat :+ col("provenance"): _*)
      case "csv" => spark.read
        .option("header", "true")
        .schema("stream_name string, order_id long, event_time timestamp, " +
          "service_id string, local_id string, schema_version string, " +
          "payload string, provenance_json string")
        .csv(path)
        .select(flat :+ from_json(col("provenance_json"), lit(
          "struct<service_id:string,local_id:string,relationship:string>"))
          .as("provenance"): _*)
      case other => throw new IllegalArgumentException(
        s"unsupported event format: $other (one of ${Formats.mkString("/")})")
    }
  }

  /** Write events in any supported format. Parquet partitions by stream
    * (partition pruning); CSV JSON-encodes the provenance struct. */
  def write(events: DataFrame, format: String, path: String,
      mode: SaveMode = SaveMode.Append): Unit = format match {
    case "parquet" =>
      LocalFs.write(events).mode(mode).partitionBy("stream_name").parquet(path)
    case "orc" =>
      LocalFs.write(events).mode(mode).partitionBy("stream_name").orc(path)
    case "json" =>
      LocalFs.write(events).mode(mode).option("compression", "gzip").json(path)
    case "csv" =>
      LocalFs.write(events
        .withColumn("provenance_json", to_json(col("provenance")))
        .drop("provenance"))
        .mode(mode).option("header", "true").csv(path)
    case other => throw new IllegalArgumentException(
      s"unsupported event format: $other (one of ${Formats.mkString("/")})")
  }
}
