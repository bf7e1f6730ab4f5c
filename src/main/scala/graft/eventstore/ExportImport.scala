package graft.eventstore

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream export/import (reference api.clj:103-186).
  *
  * Export: cold scan → gzip'd JSON lines (the reference writes gzip EDN
  * lines, api.clj:103-129; JSON is the format-neutral equivalent).
  * Import: read JSON lines, pick a fresh stream name (find-name dedup,
  * api.clj:158-166), re-stamp through Ingest (the reference re-stamps
  * imported events with fresh order-ids too, api.clj:168-186).
  */
object ExportImport {

  def exportStream(log: DataFrame, stream: String, outDir: String): Unit =
    LocalFs.write(Replay.cold(log, stream))
      .mode("overwrite").option("compression", "gzip").json(outDir)

  /** find-name: first of name, name-1, name-2, … not already in the log
    * (reference api.clj:158-166). */
  def findName(existing: Set[String], wanted: String): String =
    if (!existing(wanted)) wanted
    else Iterator.from(1).map(i => s"$wanted-$i").find(n => !existing(n)).get

  /** Import exported JSON lines as a NEW stream: fresh name, fresh stamps. */
  def importStream(
      spark: SparkSession,
      inDir: String,
      logDir: String,
      wantedName: String,
      ingestTimeMs: Long): String = {
    val existing: Set[String] = {
      val p = new Path(logDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else Replay.distinctStreams(Replay.open(spark, logDir))
        .collect().map(_.getString(0)).toSet
    }
    val name = findName(existing, wantedName)
    // keep the exported order_id as the re-stamping sequence: the
    // imported stream replays in the ORIGINAL event order (the reference
    // re-stamps in sequence too, api.clj:168-186) — a lexicographic
    // re-sort would corrupt non-commutative projection replay
    val raw = spark.read.json(inDir)
      .withColumn("stream_name", lit(name))
      .select(col("order_id").as("_orig_order"),
        col("stream_name"), col("service_id"), col("local_id"),
        col("schema_version"), col("payload"),
        lit(null).cast("struct<service_id:string,local_id:string,relationship:string>")
          .as("provenance"))
    Ingest.append(
      Ingest.stamp(raw, ingestTimeMs, orderCols = Seq("_orig_order"))
        .drop("_orig_order"),
      logDir)
    name
  }
}
