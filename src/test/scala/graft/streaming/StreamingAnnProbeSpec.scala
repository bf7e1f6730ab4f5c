package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.operators.{ExactAnn, IvfPq}

/** Online ANN serving: a stream of new embeddings probed per
  * micro-batch against a persisted static index must reproduce the
  * batch probe exactly (the probe is stateless — neighbours depend only
  * on the index), leave no block-manager state behind, and not re-emit
  * across a checkpoint restart. */
class StreamingAnnProbeSpec extends AnyFunSuite with SparkTestBase {

  private def embAll = {
    graft.GraftFunctions.install(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  test("exact probe: streamed micro-batches equal the batch probe of their union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = embAll
    val dir = tmpDir("annstream")
    ExactAnn.saveIndex(e.where($"vec_id" < 150), s"$dir/idx")
    val batch = e.where($"vec_id" >= 150 && $"vec_id" < 170)
    val expected = ExactAnn.probeAgainstIndex(batch, s"$dir/idx", k = 3)
      .collect().map(_.toString).sorted

    val mem = MemoryStream[(Long, Seq[Double], Double)]
    val q = StreamingAnnProbe.start(
      mem.toDS().toDF("vec_id", "v", "nrm"),
      s"$dir/idx", k = 3, outDir = s"$dir/out", checkpoint = s"$dir/ckpt",
      exact = true)
    try {
      val (h, t) = rows(batch).splitAt(10)
      mem.addData(h.toIndexedSeq); q.processAllAvailable()
      mem.addData(t.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("new_id", "rk", "index_id", "sim_bp") // drop the batch_id partition col
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(expected),
      s"stream ${got.length} rows vs batch ${expected.length}")
  }

  test("IVF-PQ probe: streamed result equals batch probe; encode checkpoints released") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = embAll
    val corpus = e.where($"vec_id" < 150)
    val dir = tmpDir("annstreampq")
    IvfPq.saveIndexed(corpus, IvfPq.train(corpus), s"$dir/idx")
    val batch = e.where($"vec_id" >= 150 && $"vec_id" < 160)
    val expected = IvfPq.probeAgainstIndex(batch, s"$dir/idx", k = 3)
      .collect().map(_.toString).sorted

    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val mem = MemoryStream[(Long, Seq[Double], Double)]
    val q = StreamingAnnProbe.start(
      mem.toDS().toDF("vec_id", "v", "nrm"),
      s"$dir/idx", k = 3, outDir = s"$dir/out", checkpoint = s"$dir/ckpt")
    try {
      val (h, t) = rows(batch).splitAt(5)
      mem.addData(h.toIndexedSeq); q.processAllAvailable()
      mem.addData(t.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("new_id", "rk", "index_id", "approx_bp")
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(expected),
      s"stream ${got.length} rows vs batch ${expected.length}")
    // probeAndConsume must have released each micro-batch's encode
    // checkpoint — a serving stream runs for months
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "streamed probes leaked checkpoint blocks")
  }

  test("a REPLAYED micro-batch overwrites its own output instead of duplicating it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = embAll
    val dir = tmpDir("annstreamreplay")
    ExactAnn.saveIndex(e.where($"vec_id" < 100), s"$dir/idx")
    val mem = MemoryStream[(Long, Seq[Double], Double)]
    def start() = StreamingAnnProbe.start(
      mem.toDS().toDF("vec_id", "v", "nrm"),
      s"$dir/idx", k = 2, outDir = s"$dir/out", checkpoint = s"$dir/ckpt",
      exact = true)

    val probes = rows(e.where($"vec_id" >= 100 && $"vec_id" < 103))
    val q1 = start()
    try { mem.addData(probes.toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()

    // simulate the at-least-once crash window foreachBatch is documented
    // for: the source OFFSETS for batch 0 are committed but the batch
    // COMMIT marker is lost — on restart Spark re-runs batch 0 with the
    // same batchId, and a blind-append sink would double every row
    val commit = new java.io.File(s"$dir/ckpt/commits/0")
    assert(commit.exists, "expected batch-0 commit marker in the checkpoint")
    assert(commit.delete())
    // the local FS is a ChecksumFileSystem: a stale .crc sidecar makes
    // the re-commit's rename look like a concurrent writer — remove it
    // with the marker, as a real crash would have left neither
    new java.io.File(s"$dir/ckpt/commits/.0.crc").delete()
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select("new_id", "rk", "index_id", "sim_bp").collect().map(_.toString)
    assert(out.length == probes.length * 2, // 3 probes × k=2, exactly once
      s"replayed batch duplicated or dropped rows: ${out.length} rows")
    assert(out.distinct.length == out.length, "duplicate neighbour rows")
  }

  test("index rollover: restart after saveIndex(append) probes the NEW index, no re-emit") {
    // serving streams outlive nightly index rebuilds — the documented
    // operational path is stop → append/rebuild the index → restart
    // from the SAME checkpoint: vectors arriving after the restart must
    // see the rolled index (StreamingAnnProbe resolves the index at
    // query start, so a restart re-resolves it), and batches processed
    // before the stop must not re-emit
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = embAll
    val dir = tmpDir("annroll")
    ExactAnn.saveIndex(e.where($"vec_id" < 100), s"$dir/idx")
    val mem = MemoryStream[(Long, Seq[Double], Double)]
    def start() = StreamingAnnProbe.start(
      mem.toDS().toDF("vec_id", "v", "nrm"),
      s"$dir/idx", k = 1, outDir = s"$dir/out", checkpoint = s"$dir/ckpt",
      exact = true)

    val q1 = start()
    try { mem.addData(rows(e.where($"vec_id" >= 200 && $"vec_id" < 202)).toIndexedSeq)
          q1.processAllAvailable() }
    finally q1.stop()

    // nightly roll while the stream is down: vectors 100-149 join the index
    ExactAnn.saveIndex(
      e.where($"vec_id" >= 100 && $"vec_id" < 150), s"$dir/idx", append = true)

    // probe 9120 is an exact COPY of index vector 120 — findable only
    // through the rolled index, and then necessarily its rank-1 match
    val twin = rows(e.where($"vec_id" === 120))
      .map { case (_, v, n) => (9120L, v, n) }
    val q2 = start()
    try { mem.addData(twin.toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select($"new_id", $"index_id", $"sim_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).sorted.toSeq == Seq(200L, 201L, 9120L),
      s"rollover re-emitted or dropped probes: ${out.toSeq}")
    val hit = out.find(_._1 == 9120L).get
    assert(hit._2 == 120L && hit._3 >= 9999L,
      s"restarted stream did not probe the rolled index: $hit")
  }

  test("probe output is not re-emitted across a checkpoint restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = embAll
    val dir = tmpDir("annstreamrs")
    ExactAnn.saveIndex(e.where($"vec_id" < 100), s"$dir/idx")
    val mem = MemoryStream[(Long, Seq[Double], Double)]
    def start() = StreamingAnnProbe.start(
      mem.toDS().toDF("vec_id", "v", "nrm"),
      s"$dir/idx", k = 1, outDir = s"$dir/out", checkpoint = s"$dir/ckpt",
      exact = true)

    val probes = rows(e.where($"vec_id" >= 100 && $"vec_id" < 104))
    val q1 = start()
    try { mem.addData(probes.take(2).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()

    val q2 = start()
    try { mem.addData(probes.drop(2).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val got = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getLong(0)).sorted
    assert(got.toSeq == probes.map(_._1).sorted.toSeq,
      s"restart duplicated or dropped probes: ${got.toSeq}")
  }
}
