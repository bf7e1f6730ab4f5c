package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The curation signals are plain codegen expressions, so the same
  * filter chain that runs over the batch corpus drops into Structured
  * Streaming unchanged — documents arriving as a stream are scored,
  * gated and deduplicated incrementally. This pins that property (the
  * shape an ingest-time curation pipeline runs at scale: filters are
  * per-row/narrow, dedup state is keyed by content hash).
  */
class StreamingCurationSpec extends AnyFunSuite with SparkTestBase {

  /** events.parquet with `ts` normalized to LONG epoch-nanos whichever
    * physical type the driver testdata generation used —
    * TIMESTAMP(NANOS) arrives as LONG under nanosAsLong;
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ
    * and is widened back to nanos (UTC session, same instants). The
    * per-test `ts DIV 1000` / `DIV 1000000` arithmetic then reads the
    * same values either way. */
  private def eventsNanos(sf: String): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sf/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
      case _ => df
    }
  }

  test("quality/lang/length gates + exact dedup run incrementally over a document stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.GraftFunctions.install(spark)

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")

    // the same signals as x_filter_chain / x_lang_id, per-row kernels;
    // exact dedup keyed by content hash via dropDuplicates (streaming
    // state store holds one hash per seen document)
    val curated = docs
      .withColumn("n_toks", expr("ws_token_count(text)"))
      .withColumn("stop_hits", expr("stop_token_count(text)"))
      .where($"n_toks" >= 3 &&
        ($"stop_hits" * 10000.0) / $"n_toks" >= 300)
      .withColumn("content_hash", sha2($"text", 256))
      .dropDuplicates("content_hash")

    val q = curated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curated1").start()
    try {
      mem.addData(
        (1L, "the cat sat on the mat"),          // passes (stop ratio high)
        (2L, "alpha beta gamma delta"),          // fails lang gate (no stop words)
        (3L, "to be"))                           // fails length gate (2 tokens)
      q.processAllAvailable()
      mem.addData(
        (4L, "the cat sat on the mat"),          // exact dup of 1 across batches
        (5L, "a dog in the yard is happy"))      // passes
      q.processAllAvailable()
      val ids = spark.table("curated1").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 5L)),
        s"expected docs 1 and 5 to survive, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("streaming decontamination: stream-static anti-join against the benchmark n-gram set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.GraftFunctions.install(spark)

    // static side: the (tiny) benchmark 3-gram hash set — broadcast per
    // micro-batch, exactly x_decontaminate's scale shape on a stream
    val bench = Seq("the quick brown fox jumps").toDF("text")
      .select(explode(expr(
        "shingle_hashes(filter(split(lower(text), ' +'), x -> x != ''), 3)")).as("ng"))
      .distinct()

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
      .select($"doc_id", explode(expr(
        "shingle_hashes(filter(split(lower(text), ' +'), x -> x != ''), 3)")).as("ng"),
        $"text")
    // contaminated (doc, ngram) rows match the static set; left_anti on
    // the exploded stream + dedup back to docs = the clean channel
    val contaminatedIds = docs.join(broadcast(bench), Seq("ng"), "left_semi")
      .select($"doc_id").dropDuplicates("doc_id")

    val q = contaminatedIds.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("contam1").start()
    try {
      mem.addData(
        (1L, "we saw the quick brown fox jumps high today"), // contaminated
        (2L, "a completely unrelated document about tables")) // clean
      q.processAllAvailable()
      mem.addData(
        (3L, "brown quick fox appears but shifted words never align"), // clean (no shared 3-gram)
        (4L, "again the quick brown fox jumps into view")) // contaminated
      q.processAllAvailable()
      val flagged = spark.table("contam1").collect().map(_.getLong(0)).sorted
      assert(flagged.sameElements(Array(1L, 4L)),
        s"expected 1,4 flagged, got ${flagged.mkString(",")}")
    } finally q.stop()
  }

  test("streaming quality-weighted sampling gates rows with batch-identical arithmetic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.GraftFunctions.install(spark)

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text").where(length($"text") > 0)
    // the x_sample_quality expressions verbatim — stateless, so the
    // stream path IS the batch path
    val bucket = (($"doc_id" % 1000003) * lit(2654435761L)) % 1000003 % 100
    val qualityBp = floor((least(expr("ws_token_count(text)"), lit(100L))
      * length(regexp_replace($"text", "[^A-Za-z]", "")) * 10000.0)
      / (lit(100.0) * length($"text")))
    val tier = when(qualityBp >= 6000, "high")
      .when(qualityBp >= 3000, "mid").otherwise("low")
    val rate = when(tier === "high", 100).when(tier === "mid", 50).otherwise(10)
    val kept = docs.where(bucket < rate)
      .select($"doc_id", tier.as("tier"))

    val q = kept.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qsample1").start()
    try {
      // high-quality text (all alpha, ~100 tokens — the least(n,100)
      // length factor needs a real document, not a phrase) passes at
      // any bucket; junk (punctuation => quality 0) needs bucket < 10
      val highQ = ("plain alpha words all the way down here " * 13).trim
      val junk = "!!!! ???? ;;;; :::: ++++ ==== %%%% ####"
      mem.addData((1L, highQ), (2L, junk), (3L, highQ), (15L, junk))
      q.processAllAvailable()
      val out = spark.table("qsample1").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // every surviving high-quality doc is tier high; junk survives
      // only if its hash bucket < 10 — recompute the rule locally
      def bucketOf(id: Long) = ((id % 1000003L) * 2654435761L) % 1000003L % 100L
      assert(out.filter(_._2 == "high").keySet ==
        Set(1L, 3L).filter(id => bucketOf(id) < 100))
      assert(out.filter(_._2 == "low").keySet ==
        Set(2L, 15L).filter(id => bucketOf(id) < 10))
    } finally q.stop()
  }

  test("streaming near-dup detection matches batch MinHashDedup across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        expr("filter(split(lower(text), ' +'), x -> x != '')").as("toks"))
      .where(size($"toks") >= 3)
    // batch ground truth: the operator the queries surface ships
    val batchPairs = graft.operators.MinHashDedup
      .nearDuplicates(corpus, "doc_id", "toks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[String])]
    val q = graft.streaming.StreamingNearDup.pairs(
        mem.toDS().toDF("doc_id", "toks"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup1").start()
    try {
      // three batches: near-dup pairs must be found across splits too
      val third = rows.length / 3
      mem.addData(rows.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rows.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rows.drop(2 * third).toIndexedSeq); q.processAllAvailable()
      // conflate multi-band emissions, then compare sets exactly
      val streamed = spark.table("neardup1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchPairs,
        s"streamed ${streamed.size} vs batch ${batchPairs.size}: " +
          s"missing=${(batchPairs -- streamed).take(3)} " +
          s"extra=${(streamed -- batchPairs).take(3)}")
      assert(streamed.nonEmpty) // the corpus does contain near-dups
    } finally q.stop()
  }

  test("near-dup stream bootstrapped from a saved index matches dedupAgainstIndex") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .where($"doc_id" < 300)
      .select($"doc_id",
        expr("filter(split(lower(text), ' +'), x -> x != '')").as("toks"))
      .where(size($"toks") >= 3)
    val dir = tmpDir("ndbootstrap")
    graft.operators.MinHashDedup.saveIndex(corpus, "doc_id", "toks", s"$dir/idx")

    // "tomorrow's crawl": exact copies of two indexed docs, ids shifted
    val batchDocs = corpus.where($"doc_id".isin(7L, 11L))
      .select(($"doc_id" + 100000L).as("doc_id"), $"toks")
    val rows = batchDocs.collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    // batch ground truth from the index probe
    val expected = graft.operators.MinHashDedup
      .dedupAgainstIndex(batchDocs, "doc_id", "toks", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val mem = MemoryStream[(Long, Seq[String])]
    val q = graft.streaming.StreamingNearDup.pairs(
        mem.toDS().toDF("doc_id", "toks"),
        bootstrapIndex = Some(s"$dir/idx"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ndboot").start()
    try {
      // FIRST batch: the corpus never flowed through the stream, yet the
      // bootstrapped buckets must surface the cross pairs immediately
      mem.addData(rows.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("ndboot").collect()
        .map(r => (math.max(r.getLong(0), r.getLong(1)),
          math.min(r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
      assert(streamed == expected,
        s"bootstrapped stream ${streamed.size} vs index probe ${expected.size}: " +
          s"missing=${(expected -- streamed).take(3)} extra=${(streamed -- expected).take(3)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("bootstrapped near-dup state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      1L -> Seq("alpha", "beta", "gamma", "delta", "epsilon"),
      2L -> Seq("one", "two", "three", "four", "five", "six"))
      .toDF("doc_id", "toks")
    val dir = tmpDir("ndbootrestart")
    graft.operators.MinHashDedup.saveIndex(corpus, "doc_id", "toks", s"$dir/idx")

    val ckpt = tmpDir("ndbootckpt")
    val mem = MemoryStream[(Long, Seq[String])]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def start() = graft.streaming.StreamingNearDup.pairs(
        mem.toDS().toDF("doc_id", "toks"),
        bootstrapIndex = Some(s"$dir/idx"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingNearDup.Pair],
         _: Long) =>
          b.collect().foreach(p => seen.add((p.a_id, p.b_id, p.jac_bp)))
      }
      .start()

    // run 1: a verbatim copy of indexed doc 1 matches from the FIRST batch
    val q1 = start()
    try {
      mem.addData((100L, Seq("alpha", "beta", "gamma", "delta", "epsilon")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.iterator.asScala.toSet == Set((1L, 100L, 10000L)),
      s"bootstrapped match missing before restart: $seen")

    // run 2, same checkpoint: the resumed query is NOT re-bootstrapped
    // (initial state applies to batch 0 only) — a copy of indexed doc 2,
    // never streamed before the restart, must match from CHECKPOINTED
    // state alone, proving the bootstrap members persisted
    seen.clear()
    val q2 = start()
    try {
      mem.addData((200L, Seq("one", "two", "three", "four", "five", "six")))
      q2.processAllAvailable()
      assert(seen.iterator.asScala.toSet.contains((2L, 200L, 10000L)),
        s"bootstrap state lost across restart: $seen")
      // pre-restart pairs must not re-emit
      assert(!seen.iterator.asScala.exists(_._2 == 100L),
        s"pre-restart pair re-emitted: $seen")
    } finally q2.stop()
  }

  test("bootstrapped members age out under retention — including across a restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(1L -> Seq("red", "green", "blue", "cyan", "magenta"))
      .toDF("doc_id", "toks")
    val dir = tmpDir("ndage")
    graft.operators.MinHashDedup.saveIndex(corpus, "doc_id", "toks", s"$dir/idx")

    val ckpt = tmpDir("ndageckpt")
    val mem = MemoryStream[(Long, Seq[String])]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = graft.streaming.StreamingNearDup.pairs(
        mem.toDS().toDF("doc_id", "toks"),
        retention = Some(java.time.Duration.ofMillis(1)),
        bootstrapIndex = Some(s"$dir/idx"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingNearDup.Pair],
         _: Long) =>
          b.collect().foreach(p => seen.add((p.a_id, p.b_id)))
      }
      .start()

    // bootstrapped members are stamped at query start; by the time the
    // first batch touches their bucket the 1 ms window has passed, so
    // the lazy prune drops them BEFORE comparison — same aging rule as
    // streamed members
    val q1 = start()
    try {
      Thread.sleep(50)
      mem.addData((100L, Seq("red", "green", "blue", "cyan", "magenta")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.isEmpty, s"aged-out bootstrap member still matched: $seen")

    // and the expiry survives a restart: the resumed state holds doc 100
    // (inserted last batch, itself now expired) but not doc 1
    val q2 = start()
    try {
      Thread.sleep(50)
      mem.addData((200L, Seq("red", "green", "blue", "cyan", "magenta")))
      q2.processAllAvailable()
      assert(seen.isEmpty, s"expired members matched after restart: $seen")
    } finally q2.stop()
  }

  test("near-dup retention window: idle buckets expire, old docs stop matching") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val doc = (1 to 12).map(i => s"tok$i") // one shingle set, jac 1.0 dup

    val mem = MemoryStream[(Long, Seq[String])]
    val q = graft.streaming.StreamingNearDup.pairs(
        mem.toDS().toDF("doc_id", "toks"),
        retention = Some(java.time.Duration.ofSeconds(2)))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_ttl").start()
    try {
      mem.addData((1L, doc)); q.processAllAvailable()
      Thread.sleep(3000) // doc 1's insertion falls out of the window
      // (window >> micro-batch latency so docs 3/4 below stay inside)
      // lazy pruning: touching the bucket drops the expired member
      // BEFORE comparing, so the exact duplicate no longer matches
      mem.addData((3L, doc)); q.processAllAvailable()
      assert(spark.table("neardup_ttl").collect().isEmpty)
      // but the stream keeps detecting WITHIN the window
      mem.addData((4L, doc)); q.processAllAvailable()
      val pairs = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct
      assert(pairs.sameElements(Array((3L, 4L))))
    } finally q.stop()
  }

  test("streaming sequence packing matches the batch packer's per-shard accounting") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.GraftFunctions.install(spark)
    val sf = "/root/testdata/sf0.001"

    // the same (shard, n_tok) derivation as x_pack_sequences, computed
    // batch-side; the stream carries them pre-computed (ingest shape)
    val prepared = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        ((($"doc_id" % 1000003) * lit(2654435761L)) % 1000003 % 16)
          .cast("long").as("shard"),
        expr("bpe_token_count(text)").as("n_tok"))
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))

    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingPack.pack(
        mem.toDS().toDF("shard", "doc_id", "n_tok"), budget = 2048L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("packed1").start()
    try {
      // two batches, split mid-corpus: state must carry offsets across
      val (first, second) = prepared.splitAt(prepared.length / 2)
      mem.addData(first.toIndexedSeq); q.processAllAvailable()
      mem.addData(second.toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("packed1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4)))
      assert(streamed.length == prepared.length)
      // per-shard accounting equals the batch query (same data, same
      // budget): docs, tokens, boundary-crossing count
      val batch = graft.SparkEntry.queries("x_pack_sequences")(spark, sf)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
      val byShard = streamed.groupBy(_._1)
      byShard.foreach { case (shard, docs) =>
        val (bDocs, bToks, bCross) = batch(shard)
        assert(docs.length.toLong == bDocs, s"shard $shard docs")
        assert(docs.map(_._3).sum == bToks, s"shard $shard tokens")
        assert(docs.count(_._5).toLong == bCross, s"shard $shard crossings")
        // seq ids are monotone in doc_id within a shard
        val ordered = docs.sortBy(_._2).map(_._4)
        assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
      }
    } finally q.stop()
  }

  test("packed stream drives ShardWriter: physical layout equals the audit by construction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.GraftFunctions.install(spark)
    val sf = "/root/testdata/sf0.001"
    val shards = 16

    val prepared = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        ((($"doc_id" % 1000003) * lit(2654435761L)) % 1000003 % shards)
          .cast("long").as("shard"),
        expr("bpe_token_count(text)").as("n_tok"))
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))

    // stream → pack → foreachBatch staging (the ingest-to-disk shape:
    // the live packer's output lands as batch-appended parquet)
    val staged = tmpDir("packstage")
    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingPack.pack(
        mem.toDS().toDF("shard", "doc_id", "n_tok"), budget = 2048L)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingPack.PackedDoc], _: Long) =>
        b.write.mode("append").parquet(staged)
      }
      .start()
    try {
      val (first, second) = prepared.splitAt(prepared.length / 2)
      mem.addData(first.toIndexedSeq); q.processAllAvailable()
      mem.addData(second.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    // write side: ShardWriter re-shards the packed docs (same hash
    // family) into shard=NN dirs and returns the read-back audit
    val packed = spark.read.parquet(staged)
    assert(packed.count() == prepared.length)
    val out = tmpDir("packshards")
    val audit = operatorsShardAudit(packed, out, shards)
    // the audit equals the hash prediction computed independently
    val expected = prepared.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(audit == expected, s"audit $audit != predicted $expected")
    // the physical layout carries the packing columns intact: each
    // shard dir holds exactly its hash-assigned docs with their
    // stream-assigned (seq_id, crossing)
    val byDoc = packed.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("seq_id"), r.getAs[Boolean]("crossing"))).toMap
    val s0 = spark.read.parquet(s"$out/shard=0").collect()
    assert(s0.nonEmpty)
    s0.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 1000003L * 2654435761L % 1000003L % shards == 0L, s"doc $id in wrong shard")
      assert((r.getAs[Long]("seq_id"), r.getAs[Boolean]("crossing")) == byDoc(id))
    }
  }

  /** ShardWriter.write + audit → Map(shard -> n_docs). */
  private def operatorsShardAudit(docs: org.apache.spark.sql.DataFrame,
      out: String, shards: Int): Map[Long, Long] =
    graft.operators.ShardWriter.write(docs, out, shards)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("live path mining: streamed trigram counts reproduce the batch x_event_paths top-20") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

        val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ms"),
        $"event_id", $"event_type")
      .orderBy($"ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.StreamingPaths.paths(
        mem.toDS().toDF("user_id", "ts_ms", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("paths1").start()
    try {
      // three batches: a user's trigram spanning a split must use state
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamedTop = spark.table("paths1")
        .groupBy($"path").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"path").limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = graft.SparkEntry.queries("x_event_paths")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamedTop.nonEmpty && streamedTop == batch,
        s"streamed top-20 != batch: ${streamedTop.take(3)} vs ${batch.take(3)}")
    } finally q.stop()
  }

  test("live absorbing-chain mass: streamed (n_out, n_end) EQUALS the batch " +
      "x_markov_absorb live columns across micro-batch splits (24th twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the exact per-user order the batch lead window uses: (µs, event_id)
    val prepared = eventsNanos(sf)
      .select($"user_id", expr("ts DIV 1000").as("ts_us"),
        $"event_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.StreamingAbsorbMass.emissions(
        mem.toDS().toDF("user_id", "ts_us", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("absorb1").start()
    try {
      // three batches: a user's transition spanning a split must come
      // from state, and an event that was stream-final in batch 1 must
      // flip to "followed" when its successor arrives in batch 2 — the
      // arr − out identity absorbs the flip without any retraction
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = graft.streaming.StreamingAbsorbMass
        .massOf(spark.table("absorb1"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // the batch query's live columns are oracle-hash-matched, so this
      // equality chains stream ≡ batch ≡ DuckDB
      val batch = graft.SparkEntry.queries("x_markov_absorb")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed mass != batch: ${streamed.take(3)} vs ${batch.take(3)}")
    } finally q.stop()
  }

  test("live growth accounting: streamed weekly decomposition EQUALS the " +
      "batch x_growth_accounting rows across micro-batch splits (25th twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the per-user order the batch lag window reads: in event-time order
    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingGrowthAccounting.emissions(
        mem.toDS().toDF("user_id", "ts_ms", "event_id"))._1
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("growth1").start()
    try {
      // three batches: a user whose week boundary spans a split must
      // classify from state (retained vs resurrected both read ONLY
      // past weeks — the append-only property under test)
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = graft.streaming.StreamingGrowthAccounting
        .growthOf(spark.table("growth1"))
        .collect().map(_.toSeq).toSeq
      // the batch query is oracle-hash-matched, so this equality chains
      // stream ≡ batch ≡ DuckDB for the full decomposition
      val batch = graft.SparkEntry.queries("x_growth_accounting")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed growth != batch: ${streamed.take(2)} vs ${batch.take(2)}")
    } finally q.stop()
  }

  test("live growth accounting: checkpoint RESTART resumes the per-user " +
      "week-span state — file-sink emissions still fold to the batch rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("growthrestart")

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val half = prepared.length / 2

    // parquet sink + checkpoint (the StreamingAbsorbMass drill shape):
    // a reset state would re-emit "new" for users first seen before the
    // restart and misclassify their post-restart week transitions
    val mem = MemoryStream[(Long, Long, Long)]
    def start() =
      graft.streaming.StreamingGrowthAccounting.emissions(
          mem.toDS().toDF("user_id", "ts_ms", "event_id"))._1
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = graft.streaming.StreamingGrowthAccounting
      .growthOf(spark.read.parquet(s"$dir/out"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("x_growth_accounting")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"post-restart growth != batch: ${streamed.take(2)} vs ${batch.take(2)}")
  }

  test("live MW location drift: streamed rank-sum rows EQUAL the batch " +
      "x_drift_mw output at the stream's end (26th twin, frozen early " +
      "artifact)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the batch query's own split arithmetic, replayed here to freeze
    // the early histogram and extract the late-half arrival stream
    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))

    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.HistogramDrift.mw(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mwdrift1").start()
    try {
      // three splits: per-arrival contributions are closed against the
      // frozen artifact, so the running rows must agree with the batch
      // at the final prefix regardless of the batch boundaries
      val third = late.length / 3
      mem.addData(late.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      // last emission per type = the running row at the stream's end
      val streamed = spark.table("mwdrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).maxBy(_._2) }
      val batch = graft.SparkEntry.queries("x_drift_mw")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed MW != batch: $streamed vs $batch")
    } finally q.stop()
  }

  test("live MW location drift: checkpoint RESTART resumes the per-type " +
      "(n_late, u2) state — final file-sink rows still equal the batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("mwdriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    // a reset state would restart u2/n_late from zero and the final
    // rows would undercount every pre-restart arrival
    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.mw(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    val batch = graft.SparkEntry.queries("x_drift_mw")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed == batch,
      s"post-restart MW != batch: $streamed vs $batch")
  }

  test("live DAU/WAU stickiness: streamed distinct-existence hits fold " +
      "to the batch x_stickiness rows across micro-batch splits (28th " +
      "twin); a clean feed keeps the reorder detector at zero") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val mem = MemoryStream[(Long, Long, Long)]
    val (stickHits, acc) = graft.streaming.StreamingStickiness.emissions(
        mem.toDS().toDF("user_id", "ts_ms", "event_id"))
    val q = stickHits
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stick1").start()
    try {
      // three batches: users crossing a day or week boundary at a
      // split must classify from state (the 7-bit mask makes within-
      // week order irrelevant; week-level order comes from the feed)
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = graft.streaming.StreamingStickiness
        .stickinessOf(spark.table("stick1"))
        .collect().map(_.toSeq).toSeq
      // the batch query is oracle-hash-matched, so this equality
      // chains stream ≡ batch ≡ DuckDB
      val batch = graft.SparkEntry.queries("x_stickiness")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed stickiness != batch: ${streamed.take(2)} vs ${batch.take(2)}")
      assert(acc.value == 0L, s"in-order feed tripped the detector: ${acc.value}")
    } finally q.stop()
  }

  test("live DAU/WAU stickiness: checkpoint RESTART resumes the per-user " +
      "(week, mask) state — file-sink hits still fold to the batch rows; " +
      "a prior-week reorder trips the detector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("stickrestart")

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val half = prepared.length / 2

    // a reset state would re-emit dau/wau hits for already-counted
    // (user, day) pairs and overcount the batch rows
    val mem = MemoryStream[(Long, Long, Long)]
    def start() = graft.streaming.StreamingStickiness.emissions(
        mem.toDS().toDF("user_id", "ts_ms", "event_id"))._1
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = graft.streaming.StreamingStickiness
      .stickinessOf(spark.read.parquet(s"$dir/out"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("x_stickiness")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"post-restart stickiness != batch: ${streamed.take(2)} vs ${batch.take(2)}")

    // reorder detector: a user seen in week w then fed a week-(w-1)
    // event in a later batch must increment the accumulator
    val mem2 = MemoryStream[(Long, Long, Long)]
    val wk = 604800000L
    val (stickHits2, acc2) = graft.streaming.StreamingStickiness.emissions(
        mem2.toDS().toDF("user_id", "ts_ms", "event_id"))
    val q3 = stickHits2
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stick2").start()
    try {
      mem2.addData((9L, 2 * wk, 1L)); q3.processAllAvailable()
      mem2.addData((9L, wk, 2L)); q3.processAllAvailable()
      assert(acc2.value == 1L,
        s"prior-week reorder must trip the detector: ${acc2.value}")
    } finally q3.stop()
  }

  test("live growth accounting: an out-of-order cross-batch arrival " +
      "trips the in-order-contract accumulator; a clean feed keeps it " +
      "at zero (ADVICE r15 — violations surface, never silent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wk = 604800000L

    // clean in-order feed across two batches → accumulator stays 0
    val memA = MemoryStream[(Long, Long, Long)]
    val (hitsA, accA) = graft.streaming.StreamingGrowthAccounting.emissions(
        memA.toDS().toDF("user_id", "ts_ms", "event_id"))
    val qA = hitsA
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gaooo1").start()
    try {
      memA.addData((1L, 0L, 1L)); qA.processAllAvailable()
      memA.addData((1L, 2 * wk, 2L)); qA.processAllAvailable()
      assert(accA.value == 0L, s"clean feed tripped the detector: ${accA.value}")
    } finally qA.stop()

    // the ADVICE scenario: user active weeks 0 and 2 in batch 1, then
    // a week-1 event arrives in batch 2 — strictly inside the span,
    // silently dropped from the counts (two-long state can't recover
    // it) but now LOUDLY counted as a contract violation
    val memB = MemoryStream[(Long, Long, Long)]
    val (hitsB, accB) = graft.streaming.StreamingGrowthAccounting.emissions(
        memB.toDS().toDF("user_id", "ts_ms", "event_id"))
    val qB = hitsB
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gaooo2").start()
    try {
      memB.addData(Seq((1L, 0L, 1L), (1L, 2 * wk, 2L))); qB.processAllAvailable()
      memB.addData((1L, wk, 3L)); qB.processAllAvailable()
      assert(accB.value == 1L,
        s"mid-span reorder must trip the detector: ${accB.value}")
    } finally qB.stop()
  }

  test("live KS shape drift: streamed sup rows EQUAL the batch " +
      "x_drift_ks output at EVERY split prefix (27th twin, merged-level " +
      "ECDF over a frozen early artifact)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the batch query's own split arithmetic, replayed to freeze the
    // early histogram and extract the late-half arrival stream
    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))

    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.HistogramDrift.ks(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ksdrift1").start()
    try {
      // the sup is re-derived per emission (no closed per-arrival
      // term exists — the twin's whole point), so parity is checked
      // at the FINAL prefix against the hash-matched batch query
      val third = late.length / 3
      mem.addData(late.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("ksdrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).maxBy(_._2) }
      val batch = graft.SparkEntry.queries("x_drift_ks")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed KS != batch: $streamed vs $batch")

      // mid-stream correctness (the claim the twin's scaladoc makes
      // for ANY prefix): re-derive the 1/3-prefix emission off-line
      // against a batch recompute over early + that prefix
      val pre = late.take(third)
      val preByType = pre.groupBy(_._1)
      val firstEmit = spark.table("ksdrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).minBy(_._2) }
      preByType.filter(kv => early.contains(kv._1)).foreach { case (t, xs) =>
        val lateHist = xs.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
        val eSide = early(t).sortBy(_._1)
        val ne = eSide.map(_._2).sum
        val nl = xs.length.toLong
        val merged = (eSide.map(_._1) ++ lateHist.keys).distinct.sorted
        var cumE = 0L; var cumL = 0L; var mx = -1L; var at = 0L
        merged.foreach { v =>
          cumE += eSide.filter(_._1 == v).map(_._2).sum
          cumL += lateHist.getOrElse(v, 0L)
          val term = math.abs(cumE * nl - cumL * ne)
          if (term > mx) { mx = term; at = v }
        }
        assert(firstEmit(t) == ((ne, nl, at, mx * 10000L / (ne * nl))),
          s"prefix emission for $t: ${firstEmit(t)}")
      }
    } finally q.stop()
  }

  test("live KS shape drift: checkpoint RESTART resumes the per-type " +
      "late histogram — final file-sink rows still equal the batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("ksdriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    // a reset state would restart the late histogram from empty and
    // the final sup would see only post-restart arrivals
    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.ks(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    val batch = graft.SparkEntry.queries("x_drift_ks")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed == batch,
      s"post-restart KS != batch: $streamed vs $batch")
  }

  test("live W1 earth-mover drift: streamed gap-weighted sums EQUAL the " +
      "batch x_drift_emd output at every split prefix (34th twin, the " +
      "KS state verbatim with a summed walk)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))

    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.HistogramDrift.emd(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("emddrift1").start()
    try {
      val third = late.length / 3
      mem.addData(late.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("emddrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).maxBy(_._2) }
      // the batch query is oracle-hash-matched, so this equality
      // chains stream ≡ batch ≡ DuckDB
      val batch = graft.SparkEntry.queries("x_drift_emd")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed W1 != batch: $streamed vs $batch")

      // mid-stream correctness at the 1/3 prefix: re-derive the
      // gap-weighted sum off-line over early + prefix
      val pre = late.take(third)
      val firstEmit = spark.table("emddrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).minBy(_._2) }
      pre.groupBy(_._1).filter(kv => early.contains(kv._1))
        .foreach { case (t, xs) =>
          val lateHist = xs.groupBy(_._2)
            .map { case (c, g) => c -> g.length.toLong }
          val eSide = early(t).sortBy(_._1)
          val ne = eSide.map(_._2).sum
          val nl = xs.length.toLong
          val merged = (eSide.map(_._1) ++ lateHist.keys).distinct.sorted
          var cumE = 0L; var cumL = 0L; var tot = 0L
          merged.zipWithIndex.foreach { case (v, i) =>
            cumE += eSide.filter(_._1 == v).map(_._2).sum
            cumL += lateHist.getOrElse(v, 0L)
            if (i + 1 < merged.length)
              tot += math.abs(cumE * nl - cumL * ne) * (merged(i + 1) - v)
          }
          val d2 = ne * nl
          val want = (ne, nl, (tot / d2) * 10000L + ((tot % d2) * 10000L) / d2)
          assert(firstEmit(t) == want,
            s"prefix emission for $t: ${firstEmit(t)} vs $want")
        }
    } finally q.stop()
  }

  test("live CvM drift: streamed integrated-shape rows EQUAL the batch " +
      "x_drift_cvm output across splits and a checkpoint restart (37th " +
      "twin — the KS state a third time, squared walk)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("cvmdriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.cvm(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    // the batch query is oracle-hash-matched, so this equality chains
    // stream ≡ batch ≡ DuckDB
    val batch = graft.SparkEntry.queries("x_drift_cvm")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"post-restart CvM != batch: $streamed vs $batch")
  }

  test("live AD drift: streamed tail-weighted rows EQUAL the batch " +
      "x_drift_ad output across splits and a checkpoint restart (41st " +
      "twin — the KS state a fourth time, variance-weighted walk)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("addriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.ad(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    // the batch query is oracle-hash-matched, so this equality chains
    // stream ≡ batch ≡ DuckDB
    val batch = graft.SparkEntry.queries("x_drift_ad")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"post-restart AD != batch: $streamed vs $batch")
  }

  test("live W1 earth-mover drift: checkpoint RESTART resumes the " +
      "per-type late histogram — final file-sink rows still equal the " +
      "batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("emddriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    // a reset state would restart the late histogram from empty and
    // the final sum would see only post-restart arrivals
    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.emd(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    val batch = graft.SparkEntry.queries("x_drift_emd")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch,
      s"post-restart W1 != batch: $streamed vs $batch")
  }

  test("live banded drift: streamed PSI AND chi2 rows EQUAL both batch " +
      "queries at the stream's end (29th twin, one frozen-band state " +
      "serving the pair)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))

    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.HistogramDrift.bands(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("bandsdrift1").start()
    try {
      val third = late.length / 3
      mem.addData(late.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(late.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("bandsdrift1")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
           r.getLong(5), r.getDouble(6))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(_._2).maxBy(_._2) }
      val psiB = graft.SparkEntry.queries("x_drift_psi")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      val chiB = graft.SparkEntry.queries("x_drift_chi2")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(streamed.nonEmpty, "no streamed rows")
      streamed.foreach { case (t, (ne, nl, nBins, psi, dof, chi2)) =>
        assert(psiB(t) == ((ne, nl, nBins, psi)),
          s"PSI $t: streamed ($ne,$nl,$nBins,$psi) vs batch ${psiB(t)}")
        assert(chiB(t) == ((ne, nl, dof, chi2)),
          s"chi2 $t: streamed ($ne,$nl,$dof,$chi2) vs batch ${chiB(t)}")
      }
      assert(streamed.keySet == psiB.keySet, "type coverage differs")
    } finally q.stop()
  }

  test("live banded drift: checkpoint RESTART resumes the per-type " +
      "band counts — final file-sink rows still equal both batch queries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("bandsdriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    // a reset state would restart every band counter and both
    // statistics would read only post-restart arrivals
    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.bands(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
         r.getLong(5), r.getDouble(6))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    val psiB = graft.SparkEntry.queries("x_drift_psi")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val chiB = graft.SparkEntry.queries("x_drift_chi2")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    streamed.foreach { case (t, (ne, nl, nBins, psi, dof, chi2)) =>
      assert(psiB(t) == ((ne, nl, nBins, psi)),
        s"post-restart PSI $t: ($ne,$nl,$nBins,$psi) vs ${psiB(t)}")
      assert(chiB(t) == ((ne, nl, dof, chi2)),
        s"post-restart chi2 $t: ($ne,$nl,$dof,$chi2) vs ${chiB(t)}")
    }
    assert(streamed.keySet == psiB.keySet, "type coverage differs")
  }

  test("live JS drift: streamed divergence rows EQUAL the batch " +
      "x_drift_js output at the stream's end (30th twin — every drift " +
      "member now has a live side); restart drill included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("jsdriftrestart")

    val d = eventsNanos(sf)
      .select($"event_type",
        expr("CAST(floor(value * 100.0) AS BIGINT)").as("cents"),
        expr("unix_millis(timestamp_micros(ts DIV 1000)) DIV 86400000")
          .as("day"),
        expr("ts DIV 1000").as("ts_us"), $"event_id")
    val Array(dd0, dd1) = d.agg(min($"day"), max($"day")).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dd0 + dd1) / 2
    val early = d.where($"day" <= mid)
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("ea"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val late = d.where($"day" > mid)
      .orderBy($"ts_us", $"event_id")
      .select($"event_type", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val half = late.length / 2

    // parquet sink + checkpoint restart in one drill: parity at the
    // end AND state survival across the restart
    val mem = MemoryStream[(String, Long)]
    def start() = graft.streaming.HistogramDrift.js(
        mem.toDS().toDF("event_type", "cents"), early)
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(late.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(late.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._2) }
    val batch = graft.SparkEntry.queries("x_drift_js")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed JS != batch: $streamed vs $batch")
  }

  test("live path mining: checkpoint RESTART resumes the last-two-types " +
      "state — file-sink trigrams still reproduce the batch top-20") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("pathsrestart")

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ms"),
        $"event_id", $"event_type")
      .orderBy($"ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val half = prepared.length / 2

    val mem = MemoryStream[(Long, Long, Long, String)]
    def start() = graft.streaming.StreamingPaths.paths(
        mem.toDS().toDF("user_id", "ts_ms", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    // a reset state would drop every trigram whose first two legs
    // arrived before the restart
    val q2 = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamedTop = spark.read.parquet(s"$dir/out")
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path").limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.SparkEntry.queries("x_event_paths")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamedTop.nonEmpty && streamedTop == batch,
      s"post-restart top-20 != batch: ${streamedTop.take(3)} vs ${batch.take(3)}")
  }

  test("live absorbing-chain mass: checkpoint RESTART resumes the per-user " +
      "state — file-sink emissions still fold to the batch columns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("absorbrestart")

    val prepared = eventsNanos(sf)
      .select($"user_id", expr("ts DIV 1000").as("ts_us"),
        $"event_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val half = prepared.length / 2

    // a parquet sink (unlike the memory sink) survives the restart, so
    // this drill pins BOTH exactly-once emission replay and the
    // flatMapGroupsWithState store resuming a user's last type
    val mem = MemoryStream[(Long, Long, Long, String)]
    def start() =
      graft.streaming.StreamingAbsorbMass.emissions(
          mem.toDS().toDF("user_id", "ts_us", "event_id", "event_type"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    // same source + checkpoint, new query (the StreamingKCenterSpec
    // restart shape): the restarted query must resume a user's last
    // type from the state store, not re-derive it — a reset state
    // would emit "arr" without the "out" for cross-restart transitions
    val q2 = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = graft.streaming.StreamingAbsorbMass
      .massOf(spark.read.parquet(s"$dir/out"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.SparkEntry.queries("x_markov_absorb")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"post-restart mass != batch: ${streamed.take(3)} vs ${batch.take(3)}")
  }

  test("live session windows: closed sessions match the batch r_stream_session rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the exact rows the batch query sees (same ns→µs→ms flooring)
        val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ms"))
      .orderBy($"ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDS().toDF("user_id", "ms")
      .select($"user_id", expr("timestamp_millis(ms)").as("ts"))
    val q = graft.streaming.StreamingSession.sessions(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions1").start()
    try {
      // three event-time-ordered micro-batches: sessions spanning a
      // split must merge in state, not emit twice
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()
      // sentinel far past the corpus advances the watermark and flushes
      // every open session (two batches: watermark is applied next-batch)
      val flushMs = prepared.last._2 + 30L * 86400000L
      mem.addData((-1L, flushMs)); q.processAllAvailable()
      mem.addData((-1L, flushMs + 1L)); q.processAllAvailable()

      val streamed = spark.table("sessions1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 >= 0).sorted.toSeq
      val batch = graft.SparkEntry.queries("r_stream_session")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed ${streamed.length} sessions vs batch ${batch.length}")
    } finally q.stop()
  }

  test("live funnel: streaming stage advances match the batch x_funnel counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // events in event-time order (the in-order delivery contract the
    // live folds document), split across three micro-batches
        val prepared = eventsNanos(sf)
      .select($"user_id", $"event_type",
        expr("timestamp_micros(ts DIV 1000)").as("tts"))
      .select($"user_id", $"event_type", expr("unix_millis(tts)").as("ms"))
      .orderBy($"ms")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    val mem = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingFunnel.advances(
        mem.toDS().toDF("user_id", "event_type", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("funnel1").start()
    try {
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val advances = spark.table("funnel1").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      // each user advances each stage at most once, stages in order
      advances.groupBy(_._1).foreach { case (u, as) =>
        val stages = as.map(_._2).sorted
        assert(stages.distinct.length == stages.length, s"user $u re-advanced")
        assert(stages.zipWithIndex.forall { case (s, i) => s == i + 1 },
          s"user $u skipped a stage: ${stages.toSeq}")
      }
      // per-stage user counts equal the batch query on the same data
      val streamedCounts = (1 to 3).map(s =>
        advances.count(_._2 == s).toLong)
      val batch = graft.SparkEntry.queries("x_funnel")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamedCounts(0) == batch("stage1_view"), "stage 1")
      assert(streamedCounts(1) == batch("stage2_click"), "stage 2")
      assert(streamedCounts(2) == batch("stage3_purchase"), "stage 3")
    } finally q.stop()
  }

  test("live retention: streamed (cohort, week) activations match batch x_retention") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

        val prepared = eventsNanos(sf)
      .select($"user_id", expr("ts DIV 1000000").as("ms"))
      .orderBy($"ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    val mem = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingRetention.activations(
        mem.toDS().toDF("user_id", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("retention1").start()
    try {
      val third = prepared.length / 3
      mem.addData(prepared.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(prepared.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("retention1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // no duplicate (user, week) activations across batches
      assert(streamed.distinct.length == streamed.length)
      // folded counts equal the batch query's (c_day, off_w, n_active)
      val folded = streamed.groupBy(t => (t._2, t._3))
        .map { case (k, v) => k -> v.length.toLong }
      val batch = graft.SparkEntry.queries("x_retention")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(folded == batch,
        s"streamed=$folded\nbatch=$batch")
    } finally q.stop()
  }

  test("live funnel state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("funnelckpt")
    val t0 = 1700000000000L
    val mem = MemoryStream[(Long, String, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    // memory sink can't recover from a checkpoint; foreachBatch can
    def start() = graft.streaming.StreamingFunnel.advances(
        mem.toDS().toDF("user_id", "event_type", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingFunnel.StageAdvance],
         _: Long) =>
          batch.collect().foreach(a => seen.add(a.user_id -> a.stage))
      }
      .start()

    // run 1: user 1 views (stage 1)
    val q1 = start()
    try {
      mem.addData((1L, "view", t0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.contains(1L -> 1), s"stage 1 not emitted: $seen")

    // run 2, same checkpoint: the click lands INSIDE the 24 h window
    // that only the RESUMED state (t1 from run 1) knows about — a
    // fresh-state incarnation would see no prior view and emit nothing
    val q2 = start()
    try {
      mem.addData((1L, "click", t0 + 3600000L))
      q2.processAllAvailable()
      assert(seen.contains(1L -> 2), s"state not resumed across restart: $seen")
      // and it never re-emitted stage 1
      assert(seen.stream.filter(_ == (1L -> 1)).count() == 1L)
    } finally q2.stop()
  }

  test("live path-mining state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("pathsckpt")
    val mem = MemoryStream[(Long, Long, Long, String)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = graft.streaming.StreamingPaths.paths(
        mem.toDS().toDF("user_id", "ts_ms", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingPaths.PathHit],
         _: Long) =>
          batch.collect().foreach(h => seen.add(h.path))
      }
      .start()

    // run 1: two events — one short of a trigram
    val q1 = start()
    try {
      mem.addData((1L, 1000L, 1L, "view"), (1L, 2000L, 2L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.isEmpty, s"no trigram should exist yet: $seen")

    // run 2, same checkpoint: the third event completes a trigram ONLY
    // the resumed (view, click) state knows about — fresh state would
    // see a lone purchase and emit nothing
    val q2 = start()
    try {
      mem.addData((1L, 3000L, 3L, "purchase"))
      q2.processAllAvailable()
      assert(seen.toArray.toSeq == Seq("view>click>purchase"),
        s"state not resumed across restart: $seen")
    } finally q2.stop()
  }

  test("live retention state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("retckpt")
    val day0 = 19700L * 86400000L // an arbitrary epoch day, ms
    val mem = MemoryStream[(Long, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = graft.streaming.StreamingRetention.activations(
        mem.toDS().toDF("user_id", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingRetention.WeekActive],
         _: Long) =>
          batch.collect().foreach(a => seen.add(a.user_id -> a.off_w))
      }
      .start()

    // run 1: user 7 active in week 0
    val q1 = start()
    try {
      mem.addData((7L, day0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.contains(7L -> 0L), s"week 0 not emitted: $seen")

    // run 2, same checkpoint: an event 10 days later must compute its
    // offset against the RESUMED cohort day (week 1) and an event in
    // the same week as run 1 must NOT re-emit week 0
    val q2 = start()
    try {
      mem.addData((7L, day0 + 10L * 86400000L), (7L, day0 + 86400000L))
      q2.processAllAvailable()
      assert(seen.contains(7L -> 1L), s"cohort day not resumed: $seen")
      assert(seen.stream.filter(_ == (7L -> 0L)).count() == 1L,
        s"week 0 re-emitted after restart: $seen")
    } finally q2.stop()
  }

  test("live spike detection matches batch x_spike_detect across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the same hourly rollup x_spike_detect starts from, hour-ordered
        val rollup = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 3600000000000").as("hour"))
      .groupBy($"event_type", $"hour")
      .agg(count(lit(1)).as("n"))
      .orderBy($"hour", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val mem = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingSpike.flags(
        mem.toDS().toDF("event_type", "hour", "n"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spike1").start()
    try {
      val third = rollup.length / 3
      mem.addData(rollup.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rollup.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rollup.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val streamed = spark.table("spike1").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.SparkEntry.queries("x_spike_detect")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size}\ndiff=${streamed.diff(batch)} / ${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("live SES level matches batch x_forecast_ses across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the same daily rollup x_forecast_ses folds, day-ordered
    val rollup = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 86400000000000").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val mem = MemoryStream[(String, Long, Long)]
    val (sesPts, sesAcc) = graft.streaming.DailyForecast.ses(
        mem.toDS().toDF("event_type", "day", "n"))
    val q = sesPts
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ses1").start()
    try {
      val third = rollup.length / 3
      mem.addData(rollup.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rollup.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(rollup.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      val pts = spark.table("ses1").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5)))
      // final level per type = the batch fold's level (exact dyadic
      // halvings → bit-identical); Σ abs_err/(n−1) = the batch MAE
      val lastLevel = pts.groupBy(_._1).map { case (t, rs) =>
        t -> rs.maxBy(_._2)._4
      }
      val errSum = pts.groupBy(_._1).map { case (t, rs) =>
        t -> (rs.map(_._3).sum, rs.length)
      }
      val batch = graft.SparkEntry.queries("x_forecast_ses")(spark, sf)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      batch.foreach { case (t, (nDays, level, mae)) =>
        assert(errSum(t)._2 == nDays, s"$t day count")
        assert(math.abs(lastLevel(t) -
          BigDecimal(level).toDouble) < 1e-3, s"$t level: ${lastLevel(t)} vs $level")
        val liveMae = errSum(t)._1 / (nDays - 1)
        assert(math.abs(liveMae - mae) < 1e-3, s"$t mae: $liveMae vs $mae")
      }
      assert(sesAcc.value == 0L,
        s"clean feed tripped the SES detector: ${sesAcc.value}")
      // r17: a re-delivered closed (type, day) row must trip the
      // detector and fold nothing (the InOrderFold rule every daily
      // fold shares)
      val before = spark.table("ses1").count()
      mem.addData(rollup.take(1).toIndexedSeq); q.processAllAvailable()
      assert(sesAcc.value == 1L,
        s"duplicate rollup row must trip the SES detector: ${sesAcc.value}")
      assert(spark.table("ses1").count() == before,
        "violating row must emit nothing")
    } finally q.stop()
  }

  test("forecast family live side COMPLETE (38th-40th twins): Holt and " +
      "damped-Holt last emissions are BIT-identical to their batch rows; " +
      "HW-log matches round-4 across a checkpoint restart; duplicates " +
      "trip each detector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("hwlogrestart")

    val rollup = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 86400000000000").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val third = rollup.length / 3

    // Holt (38th): exact integers, three-batch split, then a duplicate
    val memH = MemoryStream[(String, Long, Long)]
    val (hPts, hAcc) = graft.streaming.DailyForecast.holt(
      memH.toDS().toDF("event_type", "day", "n"))
    val qH = hPts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("holt1").start()
    try {
      memH.addData(rollup.take(third).toIndexedSeq); qH.processAllAvailable()
      memH.addData(rollup.slice(third, 2 * third).toIndexedSeq); qH.processAllAvailable()
      memH.addData(rollup.drop(2 * third).toIndexedSeq); qH.processAllAvailable()
      val streamed = spark.table("holt1")
        .collect().map(r => (r.getString(0),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
           r.getLong(6))))
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._1) }
      val batch = graft.SparkEntry.queries("x_forecast_holt")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed Holt != batch: $streamed vs $batch")
      assert(hAcc.value == 0L, "clean feed tripped the Holt detector")
      memH.addData(rollup.take(1).toIndexedSeq); qH.processAllAvailable()
      assert(hAcc.value == 1L, "duplicate must trip the Holt detector")
    } finally qH.stop()

    // damped Holt (39th): same drill shape
    val memD = MemoryStream[(String, Long, Long)]
    val (dPts, dAcc) = graft.streaming.DailyForecast.holtDamped(
      memD.toDS().toDF("event_type", "day", "n"))
    val qD = dPts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("holtdamp1").start()
    try {
      memD.addData(rollup.take(third).toIndexedSeq); qD.processAllAvailable()
      memD.addData(rollup.drop(third).toIndexedSeq); qD.processAllAvailable()
      def streamedD() = spark.table("holtdamp1")
        .collect().map(r => (r.getString(0),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
           r.getLong(6), r.getLong(7), r.getLong(8))))
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._1) }
      val streamed = streamedD()
      val batch = graft.SparkEntry
        .queries("x_forecast_holt_damped")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed damped != batch: $streamed vs $batch")
      assert(dAcc.value == 0L, "clean feed tripped the damped detector")
      // a re-delivered closed (type, day) row trips the detector and
      // leaves every type's last emission as it was
      memD.addData(rollup.take(1).toIndexedSeq); qD.processAllAvailable()
      assert(dAcc.value == 1L, "duplicate must trip the damped detector")
      assert(streamedD() == streamed,
        "a duplicate must not move the damped last emissions")
    } finally qD.stop()

    // HW-log (40th): double state — parquet sink + RESTART drill; the
    // raw state is bit-identical (same operand trees), emissions
    // round-4 equal the batch row
    val memL = MemoryStream[(String, Long, Long)]
    def startL() = {
      val (pts, acc) = graft.streaming.DailyForecast.hwLog(
        memL.toDS().toDF("event_type", "day", "n"))
      (pts.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val half = rollup.length / 2
    val (qL1, lAcc1) = startL()
    try { memL.addData(rollup.take(half).toIndexedSeq); qL1.processAllAvailable() }
    finally qL1.stop()
    val (qL2, lAcc2) = startL()
    try { memL.addData(rollup.drop(half).toIndexedSeq); qL2.processAllAvailable() }
    finally qL2.stop()
    assert(lAcc1.value + lAcc2.value == 0L,
      "clean feed tripped the HW-log detector")
    def streamedHwLog() = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6), r.getDouble(7), r.getDouble(8))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._1) }
    val streamedL = streamedHwLog()
    val batchL = graft.SparkEntry.queries("x_forecast_hw_log")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(streamedL.nonEmpty && streamedL == batchL,
      s"post-restart HW-log != batch: $streamedL vs $batchL")
    // a re-delivered closed (type, day) row after a second restart trips
    // the detector and leaves every type's last emission as it was
    val (qL3, lAcc3) = startL()
    try { memL.addData(rollup.take(1).toIndexedSeq); qL3.processAllAvailable() }
    finally qL3.stop()
    assert(lAcc3.value == 1L, "duplicate must trip the HW-log detector")
    assert(streamedHwLog() == streamedL,
      "a duplicate must not move the HW-log last emissions")
  }

  test("live weekday ANOVA: last emission per type EQUALS the batch " +
      "x_weekday_anova row across a checkpoint restart (42nd twin — " +
      "7x3 longs of sufficient statistics); a duplicate trips the " +
      "detector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("anovarestart")

    val rollup = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 86400000000000").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val half = rollup.length / 2

    val mem = MemoryStream[(String, Long, Long)]
    def start() = {
      val (pts, acc) = graft.streaming.StreamingWeekdayAnova.stats(
        mem.toDS().toDF("event_type", "day", "n"))
      (pts.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val (q1, acc1) = start()
    try { mem.addData(rollup.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val (q2, acc2) = start()
    try { mem.addData(rollup.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    assert(acc1.value + acc2.value == 0L,
      s"clean feed tripped the detector: ${acc1.value}/${acc2.value}")

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
         r.getDouble(5))))
      .groupBy(_._1).map { case (t, xs) =>
        val last = xs.map(_._2).maxBy(_._1)
        t -> ((last._2, last._3, last._4, last._5)) }
    // the batch query is oracle-hash-matched, so this equality chains
    // stream ≡ batch ≡ DuckDB
    val batch = graft.SparkEntry.queries("x_weekday_anova")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"post-restart ANOVA != batch: $streamed vs $batch")

    // duplicate detector: re-deliver the feed's first closed rollup row
    val mem2 = MemoryStream[(String, Long, Long)]
    val (pts2, acc3) = graft.streaming.StreamingWeekdayAnova.stats(
      mem2.toDS().toDF("event_type", "day", "n"))
    val q3 = pts2.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("anova2").start()
    try {
      mem2.addData(Seq(("a", 3L, 5L), ("a", 4L, 7L))); q3.processAllAvailable()
      mem2.addData(("a", 3L, 5L)); q3.processAllAvailable()
      assert(acc3.value == 1L,
        s"duplicate must trip the detector: ${acc3.value}")
    } finally q3.stop()
  }

  test("live Holt-Winters state: last emission per type EQUALS the " +
      "batch x_forecast_holt_winters row across batch splits (31st " +
      "twin); checkpoint restart resumes the 11-long state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("hwrestart")

    // the same daily rollup the batch query folds, day-ordered
    val rollup = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 86400000000000").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val half = rollup.length / 2

    // parquet sink + restart in one drill: every emitted column is an
    // exact integer, so the final row per type must be BIT-identical
    // to the oracle-hash-matched batch row
    val mem = MemoryStream[(String, Long, Long)]
    def start() = {
      val (pts, acc) = graft.streaming.DailyForecast.holtWinters(
        mem.toDS().toDF("event_type", "day", "n"))
      (pts.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val (q1, acc1) = start()
    try { mem.addData(rollup.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val (q2, acc2) = start()
    try { mem.addData(rollup.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    // the day-ordered rollup is a clean in-order feed: the ADVICE-r16
    // duplicate/reorder detector must stay at zero across the restart
    assert(acc1.value + acc2.value == 0L,
      s"clean feed tripped the HW detector: ${acc1.value}/${acc2.value}")

    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getString(0),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
         r.getLong(6), r.getLong(7), r.getLong(8))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._1) }
    val batch = graft.SparkEntry.queries("x_forecast_holt_winters")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed HW != batch: $streamed vs $batch")

    // ADVICE r16: a re-delivered closed (type, day) row and a
    // prior-day reorder must each trip the detector WITHOUT folding
    // (the state after the violations equals the state before them)
    val mem2 = MemoryStream[(String, Long, Long)]
    val (pts2, accD) = graft.streaming.DailyForecast.holtWinters(
      mem2.toDS().toDF("event_type", "day", "n"))
    val q3 = pts2.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("hwooo1").start()
    try {
      mem2.addData(Seq(("a", 10L, 5L), ("a", 11L, 7L))); q3.processAllAvailable()
      val clean = spark.table("hwooo1").collect().map(_.toSeq).toSeq
      mem2.addData(Seq(("a", 11L, 7L), ("a", 9L, 3L))); q3.processAllAvailable()
      assert(accD.value == 2L,
        s"duplicate + reorder must trip the detector twice: ${accD.value}")
      // nothing was emitted for the violating rows, and a subsequent
      // in-order day folds from the UNCORRUPTED state
      mem2.addData(("a", 12L, 9L)); q3.processAllAvailable()
      val after = spark.table("hwooo1").collect().map(_.toSeq).toSeq
      assert(after.size == clean.size + 1,
        s"violating rows must emit nothing: ${after.size} vs ${clean.size}")
    } finally q3.stop()
  }

  test("live session-count ladder: streamed hits fold to the batch " +
      "x_session_gap_sweep rows across a checkpoint restart (32nd " +
      "twin); a reorder trips the detector and a clean feed does not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("sesscount")

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val half = prepared.length / 2

    val mem = MemoryStream[(Long, Long, Long)]
    def start() = {
      val (hits, acc) = graft.streaming.StreamingSessionCount.emissions(
        mem.toDS().toDF("user_id", "ts_ms", "event_id"))
      (hits.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val (q1, acc) = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val (q2, acc2) = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    assert(acc.value + acc2.value == 0L,
      s"clean feed tripped the detector: ${acc.value}/${acc2.value}")

    val streamed = graft.streaming.StreamingSessionCount
      .sessionsOf(spark.read.parquet(s"$dir/out"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("x_session_gap_sweep")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"post-restart sessions != batch: $streamed vs $batch")

    // reorder detector: a user's earlier-ms event in a later batch
    val mem2 = MemoryStream[(Long, Long, Long)]
    val (sessHits2, acc3) = graft.streaming.StreamingSessionCount.emissions(
        mem2.toDS().toDF("user_id", "ts_ms", "event_id"))
    val q3 = sessHits2
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sesscount2").start()
    try {
      mem2.addData((7L, 100000L, 1L)); q3.processAllAvailable()
      mem2.addData((7L, 50000L, 2L)); q3.processAllAvailable()
      assert(acc3.value == 1L,
        s"reorder must trip the detector: ${acc3.value}")
    } finally q3.stop()
  }

  test("live cohort half-life: streamed existence hits fold to the " +
      "batch x_cohort_halflife rows across a checkpoint restart (35th " +
      "twin); a reorder trips the detector and a clean feed does not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("cohorthl")

    val prepared = eventsNanos(sf)
      .select($"user_id",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val half = prepared.length / 2

    // parquet sink + restart in one drill: a reset state would re-seed
    // already-cohorted users (overcounting n_users) and mis-offset
    // their later weeks
    val mem = MemoryStream[(Long, Long, Long)]
    def start() = {
      val (hits, acc) = graft.streaming.StreamingCohortHalflife.emissions(
        mem.toDS().toDF("user_id", "ts_ms", "event_id"))
      (hits.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val (q1, acc1) = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val (q2, acc2) = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    assert(acc1.value + acc2.value == 0L,
      s"clean feed tripped the detector: ${acc1.value}/${acc2.value}")

    val streamed = graft.streaming.StreamingCohortHalflife
      .halfLifeOf(spark.read.parquet(s"$dir/out"))
      .collect().map(_.toSeq).toSeq
    // the batch query is oracle-hash-matched, so this equality chains
    // stream ≡ batch ≡ DuckDB for the full per-cohort fit table
    val batch = graft.SparkEntry.queries("x_cohort_halflife")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"post-restart cohort fit != batch: $streamed vs $batch")

    // reorder detector: a user seen in week 2 then fed a week-1 event
    // in a later batch (an uncounted mid-span week — the exact case
    // the two-long state cannot recover)
    val mem2 = MemoryStream[(Long, Long, Long)]
    val wk = 604800000L
    val (hits2, acc3) = graft.streaming.StreamingCohortHalflife.emissions(
        mem2.toDS().toDF("user_id", "ts_ms", "event_id"))
    val q3 = hits2
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cohorthl2").start()
    try {
      mem2.addData(Seq((5L, 0L, 1L), (5L, 2 * wk, 2L))); q3.processAllAvailable()
      mem2.addData((5L, wk, 3L)); q3.processAllAvailable()
      assert(acc3.value == 1L,
        s"mid-span reorder must trip the detector: ${acc3.value}")
    } finally q3.stop()
  }

  test("live conversion lag: streamed per-user lag hits fold to the " +
      "batch x_conversion_lag ladder across a checkpoint restart (36th " +
      "twin); a reorder trips the detector and a clean feed does not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("convlag")

    val prepared = eventsNanos(sf)
      .select($"user_id", $"event_type",
        expr("unix_millis(timestamp_micros(ts DIV 1000))").as("ts_ms"),
        $"event_id")
      .orderBy($"ts_ms", $"event_id")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val half = prepared.length / 2

    // restart drill: a reset state would forget first views (missing
    // conversions) or re-emit for already-converted users
    val mem = MemoryStream[(Long, String, Long, Long)]
    def start() = {
      val (hits, acc) = graft.streaming.StreamingConversionLag.emissions(
        mem.toDS().toDF("user_id", "event_type", "ts_ms", "event_id"))
      (hits.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start(), acc)
    }
    val (q1, acc1) = start()
    try { mem.addData(prepared.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val (q2, acc2) = start()
    try { mem.addData(prepared.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    assert(acc1.value + acc2.value == 0L,
      s"clean feed tripped the detector: ${acc1.value}/${acc2.value}")

    val streamed = graft.streaming.StreamingConversionLag
      .ladderOf(spark.read.parquet(s"$dir/out"))
      .collect().map(_.toSeq).toSeq
    // the batch query is oracle-hash-matched, so this equality chains
    // stream ≡ batch ≡ DuckDB for the full ladder
    val batch = graft.SparkEntry.queries("x_conversion_lag")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"post-restart ladder != batch: $streamed vs $batch")

    // detector + semantics micro-drill: user 42 purchases BEFORE any
    // view (no conversion), views, then converts on the NEXT purchase;
    // an out-of-order arrival afterwards trips the accumulator
    val mem2 = MemoryStream[(Long, String, Long, Long)]
    val (hits2, acc3) = graft.streaming.StreamingConversionLag.emissions(
        mem2.toDS().toDF("user_id", "event_type", "ts_ms", "event_id"))
    val q3 = hits2
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("convlag2").start()
    try {
      mem2.addData(Seq((42L, "purchase", 10L, 1L), (42L, "view", 20L, 2L)))
      q3.processAllAvailable()
      mem2.addData((42L, "purchase", 50L, 3L)); q3.processAllAvailable()
      val lags = spark.table("convlag2").collect().map(_.getLong(0)).toSeq
      assert(lags == Seq(30L),
        s"pre-view purchase must not convert; next one must: $lags")
      mem2.addData((42L, "view", 30L, 4L)); q3.processAllAvailable()
      assert(acc3.value == 1L,
        s"reorder must trip the detector: ${acc3.value}")
    } finally q3.stop()
  }

  test("live Benford screen: streamed digit rows EQUAL the batch " +
      "x_value_benford output across a checkpoint restart (33rd twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("benfordrestart")

    val cents = eventsNanos(sf)
      .select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"), expr("ts DIV 1000").as("ts_us"), $"event_id")
      .orderBy($"ts_us", $"event_id")
      .collect().map(_.getLong(0))
    val half = cents.length / 2

    val mem = MemoryStream[Long]
    def start() = graft.streaming.StreamingBenford.profile(
        mem.toDS().toDF("cents"))
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = start()
    try { mem.addData(cents.take(half).toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { mem.addData(cents.drop(half).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    // last emission per digit = the running profile at stream end;
    // every column is an exact integer → bit-equal to the batch row
    val streamed = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).maxBy(_._1) }
    val batch = graft.SparkEntry.queries("x_value_benford")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed Benford != batch: $streamed vs $batch")
  }

  test("live CUSUM changepoint matches batch x_changepoint across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // split the RAW event stream (not pre-closed days): boundary days
    // land partial counts in two batches, exercising the merge-by-sum
    val pairs = eventsNanos(sf)
      .select($"event_type", expr("ts DIV 86400000000000").as("day"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def rollup(part: Array[(String, Long)]): Seq[(String, Long, Long)] =
      part.groupBy(identity).map { case ((t, d), g) => (t, d, g.length.toLong) }.toSeq

    val mem = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingChangepoint.points(
        mem.toDS().toDF("event_type", "day", "c"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cp1").start()
    try {
      val third = pairs.length / 3
      mem.addData(rollup(pairs.take(third))); q.processAllAvailable()
      mem.addData(rollup(pairs.slice(third, 2 * third))); q.processAllAvailable()
      mem.addData(rollup(pairs.drop(2 * third))); q.processAllAvailable()

      // latest emission per type = the one with the max obs (monotone)
      val live = spark.table("cp1").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).map { case (t, rs) =>
          val last = rs.maxBy(_._5)
          t -> ((last._2, last._3, last._4))
        }
      val batch = graft.SparkEntry.queries("x_changepoint")(spark, sf)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(live == batch, s"live=$live\nbatch=$batch")
    } finally q.stop()
  }

  test("live burstiness screen matches batch x_bot_burst across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the raw event feed, (ms, event_id)-ordered — the in-order-per-user
    // delivery contract the live fold assumes
        val feed = eventsNanos(sf)
      .select($"user_id", $"event_id", expr("ts DIV 1000000").as("ms"))
      .orderBy($"ms", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingBurst.stats(
        mem.toDS().toDF("user_id", "event_id", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("burst1").start()
    try {
      val third = feed.length / 3
      mem.addData(feed.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(feed.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(feed.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      // latest snapshot per user (n_gaps increases strictly across a
      // user's emissions, so max-n_gaps IS the final row), then the
      // batch query's exact ordering + top-20
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"n_gaps".desc)
      val streamed = spark.table("burst1")
        .withColumn("rn", row_number().over(wLast)).where($"rn" === 1)
        .orderBy($"burst_bp".desc, $"n_gaps".desc, $"user_id").limit(20)
        .select($"user_id", $"n_gaps", $"n_burst", $"min_gap_ms", $"burst_bp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val batch = graft.SparkEntry.queries("x_bot_burst")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(streamed == batch,
        s"streamed=${streamed.take(5)}... batch=${batch.take(5)}...")
    } finally q.stop()
  }

  test("live burst state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("burstckpt")
    val t0 = 1700000000000L
    val mem = MemoryStream[(Long, Long, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingBurst.BurstStat]()
    def start() = graft.streaming.StreamingBurst.stats(
        mem.toDS().toDF("user_id", "event_id", "ms"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingBurst.BurstStat],
         _: Long) => batch.collect().foreach(seen.add)
      }
      .start()

    // run 1: two events 30s apart — one burst gap
    val q1 = start()
    try {
      mem.addData((9L, 1L, t0), (9L, 2L, t0 + 30000L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.asScala.exists(s => s.user_id == 9L && s.n_gaps == 1L && s.n_burst == 1L),
      s"burst gap not counted before restart: $seen")

    // run 2, same checkpoint: ONE more event 20s later — the gap spans
    // the restart, so the resumed lastMs must produce (2 gaps, 2 bursts)
    val q2 = start()
    try {
      mem.addData((9L, 3L, t0 + 50000L))
      q2.processAllAvailable()
      assert(seen.asScala.exists(s =>
          s.user_id == 9L && s.n_gaps == 2L && s.n_burst == 2L &&
          s.min_gap_ms == 20000L && s.burst_bp == 10000L),
        s"state not resumed across restart: $seen")
    } finally q2.stop()
  }

  test("live changepoint state survives a query restart (checkpoint resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("cpckpt")
    val mem = MemoryStream[(String, Long, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingChangepoint.CpPoint]()
    def start() = graft.streaming.StreamingChangepoint.points(
        mem.toDS().toDF("event_type", "day", "c"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingChangepoint.CpPoint],
         _: Long) => batch.collect().foreach(seen.add)
      }
      .start()

    // run 1: flat series 10,10 — changepoint stat over 2 days
    val q1 = start()
    try {
      mem.addData(("a", 100L, 10L), ("a", 101L, 10L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.asScala.exists(p => p.event_type == "a" && p.n_days == 2L && p.obs == 20L),
      s"no emission before restart: $seen")

    // run 2, same checkpoint: a level shift lands — the resumed
    // day-count map must place the changepoint at the last flat day
    val q2 = start()
    try {
      mem.addData(("a", 102L, 40L), ("a", 103L, 40L))
      q2.processAllAvailable()
      // series 10,10,40,40: T=100, D=4; k=2 (day 101): |4*20-2*100|=120
      // is the argmax → cp_day=101, obs=100 proves the pre-restart
      // counts were resumed, not rebuilt from batch 2 alone
      assert(seen.asScala.exists(p =>
          p.event_type == "a" && p.cp_day == 101L && p.cusum_abs == 120L &&
          p.n_days == 4L && p.obs == 100L),
        s"state not resumed across restart: $seen")
    } finally q2.stop()
  }

  test("live last-touch attribution matches batch x_attribution across batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

    // the raw feed in the batch window's exact (ts_us, event_id) order;
    // sequential splits preserve per-user order across batches (the
    // in-order delivery contract all live folds assume)
        val feed = eventsNanos(sf)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("ts_us"),
        $"event_type", $"value")
      .orderBy($"ts_us", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))

    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val q = graft.streaming.StreamingAttribution.credits(
        mem.toDS().toDF("user_id", "event_id", "ts_us", "event_type", "value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr1").start()
    try {
      val third = feed.length / 3
      mem.addData(feed.take(third).toIndexedSeq); q.processAllAvailable()
      mem.addData(feed.slice(third, 2 * third).toIndexedSeq); q.processAllAvailable()
      mem.addData(feed.drop(2 * third).toIndexedSeq); q.processAllAvailable()

      // every purchase emits exactly one credit; summing them with the
      // batch query's money arithmetic reproduces the channel totals
      val streamed = spark.table("attr1")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_purch"),
          sum($"value".cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("revenue"))
        .orderBy($"channel")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val batch = graft.SparkEntry.queries("x_attribution")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("live type-mix drift matches batch x_drift_tvd per week") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"

        val weekly = eventsNanos(sf)
      .select(expr("(ts DIV 1000000) DIV 604800000").as("w"), $"event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val w0 = weekly.map(_._1).min
    // the frozen reference: the baseline week's type mix, computed once
    val baseline = weekly.filter(_._1 == w0)
      .groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val feed = weekly.filter(_._1 > w0)
      .map { case (w, t) => (w - w0, t) }

    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDrift.drift(
        mem.toDS().toDF("week_idx", "event_type"), baseline)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("drift1").start()
    try {
      val half = feed.length / 2
      mem.addData(feed.take(half).toIndexedSeq); q.processAllAvailable()
      mem.addData(feed.drop(half).toIndexedSeq); q.processAllAvailable()

      // final snapshot per week (n_seen grows strictly across a week's
      // emissions) vs the batch query's per-week tvd_bp
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy($"week_idx").orderBy($"n_seen".desc)
      val streamed = spark.table("drift1")
        .withColumn("rn", row_number().over(wLast)).where($"rn" === 1)
        .select($"week_idx", $"tvd_bp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.SparkEntry.queries("x_drift_tvd")(spark, sf)
        .select($"week_idx", $"tvd_bp").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("live lumpability: streamed transition hits fold to the batch " +
      "x_markov_lumpable table across micro-batch splits AND a checkpoint " +
      "restart (43rd twin — the batch fold run over counted emissions); a " +
      "clean feed keeps the reorder detector at zero") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val dir = tmpDir("lumprestart")

    // the exact per-user order the batch lag window uses: (µs, event_id)
    val prepared = eventsNanos(sf)
      .select($"user_id", expr("ts DIV 1000").as("ts_us"),
        $"event_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val third = prepared.length / 3

    val mem = MemoryStream[(Long, Long, Long, String)]
    val (hits, acc) = graft.streaming.StreamingMarkovLumpable.emissions(
      mem.toDS().toDF("user_id", "ts_us", "event_id", "event_type"))
    def start() = hits
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()

    // two splits, STOP (checkpoint), restart, third split: a reset
    // last-type state would drop every split- and restart-crossing
    // transition and the counted chain would undercount
    val q1 = start()
    try {
      mem.addData(prepared.take(third).toIndexedSeq); q1.processAllAvailable()
      mem.addData(prepared.slice(third, 2 * third).toIndexedSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try { mem.addData(prepared.drop(2 * third).toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = graft.streaming.StreamingMarkovLumpable.verdictOf(
        spark.read.parquet(s"$dir/out"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val batch = graft.SparkEntry.queries("x_markov_lumpable")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed lumpability != batch:\n$streamed\nvs\n$batch")
    assert(acc.value == 0L, s"clean feed tripped the reorder detector: ${acc.value}")
  }

  test("live lumpability: an out-of-order arrival (including an equal-µs " +
      "id reversal) trips the detector and folds nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, Long, Long, String)]
    val (hits, acc) = graft.streaming.StreamingMarkovLumpable.emissions(
      mem.toDS().toDF("user_id", "ts_us", "event_id", "event_type"))
    val q = hits.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lumpooo").start()
    try {
      mem.addData(Seq((1L, 1000L, 10L, "view"), (1L, 2000L, 11L, "click")))
      q.processAllAvailable()
      // strictly earlier µs AND an equal-µs id reversal — both violate
      // the batch (ts_us, event_id) order and must fold nothing
      mem.addData(Seq((1L, 500L, 12L, "error"), (1L, 2000L, 9L, "purchase")))
      q.processAllAvailable()
      mem.addData(Seq((1L, 3000L, 13L, "view")))
      q.processAllAvailable()
      val got = spark.table("lumpooo")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("view", "click"), ("click", "view")),
        s"reordered arrivals leaked into the chain: $got")
      assert(acc.value == 2L, s"detector count: ${acc.value}")
    } finally q.stop()
  }
}
