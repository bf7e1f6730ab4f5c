package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.SimHash
import graft.multimodal.{FakeCodec, MediaPipeline, MediaRow}

/** Invariants for the probabilistic dedup operators (no SQL oracle) and
  * the multimodal pipeline. */
class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def docTokens = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("lang"),
      expr("filter(split(lower(text), ' +'), x -> x != '')").as("toks"))

  /** Brute-force exact 3-gram-Jaccard pairs (un-blocked ground truth). */
  private def exactPairs(minBp: Long): Set[(Long, Long)] = {
    val sh = docTokens
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))""").as("sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jac_bp", floor(col("inter") * 10000.0 /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter"))).cast("long"))
      .where(col("jac_bp") >= minBp)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash: every reported pair is exact-verified; identical sets always found") {
    val got = MinHashDedup.nearDuplicates(docTokens, "doc_id", "toks")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairs(6000)
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    // jac == 1.0 pairs collide in every band → recall 1.0 guaranteed
    val identical = exactPairs(10000)
    assert(identical.subsetOf(got), s"missed identical pairs: ${identical -- got}")
    assert(got.nonEmpty)
  }

  test("minhash calibration: estimates track exact jaccard, deterministic") {
    val cal = MinHashDedup.calibration(docTokens, "doc_id", "toks").collect()
    assert(cal.nonEmpty, "no candidate pairs to calibrate on")
    var totalPairs = 0L
    var weightedMae = 0L
    cal.foreach { r =>
      val (dec, n, meanEst, meanExact, mae) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(dec >= 0 && dec <= 9, s"decile $dec out of range (10000 bp clamps to 9)")
      assert(meanEst >= 0 && meanEst <= 10000 && meanExact >= 0 && meanExact <= 10000)
      // the decile's mean estimate can't drift far from its mean exact:
      // 32-sig minhash std is ~880 bp, so 3000 bp of systematic bias
      // per decile would mean the hash family is broken
      assert(math.abs(meanEst - meanExact) <= 3000,
        s"decile $dec biased: est $meanEst vs exact $meanExact")
      totalPairs += n
      weightedMae += n * mae
    }
    // corpus-wide mean absolute error within ~2 sigma of the 32-sig bound
    assert(weightedMae / totalPairs <= 2000,
      s"overall MAE ${weightedMae / totalPairs} bp too high")
    // deterministic across runs
    val again = MinHashDedup.calibration(docTokens, "doc_id", "toks").collect()
    assert(cal.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("x_minhash_error (persisted signed front-end) EQUALS the live " +
      "calibration chain bit-for-bit (VERDICT r14 #3 artifact pin)") {
    // the declared query reads the per-(JVM, generation) signed-docs
    // artifact; the live chain re-signs the corpus — equality pins that
    // persisting the front-end changed WHERE the signatures come from,
    // never their values or anything downstream
    val viaArtifact = graft.SparkEntry.queries("x_minhash_error")(spark, sf)
      .collect().map(_.toString)
    val live = MinHashDedup.calibration(
      docTokens.select(col("doc_id"), col("toks")), "doc_id", "toks")
      .collect().map(_.toString)
    assert(viaArtifact.sameElements(live),
      s"artifact path diverged from live:\n ${viaArtifact.mkString("|")}\n ${live.mkString("|")}")
  }

  test("simhash expression: codegen path == kernel; identical token sets → distance 0") {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("x", "y", "z", "w"))).toDF("id", "toks")
    val sigs = df.selectExpr("id", "simhash64(toks) AS s").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(SimHash.hamming(sigs(1L), sigs(3L)) > 10)
  }

  test("simhash dedup finds the identical-token-set pairs with hamming 0") {
    val got = SimHashDedup.nearDuplicates(docTokens, "doc_id", "toks")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // token-3-gram-identical pairs have identical token sequences → sig equal
    val identical = exactPairs(10000)
    identical.foreach { p =>
      assert(got.get(p).exists(_ <= 3), s"pair $p missing or too distant")
    }
  }

  test("multimodal: batched decode preserves rows, features deterministic, stub wired") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      MediaRow(i.toLong, "image", Array.fill(i % 97 + 1)((i % 251).toByte), i % 640, i % 480)
    }
    val ds = spark.createDataset(rows).repartition(4)
    val feats = MediaPipeline.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.length == 200)
    feats.foreach { f =>
      val orig = rows(f.media_id.toInt)
      assert(f.n_bytes == orig.media.length.toLong)
      assert(f.checksum == FakeCodec.checksum(orig.media))
      assert(f.feat.length == FakeCodec.FeatureDim)
    }
    // frame sampling keeps every stride-th row
    assert(MediaPipeline.sample(ds, 10L).count() == 20)
  }

  test("multimodal: batched resize normalizes dims, shrinks payloads, stays narrow") {
    import spark.implicits._
    val rows = (1 until 100).map { i =>
      MediaRow(i.toLong, "image", Array.fill(i * 10)((i % 251).toByte),
        width = i * 4, height = i * 3)
    }
    val ds = spark.createDataset(rows).repartition(4)
    val resized = MediaPipeline.resizeAll(ds, 64, 48).collect().sortBy(_.media_id)
    assert(resized.length == rows.length)
    resized.foreach { r =>
      val orig = rows(r.media_id.toInt - 1)
      assert(r.width == 64 && r.height == 48)
      assert(r.media.length >= 1 && r.media.length <= orig.media.length)
      // deterministic: same input -> same bytes
      assert(java.util.Arrays.equals(r.media,
        FakeCodec.resize(orig, 64, 48).media))
    }
    // narrow: no exchange in the resize stage
    val plan = MediaPipeline.resizeAll(ds, 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // resized media flows straight into the decode stage (the pipeline
    // composes: sample -> resize -> extract)
    val feats = MediaPipeline.extractFeatures(
      MediaPipeline.resizeAll(MediaPipeline.sample(ds, 10L), 64, 48)).collect()
    assert(feats.length == 9 && feats.forall(_.width == 64))
  }

  test("shard writer: layout matches the x_shard_assign audit, lossless, rerunnable") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = tmpDir("shards")
    val audit = ShardWriter.write(docs, out, shards = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the audit query predicted this exact layout
    val predicted = graft.SparkEntry.queries("x_shard_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit == predicted, s"layout diverged from audit: $audit vs $predicted")

    // physical dirs exist per shard; nothing lost or duplicated
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.length == audit.size)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)

    // rerunnable: a second write lands every doc in the same shard
    val out2 = tmpDir("shards2")
    ShardWriter.write(docs, out2, shards = 16)
    val a = spark.read.parquet(out).select(col("doc_id"), col("shard"))
    val b = spark.read.parquet(out2).select(col("doc_id"), col("shard"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }
}
