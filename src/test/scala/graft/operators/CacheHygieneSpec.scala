package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Operators must not leak cached blocks into a long-lived session: the
  * dedup/ANN family runs back-to-back (no clearCache() between them, the
  * way a real pipeline composes them) and afterwards the context holds
  * zero persisted RDDs. The self-join reuse that persist() used to buy
  * is now a ReusedExchange (shuffle files — evictable, nothing to
  * unpersist), which the plan-shape assertions below pin.
  */
class CacheHygieneSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def emb = {
    graft.GraftFunctions.install(spark)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .repartition(4)
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  private def docToks = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("lang"),
      expr("filter(split(lower(text), ' +'), x -> x != '')").as("toks"))

  test("dedup/ANN operators back-to-back leave no cached blocks behind") {
    spark.sharedState.cacheManager.clearCache()

    // one full pass of each operator, results consumed to completion
    assert(MinHashDedup.nearDuplicates(docToks, "doc_id", "toks").collect().nonEmpty)
    assert(SimHashDedup.nearDuplicates(docToks, "doc_id", "toks").collect().nonEmpty)
    assert(EmbedNearDup.pairs(emb, threshold = 0.45).collect().nonEmpty)
    assert(HyperplaneLSH.searchTopK(emb, 64, Seq(0L, 1L), 3).collect().nonEmpty)
    val cents = KMeansIVF.train(emb, k = 4, iters = 2)
    assert(KMeansIVF.searchTopK(emb, cents, Seq(0L, 1L), 3).collect().nonEmpty)
    val edges = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (7L, 8L)))
      .toDF("a_id", "b_id")
    assert(ConnectedComponents.components(edges, "a_id", "b_id").collect().length == 5)
    // the index writers run localCheckpoint internally and must release
    // it before returning (CheckpointHygiene) — clearCache() would NOT
    // free those blocks in a long session
    val idxDir = tmpDir("hygieneidx")
    MinHashDedup.saveIndex(docToks, "doc_id", "toks", s"$idxDir/mh")
    ExactAnn.saveIndex(emb, s"$idxDir/ea")
    assert(ExactAnn.probeAgainstIndex(emb.limit(2), s"$idxDir/ea", 2)
      .collect().nonEmpty)

    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"operators leaked ${leaked.size} cached RDDs: " +
        leaked.values.map(r => s"${r.id}:${r.name}").mkString(", "))
  }

  test("PageRank leaves zero persistent RDDs after consumption in BOTH regimes") {
    val pairs = spark.createDataFrame(
        Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (4L, 5L)))
      .toDF("a_id", "b_id")
    for (limit <- Seq(ConnectedComponents.DriverEdgeLimit, 0L)) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val got = PageRank.ranksBp(pairs, "a_id", "b_id", driverLimit = limit)
        .collect() // the caller's single terminal action
      assert(got.nonEmpty)
      // the distributed branch releases via a one-shot listener on the
      // async listener bus — poll briefly instead of racing it
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
          System.nanoTime < deadline) Thread.sleep(50)
      val leaked = spark.sparkContext.getPersistentRDDs
      assert(leaked.isEmpty,
        s"regime(limit=$limit) stranded ${leaked.size} RDDs: " +
          leaked.values.map(r => s"${r.id}:${r.name}").mkString(", "))
    }
  }

  test("self-join inputs are shared through one reused exchange, not a cache") {
    for ((name, df) <- Seq(
        "minhash" -> MinHashDedup.nearDuplicates(docToks, "doc_id", "toks"),
        "simhash" -> SimHashDedup.nearDuplicates(docToks, "doc_id", "toks"),
        "embed" -> EmbedNearDup.candidatePairs(emb.select(col("vec_id"), col("v"))))) {
      df.collect() // let AQE finalize the plan before inspecting it
      val p = df.queryExecution.executedPlan.toString
      // under AQE a reused shuffle surfaces as the same ShuffleQueryStage
      // id referenced from both join legs (or an explicit ReusedExchange
      // without AQE); a cached input would surface as InMemoryTableScan
      val stageIds = "ShuffleQueryStage (\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
      assert(p.contains("ReusedExchange") || stageIds.distinct.size < stageIds.size,
        s"$name: self-join legs no longer share an exchange:\n$p")
      assert(!p.contains("InMemoryTableScan"), s"$name: unexpected cache in plan:\n$p")
    }
  }
}
