package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs

/** IVF-PQ — the composition production ANN systems actually deploy
  * (faiss IndexIVFPQ): an IVF coarse quantizer prunes WHICH vectors a
  * probe visits (nProbe nearest cells), PQ compression makes each visit
  * cheap (an M-step ADC table walk over 8 codes instead of a 64-float
  * dot). The two prunings multiply: at 100 TB a probe touches
  * nProbe/k of the corpus, reading ~8 bytes per vector touched.
  *
  * Built entirely from the two existing operators' parts — KMeansIVF's
  * deterministic coarse training + broadcast-argmin cell assignment
  * (graft.functions.Centroids), ProductQuantizer's codebooks + ADC scan
  * (graft.functions.PqCodec) — wired as one declarative plan: cell
  * equi-join (broadcast probe side) → ADC score → per-probe top-R →
  * exact re-rank. No stage shuffles raw vectors; the only exchange is
  * the narrow (p_id, vec_id, approx) candidate set entering the
  * per-probe window.
  */
object IvfPq {

  final case class Index(
      cents: Array[(Int, Array[Double])],
      pq: ProductQuantizer.Model)

  /** Train both quantizers on their bounded driver samples. */
  def train(
      emb: DataFrame,
      k: Int = 10,
      coarseIters: Int = 3,
      m: Int = 8,
      ks: Int = 16): Index =
    Index(
      KMeansIVF.train(emb, k = k, iters = coarseIters),
      ProductQuantizer.train(emb, m = m, ks = ks))

  /** Persist both quantizers (two tiny parquet tables under `path`) —
    * the train-once / serve-many lifecycle for the composed index. */
  def save(spark: org.apache.spark.sql.SparkSession,
      index: Index, path: String): Unit = {
    KMeansIVF.save(spark, index.cents, s"$path/coarse")
    ProductQuantizer.save(spark, index.pq, s"$path/pq")
  }

  /** Load an index saved by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index =
    Index(
      KMeansIVF.load(spark, s"$path/coarse"),
      ProductQuantizer.load(spark, s"$path/pq"))

  /** SDC lookup table for [[probeAgainstIndex]]: exact inner products
    * of every codebook-centroid pair per subspace, flat [m][a][b] →
    * lut((s*ks + a)*ks + b). m·ks² doubles (2 048 at the defaults) —
    * one broadcast constant regardless of corpus or batch size. */
  def sdcLut(pq: ProductQuantizer.Model): Array[Double] = {
    val lut = new Array[Double](pq.m * pq.ks * pq.ks)
    var s = 0
    while (s < pq.m) {
      var a = 0
      while (a < pq.ks) {
        var b = 0
        while (b < pq.ks) {
          var acc = 0.0
          var d = 0
          while (d < pq.dsub) {
            acc += pq.codebook(s * pq.ks * pq.dsub + a * pq.dsub + d) *
              pq.codebook(s * pq.ks * pq.dsub + b * pq.dsub + d)
            d += 1
          }
          lut((s * pq.ks + a) * pq.ks + b) = acc
          b += 1
        }
        a += 1
      }
      s += 1
    }
    lut
  }

  /** Persist the SERVING index — quantizers AND per-vector assignments
    * (vec_id, cid, codes; ~8 bytes of codes per vector) — the
    * incremental-ANN shape: index the corpus once, and every future
    * batch probes it without rescanning or re-encoding a single corpus
    * vector (the vector analogue of MinHashDedup.saveIndex).
    * Assignments are PARTITIONED BY CELL, so a probe's nProbe cells
    * prune to nProbe/k of the index files on disk — the IVF promise
    * realized as parquet partition pruning. `append = true` adds a new
    * batch's assignments under the EXISTING quantizers (encode drift is
    * the caller's tradeoff; ids must stay globally unique). */
  def saveIndexed(emb: DataFrame, index: Index, path: String,
      append: Boolean = false): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    if (!append) save(spark, index, path)
    val pq = index.pq
    LocalFs.write(emb
      .withColumn("cid",
        graft.functions.Centroids.nearestCol($"v", $"nrm", index.cents.toSeq))
      .withColumn("codes", graft.functions.PqCodec.encodeCol(
        $"v", $"nrm", pq.codebook, pq.m, pq.ks, pq.dsub))
      .select($"vec_id", $"cid", $"codes")
      // cluster by cell before the partitioned write: one file per cell
      // per batch instead of (tasks × cells) shards
      .repartition($"cid"))
      .mode(if (append) "append" else "overwrite")
      .partitionBy("cid").parquet(s"$path/assignments")
  }

  /** Top-k index neighbours for every vector of a NEW batch, served
    * from a persisted index: the batch encodes with the SAVED
    * quantizers (narrow kernels), fans out to its nProbe nearest cells,
    * and scores cell-mates code-to-code (SDC — no per-probe driver
    * table, so the batch can be any size), keeping top-k per new vector
    * through the bounded TopK aggregate. The corpus side reads ONLY the
    * probed cells' (vec_id, codes) rows — never a raw corpus vector.
    * Output (new_id, rk, index_id, approx_bp); scores are symmetric PQ
    * approximations (both sides quantized), the serving tradeoff for
    * corpus-free probing — re-rank against stored vectors by joining
    * index_id back to the corpus table when exactness matters. */
  def probeAgainstIndex(newEmb: DataFrame, path: String, k: Int,
      nProbe: Int = 2): DataFrame =
    probeAgainstServing(newEmb,
      loadForServing(newEmb.sparkSession, path), k, nProbe)

  /** As [[probeAgainstIndex]] over a pre-resolved [[Serving]] handle —
    * for repeat-probe callers that pay loadForServing's two driver-side
    * parquet collects once per index generation instead of per call. */
  def probeAgainstServing(newEmb: DataFrame, srv: Serving, k: Int,
      nProbe: Int = 2): DataFrame = {
    val (fresh, result) = probePlan(newEmb, srv, k, nProbe)
    // the per-batch encode checkpoint releases when the caller's first
    // action over the result completes (single-consumption contract —
    // long-lived non-bench sessions no longer strand one block per
    // probe); per-micro-batch callers use probeAndConsume instead
    CheckpointHygiene.releaseAfterFirstAction(result, fresh)
  }

  /** The full production serving composition: quantized candidate
    * generation (the SDC probe above, widened to `rerank` candidates)
    * followed by EXACT cosine re-ranking against a stored-vector table
    * in [[ExactAnn]]'s (vec_id, v, nrm) layout — the faiss
    * `index.search(k')` + refine step. Recall@k is set by `rerank`
    * (how many quantized candidates get exact scores), cost by
    * |batch|·rerank exact dots — independent of corpus size. Output
    * (new_id, rk, index_id, sim_bp) with EXACT sims, same contract as
    * every ANN operator. Requires the vec_dot kernel installed. */
  def probeAgainstIndexReranked(newEmb: DataFrame, path: String,
      vectors: DataFrame, k: Int, rerank: Int = 64,
      nProbe: Int = 2): DataFrame =
    probeAgainstServingReranked(newEmb,
      loadForServing(newEmb.sparkSession, path), vectors, k, rerank, nProbe)

  /** Reranked probe over a pre-resolved [[Serving]] handle. */
  def probeAgainstServingReranked(newEmb: DataFrame, srv: Serving,
      vectors: DataFrame, k: Int, rerank: Int = 64,
      nProbe: Int = 2): DataFrame = {
    val spark = newEmb.sparkSession
    import spark.implicits._
    // |batch|·rerank candidate ids — tiny next to the corpus, so they
    // broadcast into the vector store and the big side streams once
    val cand = probeAgainstServing(newEmb, srv, rerank, nProbe)
      .select($"new_id", $"index_id")
    val scored = broadcast(cand
        .join(broadcast(newEmb.select($"vec_id".as("new_id"),
          $"v".as("pv"), $"nrm".as("p_nrm"))), "new_id"))
      .join(vectors.select($"vec_id".as("index_id"), $"v".as("iv"),
        $"nrm".as("i_nrm")), "index_id")
      .select($"new_id".as("p_id"), $"index_id".as("vec_id"),
        (expr("vec_dot(pv, iv)") / ($"p_nrm" * $"i_nrm")).as("sim"))
    graft.functions.TopK.rankBySim(scored, "sim", k)
      .select($"p_id".as("new_id"), $"rk", $"vec_id".as("index_id"),
        $"sim_bp")
  }

  /** Everything a probe needs, resolved ONCE: quantizers collected to
    * the driver, the SDC LUT built, the assignments table's footer
    * inferred. A per-micro-batch server (StreamingAnnProbe) resolves
    * this at query start instead of re-running two driver-side parquet
    * collects + LUT construction on every batch. */
  final case class Serving(index: Index, lut: Array[Double], asg: DataFrame)

  def loadForServing(spark: org.apache.spark.sql.SparkSession,
      path: String): Serving = {
    val index = load(spark, path)
    Serving(index, sdcLut(index.pq),
      spark.read.parquet(s"$path/assignments"))
  }

  /** As [[probeAgainstIndex]], but over a pre-loaded [[Serving]] handle
    * AND running `consume` on the result within the call, releasing the
    * per-batch encode checkpoint before returning — the shape a
    * per-micro-batch caller needs (graft.streaming.StreamingAnnProbe):
    * a long-running stream calling the lazy variant would retain one
    * checkpoint block per micro-batch for the life of the query. */
  def probeAndConsume(newEmb: DataFrame, srv: Serving, k: Int,
      nProbe: Int = 2)(consume: DataFrame => Unit): Unit = {
    val (fresh, result) = probePlan(newEmb, srv, k, nProbe)
    try consume(result)
    finally CheckpointHygiene.release(fresh)
  }

  /** Shared probe pipeline: returns (the checkpointed encoded batch —
    * for callers that can release it once the result is consumed — and
    * the lazy scored result). */
  private def probePlan(newEmb: DataFrame, srv: Serving, k: Int,
      nProbe: Int): (DataFrame, DataFrame) = {
    val spark = newEmb.sparkSession
    import spark.implicits._
    val pq = srv.index.pq
    val cents = srv.index.cents.toSeq
    val lut = srv.lut
    // encode the batch once (localCheckpoint: the cell probe below and
    // the join both read it — one kernel pass, not two)
    val fresh = newEmb
      .withColumn("codes", graft.functions.PqCodec.encodeCol(
        $"v", $"nrm", pq.codebook, pq.m, pq.ks, pq.dsub))
      .select($"vec_id".as("p_id"), $"codes",
        explode(graft.functions.Centroids.nearestCol(
          $"v", $"nrm", cents, nProbe)).as("p_cid"))
      .localCheckpoint()
    // the probed-cell set is bounded by the trained cell count k (tiny
    // by construction), so collecting it is driver-safe at ANY batch
    // size — and pushing it as an IN filter turns the cell partitioning
    // of the stored assignments into real partition pruning on disk
    val probedCells = fresh.select($"p_cid").distinct()
      .collect().map(_.getInt(0)).toSeq
    val asg = srv.asg
      .where($"cid".isin(probedCells: _*))
      .select($"cid".as("i_cid"), $"vec_id".as("index_id"),
        $"codes".as("i_codes"))
    // broadcast the batch side: new batches are small next to the
    // index, and the broadcast carries only (id, 8 codes, cell) rows
    val scored = broadcast(fresh).join(asg,
        $"p_cid" === $"i_cid" && $"p_id" =!= $"index_id")
      .select($"p_id", $"index_id".as("vec_id"),
        graft.functions.PqCodec.sdcCol($"codes", $"i_codes", lut, pq.m, pq.ks)
          .as("approx"))
    (fresh, graft.functions.TopK.rankBySim(scored, "approx", k)
      .select($"p_id".as("new_id"), $"rk", $"vec_id".as("index_id"),
        $"sim_bp".as("approx_bp")))
  }

  /** Top-k per probe: nProbe cells → ADC walk → top-`rerank` → exact
    * cosine. Output (p_id, rk, vec_id, sim_bp), exact sims — the same
    * contract as every other ANN operator here. */
  def searchTopK(
      emb: DataFrame,
      index: Index,
      probeIds: Seq[Long],
      k: Int,
      nProbe: Int = 2,
      rerank: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = index.cents.toSeq

    // probe collection + ADC tables + exact re-rank are shared with the
    // flat-PQ path (ProductQuantizer.collectProbes/buildLuts/exactRerank)
    // — one LUT layout, one rerank contract, no drift between the two
    val pq = index.pq
    val probes = ProductQuantizer.collectProbes(emb, probeIds)
    val luts = ProductQuantizer.buildLuts(probes, pq)

    // the index: every vector tagged with its cell + its codes — both
    // narrow codegen kernels, zero exchange (PlanShapeSpec-pinned parts)
    val indexed = emb
      .withColumn("cid", graft.functions.Centroids.nearestCol($"v", $"nrm", cents))
      .withColumn("codes", graft.functions.PqCodec.encodeCol(
        $"v", $"nrm", pq.codebook, pq.m, pq.ks, pq.dsub))

    // probe fan-out: (p_id, p_idx, one row per probed cell), broadcast
    val pdf = broadcast(
      probes.map(_._1).zipWithIndex.toSeq.toDF("p_id", "p_idx")
        .join(emb.where($"vec_id".isin(probeIds: _*))
          .select($"vec_id".as("p_id"),
            explode(graft.functions.Centroids.nearestCol($"v", $"nrm", cents, nProbe))
              .as("p_cid")),
          "p_id"))

    val cand = graft.functions.TopK.pruneBySim(
      pdf.join(indexed, $"cid" === $"p_cid" && $"vec_id" =!= $"p_id")
        .select($"p_id", $"vec_id",
          graft.functions.PqCodec.adcCol($"codes", $"p_idx", luts, pq.m, pq.ks)
            .as("approx")),
      "approx", rerank)

    ProductQuantizer.exactRerank(cand, emb, probes, k)
  }
}
