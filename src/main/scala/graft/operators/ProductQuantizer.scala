package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs

/** Product-quantization ANN (PQ/ADC — the faiss IndexPQ recipe): compress
  * every vector to M subspace code bytes, scan the compressed codes with
  * an asymmetric-distance lookup table, exact-rerank the survivors.
  *
  * This is the third ANN family next to IVF (bucket pruning — scan fewer
  * vectors) and LSH (hash pruning — scan fewer vectors): PQ instead
  * scans ALL vectors but makes each one ~32× cheaper to visit (64-dim
  * float = 256 B → M=8 int codes; at 100 TB of embeddings the ADC pass
  * reads a ~3 TB code column, no floats). The three compose in real
  * systems (IVF-PQ); here they are separate measurable operators.
  *
  * Deterministic end to end: codebook training is per-subspace Lloyd on
  * a hash-ordered driver sample (init = subvectors of the ks lowest
  * vec_ids, ties to lowest code/id — same discipline as KMeansIVF);
  * encoding and the ADC scan are pure functions of the codebook.
  *
  * Plan shape: train = one TakeOrdered sample pass (corpus-size-
  * independent) + driver-local flops. Encode = one narrow codegen map
  * (graft.functions.PqCodec). Search = broadcast-probe fan-out over the
  * code column (approx score per (row, probe) is an M-step table walk),
  * per-probe top-R TakeOrdered-shaped window over narrow (id, score)
  * rows, then exact cosine re-rank of R×|probes| survivors. No stage
  * ever shuffles raw vectors.
  */
object ProductQuantizer {

  final case class Model(m: Int, ks: Int, dsub: Int, codebook: Array[Double])

  /** Train per-subspace codebooks on a bounded deterministic sample.
    * `emb` needs (vec_id, v: array<double>, nrm). Vectors are unit-
    * normalized before quantization (cosine geometry: unit-vector inner
    * product == cosine, so ADC approximates cosine directly). */
  def train(
      emb: DataFrame,
      m: Int = 8,
      ks: Int = 16,
      iters: Int = 10,
      sampleMax: Int = 20000): Model = {
    val spark = emb.sparkSession
    import spark.implicits._

    val sample: Array[Array[Double]] = emb
      .orderBy(xxhash64($"vec_id"), $"vec_id")
      .limit(sampleMax)
      .select($"vec_id", $"v", $"nrm")
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = r.getDouble(2)
        if (n == 0) v else v.map(_ / n)
      }

    require(sample.length >= ks,
      s"PQ training needs >= ks=$ks vectors, got ${sample.length} " +
        "(phantom zero centroids would otherwise enter the codebook)")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m

    // flat [m][c][d] codebook
    val cb = new Array[Double](m * ks * dsub)
    for (s <- 0 until m) {
      // init: subvectors of the ks lowest vec_ids (sample is id-sorted)
      var cents: Array[Array[Double]] =
        (0 until math.min(ks, sample.length)).map { c =>
          java.util.Arrays.copyOfRange(sample(c), s * dsub, (s + 1) * dsub)
        }.toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val cnt = new Array[Long](cents.length)
        sample.foreach { v =>
          var best = Double.MaxValue
          var bestC = 0
          var c = 0
          while (c < cents.length) {
            val cv = cents(c)
            var dist = 0.0
            var d = 0
            while (d < dsub) {
              val diff = v(s * dsub + d) - cv(d)
              dist += diff * diff
              d += 1
            }
            if (dist < best) { best = dist; bestC = c }
            c += 1
          }
          val acc = sums(bestC)
          var d = 0
          while (d < dsub) { acc(d) += v(s * dsub + d); d += 1 }
          cnt(bestC) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (cnt(c) == 0) old else sums(c).map(_ / cnt(c))
        }
      }
      for (c <- cents.indices; d <- 0 until dsub)
        cb((s * ks + c) * dsub + d) = cents(c)(d)
    }
    Model(m, ks, dsub, cb)
  }

  /** Persist a trained model as a tiny single-row parquet table —
    * train-once / serve-many, like KMeansIVF.save: a serving session
    * calls [[load]] + [[searchTopK]] without ever touching [[train]].
    * M×ks×dsub doubles — driver-sized at any corpus scale. */
  def save(spark: org.apache.spark.sql.SparkSession,
      model: Model, path: String): Unit = {
    import spark.implicits._
    LocalFs.write(Seq((model.m, model.ks, model.dsub, model.codebook.toSeq))
      .toDF("m", "ks", "dsub", "codebook")
      .coalesce(1))
      .mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val r = spark.read.parquet(path).head()
    Model(r.getInt(0), r.getInt(1), r.getInt(2),
      r.getSeq[Double](3).toArray)
  }

  /** Add a `codes` column (array<int>, length M) — the narrow codegen
    * encode pass, registry-free (the codebook bakes straight into the
    * Column, so concurrent searches can never swap it). */
  def encode(emb: DataFrame, model: Model): DataFrame =
    emb.withColumn("codes", graft.functions.PqCodec.encodeCol(
      emb("v"), emb("nrm"), model.codebook, model.m, model.ks, model.dsub))

  /** Probe rows (p_id, RAW vector, norm), p_id-ascending — shared by
    * the PQ and IVF-PQ search paths. Raw + norm (not prenormalized):
    * the exact re-rank must spell cosine as dot(raw, raw)/(n_a·n_b),
    * the repo-wide bit-identical formula. */
  private[operators] def collectProbes(
      emb: DataFrame, probeIds: Seq[Long]): Array[(Long, Array[Double], Double)] = {
    import emb.sparkSession.implicits._
    emb.where($"vec_id".isin(probeIds: _*))
      .select($"vec_id", $"v", $"nrm")
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
  }

  /** Flat [p][m][c] ADC lookup tables: exact dot of each probe's UNIT
    * subvector with every codebook centroid (unit probes → the ADC sum
    * approximates cosine directly). |probes|×M×ks doubles. */
  private[operators] def buildLuts(
      probes: Array[(Long, Array[Double], Double)], model: Model): Array[Double] = {
    val luts = new Array[Double](probes.length * model.m * model.ks)
    for (p <- probes.indices; s <- 0 until model.m; c <- 0 until model.ks) {
      val (_, pv, pn) = probes(p)
      val inv = if (pn == 0) 0.0 else 1.0 / pn
      var acc = 0.0
      var d = 0
      while (d < model.dsub) {
        acc += pv(s * model.dsub + d) * inv *
          model.codebook((s * model.ks + c) * model.dsub + d)
        d += 1
      }
      luts((p * model.m + s) * model.ks + c) = acc
    }
    luts
  }

  /** Exact-cosine re-rank of `cand` (p_id, vec_id): join survivors back
    * to their raw vectors and score with the repo's bit-identical
    * formula vec_dot(raw, raw)/(p_nrm·nrm) — same as KMeansIVF/
    * HyperplaneLSH/x_sim_topk, so a pair's sim_bp can never differ
    * across ANN operators. Survivor set is |probes|×rerank — broadcast. */
  private[operators] def exactRerank(
      cand: DataFrame,
      emb: DataFrame,
      probes: Array[(Long, Array[Double], Double)],
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val probeVecs = broadcast(
      probes.toSeq.map { case (id, pv, pn) => (id, pv.toSeq, pn) }
        .toDF("p_id2", "pv", "p_nrm"))
    graft.functions.TopK.rankBySim(
      broadcast(cand)
        .join(emb, "vec_id")
        .join(probeVecs, $"p_id" === $"p_id2")
        .withColumn("sim", expr("vec_dot(pv, v)") / ($"p_nrm" * $"nrm"))
        .select($"p_id", $"vec_id", $"sim"),
      "sim", k)
  }

  /** Top-k neighbours per probe: ADC scan over codes → top-`rerank`
    * candidates per probe → exact-cosine re-rank → top-k. Output
    * (p_id, rk, vec_id, sim_bp) with EXACT cosine basis points, the
    * same shape as the other ANN operators. */
  def searchTopK(
      emb: DataFrame,
      model: Model,
      probeIds: Seq[Long],
      k: Int,
      rerank: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._

    val probes = collectProbes(emb, probeIds)
    val luts = buildLuts(probes, model)

    val coded = encode(emb, model)
    // probe fan-out over the code column: approx score is one pq_adc
    // table walk; only (p_id, vec_id, approx) survives into the window
    val pdf = broadcast(probes.map(_._1).zipWithIndex.toSeq
      .toDF("p_id", "p_idx"))
    val cand = graft.functions.TopK.pruneBySim(
      coded
        .crossJoin(pdf)
        .where($"vec_id" =!= $"p_id")
        .select($"p_id", $"vec_id",
          graft.functions.PqCodec.adcCol($"codes", $"p_idx", luts, model.m, model.ks)
            .as("approx")),
      "approx", rerank)

    exactRerank(cand, emb, probes, k)
  }
}
