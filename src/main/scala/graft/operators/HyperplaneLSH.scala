package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH for approximate nearest neighbours — the
  * LSH-bucketed complement to the IVF path (x_ann_ivf): a vector's
  * bucket is the sign pattern of its dot products with `Bits` fixed
  * hyperplanes. Vectors within a small angle land in the same bucket
  * with probability (1 - θ/π)^Bits; a probe searches only its bucket.
  *
  * Hyperplanes are DETERMINISTIC (splitmix64 of (plane, dim) mapped to
  * [-1, 1]) — reproducible across runs/JVMs, no rand(). At 100 TB the
  * bucket column is the shuffle/partition key; the expensive exact
  * cosine pass runs per bucket.
  */
object HyperplaneLSH {

  /** Default signature width. Tune to data density: buckets ≈ 2^bits,
    * so pick bits ≈ log2(N / desired-bucket-size); the test corpus (500
    * near-orthogonal vectors) wants small buckets counts. Multi-probe
    * (flipping low-margin bits) is the standard recall lever at scale. */
  val Bits = 4

  /** plane j, dimension d → uniform [-1, 1] (shared generator — see
    * graft.functions.Hyperplanes). */
  def planes(dim: Int, bits: Int = Bits): Array[Array[Double]] =
    graft.functions.Hyperplanes.planes(dim, bits)

  /** Bucket id column from a double-array column (vec_dot must be
    * installed; strict left-fold keeps signatures deterministic). */
  def bucket(vCol: String, dim: Int, bits: Int = Bits): Column = {
    val ps = planes(dim, bits)
    (0 until bits).map { j =>
      val lits = ps(j).mkString("array(", "D, ", "D)")
      when(expr(s"vec_dot($vCol, $lits)") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** For each probe (id ∈ probeIds), the top-k exact-cosine neighbours
    * within the probe's LSH bucket(s). `emb` needs (vec_id,
    * v: array<double>, nrm: double).
    *
    * `hamming` is the multi-probe radius: besides its own bucket, a
    * probe searches every bucket whose sign pattern differs in ≤ hamming
    * bits — the standard recall lever (a near neighbour that fell on the
    * wrong side of one hyperplane is one bit-flip away). Radius 1 turns
    * 1 bucket into bits+1 buckets: candidate volume grows ~(bits+1)×,
    * recall jumps accordingly (VectorOpsSpec measures it against the
    * brute-force ground truth). Radius 0 = classic single-bucket probe. */
  def searchTopK(
      emb: DataFrame,
      dim: Int,
      probeIds: Seq[Long],
      k: Int,
      bits: Int = Bits,
      hamming: Int = 0): DataFrame = {
    import emb.sparkSession.implicits._

    // no cache: the probe leg re-reads `emb` with the vec_id filter
    // pushed to the scan (a handful of rows), and the candidate leg
    // streams the corpus exactly once — recomputing `bits` dot products
    // for the probe rows costs less than managing cached blocks
    val withBucket = emb.withColumn("bkt", bucket("v", dim, bits))
    // all XOR masks within the probe radius (mask 0 = own bucket);
    // distinct masks → distinct buckets → no candidate is seen twice
    val masks = (0 until (1 << bits)).filter(m => java.lang.Integer.bitCount(m) <= hamming)
    val probes = broadcast(withBucket
      .where($"vec_id".isin(probeIds: _*))
      .select($"vec_id".as("p_id"), $"v".as("pv"), $"nrm".as("p_nrm"),
        explode(array(masks.map(m => $"bkt".bitwiseXOR(lit(m.toLong))): _*)).as("p_bkt")))
    graft.functions.TopK.rankBySim(
      probes.join(withBucket, $"bkt" === $"p_bkt" && $"vec_id" =!= $"p_id")
        .withColumn("sim", expr("vec_dot(pv, v)") / ($"p_nrm" * $"nrm"))
        .select($"p_id", $"vec_id", $"sim"),
      "sim", k)
  }
}
