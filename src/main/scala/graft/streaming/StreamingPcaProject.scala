package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.EmbeddingQuantizer
import graft.queries.PcaFrame

/** Online principal-direction projection — the 22nd streaming twin and
  * the SECOND over a trained model ([[StreamingKMeansAssign]]'s
  * sibling for the PCA family): embeddings arriving on a stream are
  * centered and projected onto the x_pca_oracle generation's trained
  * direction the moment they land (training stays a batch concern —
  * the faiss-style split), and the live per-dim projection rollup
  * Σᵢ c_{i,d}·⟨c_i, v⟩ — exactly x_pca_oracle's `proj_sum` column, an
  * exact additive set-function of the arrived vectors — is maintained
  * as one row of streaming state and snapshotted per micro-batch
  * through [[SnapshotSink]].
  *
  * Trust chain: the centering and projection expressions are the batch
  * query's own columns (PcaFrame.centerExpr / vLit — the
  * literally-same codegen expression), and the batch artifact the live
  * rollup must equal is itself ORACLE-HASH-MATCHED, so the spec's
  * exact equality pins stream ≡ batch ≡ DuckDB for a second
  * trained-model serving path, across micro-batch splits and a
  * checkpoint restart.
  *
  * At 100 TB: the model is 64+64 integers baked into the plan (no
  * join, no state lookup); state is ONE row of 64 sums at any volume;
  * the snapshot artifact is KBs. Model refresh = restart with the next
  * generation's (means, direction) — the cachedLocal lifecycle's
  * streaming face. */
object StreamingPcaProject {

  /** Start projecting `embStream` — (vec_id long, embedding
    * array<float>) rows — against the trained centering means `m` and
    * ±10000-scaled direction `v`, writing the live rollup
    * (n_vectors, p0..p63) to a versioned snapshot under `outDir` each
    * micro-batch. */
  def start(
      embStream: DataFrame,
      m: Array[Long],
      v: Array[Long],
      outDir: String,
      checkpoint: String): StreamingQuery = {
    graft.GraftFunctions.install(embStream.sparkSession)
    // Sum in BIGINT, not double (ADVICE r13): the batch 2^53 envelope
    // (pcaArithState's require) covers the TRAINED corpus size n, not
    // stream volume — once cumulative arrivals exceed n the double sums
    // could pass 2^53 and round silently. Each per-row product
    // |c_d·u| ≤ (2·max|q|)²·64·10⁴ is inside the guarded per-row
    // envelope (exact in a double, exact after the BIGINT cast), and a
    // BIGINT sum has 2^63 headroom — ≥2^10× the batch bound — so the
    // 'exact additive set-function' contract survives unbounded
    // arrivals. For volumes within the batch envelope the Long sum
    // equals the batch query's double sum exactly (both are the same
    // integer), so the spec's stream ≡ batch equality is unchanged.
    val pCols = (0 until 64).map(d =>
      sum(expr(s"CAST(c[$d] * u AS BIGINT)")).as(s"p$d"))
    // Per-row LOUD envelope guard (ADVICE r14): the exactness of
    // CAST(c[d]·u AS BIGINT) needs |c[d]·u| < 2^53 — the batch
    // pcaArithState require bounds the TRAINED corpus, not what the
    // stream delivers, so an unguarded off-manifold arrival (|q| ~ 4e5
    // per dim) would round the double product BEFORE the cast and
    // silently break the exact stream ≡ batch contract. With the
    // trained |v|∞ ≤ 10⁴, |u| ≤ 64·|c|∞·10⁴, so per-row exactness
    // holds iff |c|∞² · 64·10⁴ < 2^53 ⇔ |c|∞ ≤ 118632; we reject at
    // 118000 (118000²·640000 ≈ 8.91e15 < 2^53 ≈ 9.01e15), mirroring
    // the batch-side loud require rather than clamping — a clamped
    // arrival would serve a silently-wrong projection, the exact
    // failure mode the guard exists to prevent.
    val envB = 118000L
    SnapshotSink.start(embStream
      .select(col("vec_id"),
        EmbeddingQuantizer.col
          .as("qd"))
      .select(expr(PcaFrame.centerExpr(m)).as("c0"))
      .select(expr(
        s"""IF(forall(c0, x -> abs(x) <= ${envB}D), c0,
           |raise_error(concat('StreamingPcaProject: arrival exceeds the ',
           |'trained exact-double envelope (|c| > $envB) — off-manifold ',
           |'vector; retrain or widen the quantization before serving')))"""
          .stripMargin.replace("\n", " ")).as("c"))
      .withColumn("u", expr(s"vec_dot(c, ${PcaFrame.vLit(v)})"))
      .groupBy()
      .agg(count(lit(1)).as("n_vectors"), pCols: _*), checkpoint, outDir)
  }

  /** The artifact's read path: (dim, proj_sum) rows from the NEWEST
    * committed snapshot — the exact shape of x_pca_oracle's proj_sum
    * column, so the batch artifact and the live one diff directly. */
  def projections(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    spark.read.parquet(SnapshotSink.latestCommitted(spark, outDir))
      .select(expr("stack(64, " + (0 until 64).map(d =>
        s"CAST(${d + 1} AS BIGINT), p$d").mkString(", ") +
        ") AS (dim, proj_sum)"))
      .orderBy(col("dim"))
}
