package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs

/** Persisted EXACT (brute-force) ANN index — the ground-truth member of
  * the incremental vector-index family, next to [[IvfPq]]'s quantized
  * serving index: the corpus's (vec_id, v, nrm) rows are written once,
  * and every future batch probes them with the exact cosine kernel —
  * no training, no quantization error, hash-checkable results. This is
  * the index you probe to CALIBRATE the approximate family (x_ann_recall
  * trusts exactly this scan), and the right serving choice while the
  * corpus side still fits a full scan per batch.
  *
  * Scale shape: the probe streams the index ONCE per batch with the
  * batch broadcast (new batches are small next to the corpus), scoring
  * through the codegen'd vec_dot kernel and keeping top-k per new
  * vector via the bounded TopK aggregate — map-side partials carry ≤ k
  * rows per probe, so the |batch|×|corpus| candidate space is folded,
  * never materialized or shuffled. When the full scan per batch stops
  * paying, [[IvfPq.probeAgainstIndex]] is the drop-in with the same
  * output contract (new_id, rk, index_id, score_bp).
  */
object ExactAnn {

  /** Write (overwrite or append) the exact index: one (vec_id, v, nrm)
    * row per corpus vector. `emb` must carry `vec_id`, `v`
    * (array<double>) and `nrm` (precomputed L2 norm — stored so probes
    * never recompute corpus norms).
    *
    * Ingest contract (same as MinHashDedup.saveIndex): vec_ids must be
    * globally unique across appends. The probe does NOT dedup the index
    * side — at corpus scale that would be a full (vec_id, v, nrm)
    * exchange per batch — so re-appending an id makes its duplicate
    * rows occupy multiple top-k slots and evict a true neighbour.
    * Idempotent re-ingest belongs at the writer (stage the batch, check
    * a high-water id mark, or rewrite the affected partition). */
  def saveIndex(emb: DataFrame, path: String, append: Boolean = false): Unit =
    LocalFs.write(emb.select(col("vec_id"), col("v"), col("nrm")))
      .mode(if (append) "append" else "overwrite").parquet(path)

  /** Exact top-k index neighbours for every vector of a NEW batch:
    * (new_id, rk, index_id, sim_bp), ranked by exact cosine (ties by
    * index id), sim floored to basis points. Requires the vec_dot
    * kernel installed on the session (graft.GraftFunctions.install). */
  def probeAgainstIndex(batch: DataFrame, path: String, k: Int): DataFrame =
    probeAgainstIndex(batch, batch.sparkSession.read.parquet(path), k)

  /** As above, over a pre-loaded index DataFrame — a per-micro-batch
    * server (StreamingAnnProbe) resolves the scan (footer inference)
    * once at query start instead of per batch. */
  def probeAgainstIndex(batch: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idx = index.select($"vec_id", $"v".as("iv"), $"nrm".as("i_nrm"))
    val scored = broadcast(
        batch.select($"vec_id".as("p_id"), $"v".as("pv"), $"nrm".as("p_nrm")))
      .join(idx, $"p_id" =!= $"vec_id")
      .select($"p_id", $"vec_id",
        (expr("vec_dot(pv, iv)") / ($"p_nrm" * $"i_nrm")).as("sim"))
    graft.functions.TopK.rankBySim(scored, "sim", k)
      .select($"p_id".as("new_id"), $"rk", $"vec_id".as("index_id"),
        $"sim_bp")
  }
}
