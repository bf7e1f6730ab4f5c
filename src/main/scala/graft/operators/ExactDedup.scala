package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs

/** Persisted EXACT-dedup digest index — the cheapest member of the
  * incremental-index family (exact here, MinHashDedup.saveIndex for
  * near-dup shingles, IvfPq.saveIndexed for embeddings): digest the
  * corpus once, then dedup every future batch against the stored
  * digests without rescanning or re-hashing the corpus.
  *
  * Layout: one row per DISTINCT text — (digest, keeper_id), where
  * keeper_id is the minimum document id bearing that text (the
  * canonical-survivor convention the batch queries use). 32 bytes +
  * one long per distinct document: at 100 TB of documents the index is
  * a few hundred GB of digests, scanned column-pruned; the probe join
  * shuffles the NEW BATCH (small) and the index side by digest — never
  * document text.
  *
  * Append mode adds a new batch's digests; duplicate digests across
  * appends are tolerated — the probe resolves them AFTER its join via
  * groupBy(new_id).agg(min(keeper_id)), a batch-bounded aggregate —
  * and min-id keeper semantics stay exact only when ids are globally
  * unique and batches arrive in id order (the ingest contract).
  */
object ExactDedup {

  /** Write (overwrite or append) the digest index for `docs`. NULL
    * texts are excluded on BOTH sides (here and in the probe): a null
    * digest never equi-joins anyway (SQL null semantics), so indexing
    * it would only add a dead row that looks like coverage. */
  def saveIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      append: Boolean = false): Unit = {
    val mode = if (append) "append" else "overwrite"
    LocalFs.write(docs
      .where(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).as("digest"), col(idCol).as("id"))
      .groupBy(col("digest"))
      .agg(min(col("id")).as("keeper_id")))
      .mode(mode).parquet(path)
  }

  /** Batch probe: rows of `newDocs` whose text already exists in the
    * index → (new_id, keeper_id). The batch digests with the same
    * kernel, joins the index on the 32-byte digest, and never touches
    * corpus text. Intra-batch duplicates are the caller's
    * nearDuplicates-style concern (exact groupBy on the batch). */
  def dedupAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    // duplicate digests only exist ACROSS appends; resolve the min
    // keeper AFTER the join — the aggregate then runs over the hits
    // (batch-bounded) instead of re-aggregating the full index on every
    // probe, which at corpus scale would be the dominant shuffle
    newDocs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("new_id"), sha2(col(textCol), 256).as("digest"))
      .join(spark.read.parquet(indexPath), "digest")
      .groupBy(col("new_id"))
      .agg(min(col("keeper_id")).as("keeper_id"))
  }
}
