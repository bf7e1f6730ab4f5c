package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs
import graft.functions.Tokenizer

/** Persisted DSIR importance-weight estimator (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling") — the
  * trained-artifact twin of the inline x_dsir_weights query, and the
  * third member of the persisted-model family next to [[ExactAnn]] /
  * [[IvfPq]] (vectors) and MinHashDedup's signature index (shingles):
  * the two add-one-smoothed unigram LMs (target domain vs raw corpus)
  * are trained ONCE from the corpus and written as a two-table parquet
  * artifact, and every future document — batch backfill or streaming
  * crawl arrival ([[graft.streaming.StreamingDsir]]) — is scored
  * against the SAME frozen estimator: w = mean_tok ln(p_target/p_raw)
  * in basis-nats, positive ⇒ more target-like than the average crawl
  * doc, resampling keeps docs ∝ exp(w).
  *
  * Scale shape: training is one explode + two vocabulary-bounded
  * map-side-combined counts (the x_dsir_weights recipe); scoring joins
  * a batch's exploded tokens LEFT to the static vocab table — out-of-
  * vocabulary tokens (impossible in-corpus, routine on a live crawl)
  * smooth to count 0 on BOTH sides, exactly the add-one estimator's
  * semantics — then folds per doc and floors to bp before anything
  * crosses an exchange. The vocab side is static across batches, so a
  * serving deployment broadcasts it when bounded and lets AQE pick the
  * exchange otherwise; the three scalars ride along as literals
  * resolved once at [[load]].
  */
object DsirLm {

  /** A loaded estimator: the (token, ct, cr) vocab frame plus the three
    * normalization scalars — tr = raw token mass, tt = target token
    * mass, vsz = vocabulary size (the add-one denominator offsets). */
  final case class Lm(vocab: DataFrame, tr: Long, tt: Long, vsz: Long)

  /** The query family's [[Tokenizer]] (PipelineOps x_dsir_weights /
    * x_ngram_lm), one token per row. */
  private def tokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"source", Tokenizer.col.as("tk"))
      .where(size($"tk") >= 1)
      .select($"doc_id", $"source", explode($"tk").as("token"))
  }

  /** Train the estimator from a static corpus and persist it under
    * `path` (`path/vocab`: one (token, ct, cr) row per corpus token;
    * `path/meta`: the single (tr, tt, vsz) scalar row). `targetSource`
    * names the source whose docs define the target domain LM; the raw
    * LM is the whole corpus. Overwrites any prior artifact — DSIR
    * estimators roll atomically (retrain, then restart consumers), they
    * are not appended to: a partial append would double-count vocab
    * rows and silently skew every subsequent weight. */
  def train(docs: DataFrame, targetSource: String, path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val uni = tokens(docs)
    val vocab = uni.groupBy($"token")
      .agg(count(lit(1)).as("cr"),
        coalesce(sum(when($"source" === targetSource, 1L).otherwise(0L)),
          lit(0L)).as("ct"))
    LocalFs.write(vocab).mode("overwrite").parquet(s"$path/vocab")
    LocalFs.write(spark.read.parquet(s"$path/vocab")
      .agg(sum($"cr").as("tr"), coalesce(sum($"ct"), lit(0L)).as("tt"),
        count(lit(1)).as("vsz")))
      .mode("overwrite").parquet(s"$path/meta")
  }

  /** Resolve a persisted estimator: scan footers once, collect the
    * 1-row meta frame once. Servers (StreamingDsir) call this at query
    * start, never per micro-batch. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Lm = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    val lm = Lm(spark.read.parquet(s"$path/vocab"),
      m.getAs[Long]("tr"), m.getAs[Long]("tt"), m.getAs[Long]("vsz"))
    // an estimator trained on an empty/all-blank corpus has vsz = 0 and
    // every downstream ratio divides by zero (NaN -> ANSI cast failure
    // deep inside a later job) — refuse it loudly at resolve time
    require(lm.vsz > 0, s"empty DSIR estimator at $path (vsz=0)")
    lm
  }

  /** The deterministic Gumbel draw for the importance-resampling race
    * (x_dsir_resample / StreamingDsir's gate), in basis-nats: seeded
    * from a Knuth multiplicative hash of the doc id — id reduced to a
    * NON-NEGATIVE residue mod 2^20 BEFORE the multiply (the +m-then-mod
    * turn keeps a negative crawl id's residue in [0, 2^20): Spark's %
    * follows the dividend's sign, and a negative residue would feed
    * ln a negative argument — NULL here, silent row loss at a gate),
    * so the product is int64-safe and the uniform well-defined for ANY
    * id; the mid-bucket +0.5 keeps the uniform in the open interval so
    * both ln calls are finite. No rand(): rerunnable,
    * partition-count-invariant. */
  def gumbelBp(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(lit(10000.0) * -log(-log(
      (((((docId % lit(1048576L)) + lit(1048576L)) % lit(1048576L))
          * lit(2654435761L) % lit(1048576L))
        .cast("double") + lit(0.5)) / lit(1048576.0)))).cast("long")

  /** Score a batch of (doc_id, source, text) docs against a loaded
    * estimator: one (doc_id, source, w_bp) row per non-empty doc, w_bp
    * the per-doc ln-likelihood-ratio floored to basis-nats —
    * length-normalized (mean over tokens, the x_dsir_weights per-doc
    * spelling; the default, so a backfill through this path and the
    * inline query agree row-for-row on the training corpus), or with
    * `lengthNormalized = false` the raw SUM over tokens — the paper's
    * log importance weight and the x_dsir_resample race key (a 100-
    * token strongly-target-like doc must carry 100 tokens' worth of
    * evidence into the Gumbel race, not its per-token average). */
  def score(batch: DataFrame, lm: Lm,
      lengthNormalized: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val dt = tokens(batch)
      .groupBy($"doc_id", $"source", $"token").agg(count(lit(1)).as("occ"))
    val mass = sum($"occ" * (
      log((coalesce($"ct", lit(0L)) + 1).cast("double") /
        lit(lm.tt + lm.vsz).cast("double"))
      - log((coalesce($"cr", lit(0L)) + 1).cast("double") /
        lit(lm.tr + lm.vsz).cast("double"))))
    dt.join(lm.vocab, Seq("token"), "left")
      .groupBy($"doc_id", $"source")
      // (10000 * mass) / n association — the oracle spelling
      .agg(floor(
          if (lengthNormalized) (lit(10000.0) * mass) / sum($"occ")
          else lit(10000.0) * mass)
        .cast("long").as("w_bp"))
  }
}
