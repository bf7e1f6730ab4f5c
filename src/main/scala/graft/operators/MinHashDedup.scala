package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.eventstore.LocalFs

/** MinHash + LSH near-duplicate detection — the 100 TB path for what
  * x_dedup_ngram does with an O(n²) pair join.
  *
  * Pipeline (all narrow until the single band-bucket shuffle):
  *   tokens → 3-gram shingles → 64-bit shingle hashes (xxhash64)
  *   → K minhashes under affine permutations h_j(x) = (a_j·x + b_j) mod p
  *   → B bands of R rows; band key = hash of the band's signature slice
  *   → explode bands, shuffle once on (band, key), self-join per bucket
  *   → exact-Jaccard verification of candidates (no false positives).
  *
  * Identical shingle sets collide in every band, so pairs with Jaccard 1.0
  * are found with certainty; near-1 pairs with probability
  * 1-(1-s^R)^B (s=0.8, R=4, B=8 → ~0.986).
  */
object MinHashDedup {

  val NumHashes = 32
  val Bands = 8
  val Rows = 4 // NumHashes / Bands

  /** tokens column (array<string>) → distinct 3-gram shingle hashes —
    * the codegen kernel (graft.functions.Shingles), not HOFs: Spark's
    * higher-order functions force the whole projection into interpreted
    * eval (~20× slower measured on this stage). */
  def shingleHashes(tokens: Column): Column =
    expr(s"shingle_hashes(${tokens.toString}, 3)")

  /** Signature column: array of NumHashes minhash values in one kernel
    * pass (splitmix64 re-keyed per hash index). */
  def signature(shingles: String): Column =
    expr(s"minhash_sig($shingles, $NumHashes)")

  /** doc df (idCol, tokens array) → verified near-dup pairs
    * (a_id, b_id, jac_bp) with exact Jaccard >= threshold. */
  /** Per-doc signature rows (id, sh, sig) — one kernel pass. Barriers as
    * documented in nearDuplicates. */
  private def signedDocs(
      docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    // No anti-inline barriers here: the shingle/signature kernels inline
    // at most 3× per row after projection collapse (filter + sh output +
    // sig input) — a LINEAR recompute of codegen kernels, strictly
    // cheaper than the two full-corpus round-robin exchanges this
    // pipeline used to pay to keep them single-evaluation. The per-band
    // inlining hazard (×Bands) is gone structurally: banding now crosses
    // a Generate boundary (explodeBands), which CollapseProject cannot
    // see through, so sh/sig reach the band rows as attributes.
    docs
      .select(col(idCol).as("id"), col(tokensCol).as("toks"))
      .where(size($"toks") >= 3)
      .select($"id", shingleHashes($"toks").as("sh"))
      .where(size($"sh") > 0)
      .withColumn("sig", signature("sh"))
  }

  /** Band explosion over signed docs: one (id, [sh,] band, bkey) row per
    * (doc, band); bkey = one 64-bit hash of the band's R signature
    * entries. The band index comes from a LITERAL sequence explode and
    * bkey is computed in the projection ABOVE the Generate, so `sig` is
    * evaluated once per document and carried to its Bands rows as an
    * attribute (the earlier in-generator lambda shape re-evaluated the
    * signature kernel per band unless fenced by an exchange). */
  private def explodeBands(signed: DataFrame, keepSh: Boolean): DataFrame = {
    val spark = signed.sparkSession
    import spark.implicits._
    val carried =
      (if (keepSh) Seq($"id", $"sh") else Seq($"id")) :+ $"sig"
    signed
      .select(carried :+ explode(expr(s"sequence(0, ${Bands - 1})")).as("band"): _*)
      .withColumn("bkey", expr(s"xxhash64(band, " +
        (0 until Rows).map(r => s"sig[band * $Rows + $r]").mkString(", ") + ")"))
      .drop("sig")
  }

  /** The shared banding pipeline: (id, sh, band, bkey) rows. */
  private def bandedRows(
      docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    explodeBands(signedDocs(docs, idCol, tokensCol), keepSh = true)

  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      jaccardBp: Int = 6000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // band key: one 64-bit hash of the band's R signature entries.
    // Both legs of the candidate self-join read this — rather than
    // persist() (cached blocks leak into long-lived sessions; a 100 TB
    // posting set wouldn't fit anyway), repartition on the join key so
    // the legs share ONE ReusedExchange: the shingle+signature pipeline
    // runs once as the map side of a single shuffle and the self-join
    // reads its shuffle files, already clustered on (band, bkey).
    val banded = bandedRows(docs, idCol, tokensCol)
      .repartition($"band", $"bkey")

    val a = banded.select($"band".as("a_band"), $"bkey".as("a_bkey"),
      $"id".as("a_id"), $"sh".as("a_sh"))
    val b = banded.select($"band".as("b_band"), $"bkey".as("b_bkey"),
      $"id".as("b_id"), $"sh".as("b_sh"))

    val candidates = a.join(b,
        $"a_band" === $"b_band" && $"a_bkey" === $"b_bkey" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id", $"a_sh", $"b_sh")
      .dropDuplicates("a_id", "b_id") // same pair may collide in >1 band

    candidates
      .withColumn("inter", size(array_intersect($"a_sh", $"b_sh")))
      .withColumn("jac_bp",
        floor(($"inter" * 10000.0) / (size($"a_sh") + size($"b_sh") - $"inter"))
          .cast("long"))
      .where($"jac_bp" >= jaccardBp)
      .select($"a_id", $"b_id", $"jac_bp")
      .orderBy($"a_id", $"b_id")
  }

  /** Persist the banded index — the INCREMENTAL dedup shape: band the
    * corpus once and every future batch dedups against it by equi-join
    * without rescanning or re-signing the corpus (the batch complement
    * of StreamingNearDup's online state). Layout: each document's
    * shingle-hash set is written ONCE to `path/shingles` (id, sh) and
    * the Bands band rows to `path/bands` (id, band, bkey) — NOT one sh
    * copy per band row, which would amplify the index Bands× on disk
    * and Bands× again in every probe scan. The two writes share one
    * computed signature pass via localCheckpoint. `append = true` adds
    * a new batch's rows (ids must be globally unique across appends). */
  def saveIndex(
      docs: DataFrame, idCol: String, tokensCol: String, path: String,
      append: Boolean = false): Unit = {
    val mode = if (append) "append" else "overwrite"
    val signed = signedDocs(docs, idCol, tokensCol).localCheckpoint()
    try {
      LocalFs.write(signed.select("id", "sh")).mode(mode).parquet(s"$path/shingles")
      LocalFs.write(explodeBands(signed, keepSh = false))
        .mode(mode).partitionBy("band").parquet(s"$path/bands")
    } finally CheckpointHygiene.release(signed)
    // both consumers of the checkpoint are the two writes above, so the
    // blocks are releasable the moment the second write returns
  }

  /** Near-dup pairs between a NEW batch and a persisted index: the new
    * rows band with the same kernels, join the index's slim band rows on
    * (band, bkey), and exact-verify — cost is the new batch's bucket
    * collisions, not the corpus (new-vs-new pairs inside the batch are
    * nearDuplicates on the batch, by design). The index side's shingle
    * sets are fetched by id-join ONLY for colliding candidates — the
    * probe never scans the full shingle store's array payload.
    * Returns (new_id, index_id, jac_bp). */
  def dedupAgainstIndex(
      newDocs: DataFrame, idCol: String, tokensCol: String,
      indexPath: String, jaccardBp: Int = 6000): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val idxBands = spark.read.parquet(s"$indexPath/bands")
      .select($"band".as("i_band"), $"bkey".as("i_bkey"),
        $"id".as("index_id"))
    val idxSh = spark.read.parquet(s"$indexPath/shingles")
      .select($"id".as("sh_id"), $"sh".as("i_sh"))
    val fresh = bandedRows(newDocs, idCol, tokensCol)
      .select($"band", $"bkey", $"id".as("new_id"), $"sh".as("n_sh"))
    fresh.join(idxBands,
        $"band" === $"i_band" && $"bkey" === $"i_bkey" &&
          $"new_id" =!= $"index_id")
      .select($"new_id", $"index_id", $"n_sh")
      .dropDuplicates("new_id", "index_id")
      .join(idxSh, $"sh_id" === $"index_id")
      .withColumn("inter", size(array_intersect($"n_sh", $"i_sh")))
      .withColumn("jac_bp",
        floor(($"inter" * 10000.0) / (size($"n_sh") + size($"i_sh") - $"inter"))
          .cast("long"))
      .where($"jac_bp" >= jaccardBp)
      .select($"new_id", $"index_id", $"jac_bp")
      .orderBy($"new_id", $"index_id")
  }

  /** Sketch-trust calibration (x_minhash_error): for every LSH
    * candidate pair, the MinHash ESTIMATE (fraction of agreeing
    * signature positions) next to the exact shingle Jaccard, rolled up
    * per estimate decile — n_pairs, mean estimate, mean exact, mean
    * absolute error (all floor basis points). The report a pipeline
    * reads before trusting banding parameters on a new corpus: with 32
    * signatures the per-pair std is √(j(1−j)/32) ≈ 9 points, so decile
    * MAE sitting near that says the sketch behaves; a blown-out band
    * says the hash family or the shingle distribution is off. Cost:
    * the same banded candidate join as nearDuplicates, plus a
    * 32-element agreement count per candidate. */
  def calibration(
      docs: DataFrame,
      idCol: String,
      tokensCol: String): DataFrame =
    calibrationFromSigned(signDocs(docs, idCol, tokensCol))

  /** The signed front-end (id, sh, sig) as a standalone frame — public
    * so the per-(JVM, generation) artifact lifecycle can persist it
    * once and re-enter via [[calibrationFromSigned]] (the
    * sign-once/store-slim-rows shape a dedup deployment runs anyway:
    * the signature pass is the corpus-scan cost; everything downstream
    * reads slim signed rows). */
  def signDocs(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    signedDocs(docs, idCol, tokensCol)

  /** [[calibration]] from an already-signed (id, sh, sig) frame — the
    * banding join, signature-agreement count, exact Jaccard and decile
    * rollup all stay LIVE here; only the signature build is upstream. */
  def calibrationFromSigned(signed: DataFrame): DataFrame = {
    val spark = signed.sparkSession
    import spark.implicits._
    // same barrier-free shape as signedDocs/explodeBands (sig carried
    // across the Generate boundary as an attribute), keeping sig in the
    // band rows because the estimate needs signature agreement per pair
    val banded = signed
      .select($"id", $"sh", $"sig",
        explode(expr(s"sequence(0, ${Bands - 1})")).as("band"))
      .withColumn("bkey", expr(s"xxhash64(band, " +
        (0 until Rows).map(r => s"sig[band * $Rows + $r]").mkString(", ") + ")"))
      .repartition($"band", $"bkey")
    val a = banded.select($"band".as("a_band"), $"bkey".as("a_bkey"),
      $"id".as("a_id"), $"sh".as("a_sh"), $"sig".as("a_sig"))
    val b = banded.select($"band".as("b_band"), $"bkey".as("b_bkey"),
      $"id".as("b_id"), $"sh".as("b_sh"), $"sig".as("b_sig"))
    a.join(b,
        $"a_band" === $"b_band" && $"a_bkey" === $"b_bkey" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id", $"a_sh", $"b_sh", $"a_sig", $"b_sig")
      .dropDuplicates("a_id", "b_id")
      .withColumn("agree", expr(
        s"size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), h -> h))"))
      .withColumn("est_bp", floor(($"agree" * 10000.0) / NumHashes).cast("long"))
      .withColumn("inter", size(array_intersect($"a_sh", $"b_sh")))
      .withColumn("exact_bp",
        floor(($"inter" * 10000.0) / (size($"a_sh") + size($"b_sh") - $"inter"))
          .cast("long"))
      // clamp: est_bp = 10000 (exact-signature pairs) lands in decile 9,
      // not a degenerate 11th single-value bin
      .groupBy(expr("least(est_bp DIV 1000, 9)").as("est_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        floor(avg($"est_bp")).cast("long").as("mean_est_bp"),
        floor(avg($"exact_bp")).cast("long").as("mean_exact_bp"),
        floor(avg(abs($"est_bp" - $"exact_bp"))).cast("long").as("mae_bp"))
      .orderBy($"est_decile")
  }
}
