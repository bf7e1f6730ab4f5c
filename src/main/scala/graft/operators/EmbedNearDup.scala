package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate pairs via banded hyperplane-LSH
  * candidate generation + exact cosine verification — the bucketed
  * replacement for the all-pairs `a_id < b_id` theta join (which
  * materializes O(n²) rows before its filter; the one plan that dies at
  * 100× scale).
  *
  * Pipeline (same verified-output contract as MinHashDedup/SimHashDedup):
  *   vector → `bands` r-bit sign signatures (one kernel pass,
  *   graft.functions.Hyperplanes) → explode (band, key) postings
  *   → ONE shuffle keyed by (band, key) → per-bucket self-join
  *   → dropDuplicates(pair) → exact cosine ≥ threshold.
  *
  * The exact-verify stage computes cosine with the identical vec_dot
  * left fold the brute-force definition uses, so any pair that survives
  * has a bit-identical score — candidate generation changes WHICH pairs
  * are examined, never their values. A pair at angle θ shares some band
  * with probability 1-(1-p^r)^bands, p = 1-θ/π.
  *
  * Parameters are THRESHOLD-DERIVED ([[calibrate]]): the widest AND
  * (bits per band) whose recall requirement at the threshold fits under
  * the band budget. The declared 0.45 query (θ≈63°, p≈0.648 — LSH's
  * no-gain regime) calibrates to r=3/bands=32, where full recall holds
  * on every driver corpus (pinned by VectorOpsSpec's dual-run) but
  * candidates ≈ 95-98% of all pairs — at that operating point the win is
  * the plan shape, not volume: no O(n²) row materialization, shuffles
  * keyed by (band, key) and pair id, all joins equi-joins AQE can
  * re-plan. At realistic near-dup thresholds the same operator prunes
  * hard: 0.8 calibrates to r=7/bands=32, cutting the near-orthogonal
  * test corpus's candidate fraction to ~24% (floor ≈ bands·2^-r for
  * cos≈0 pairs), with dual-run recall against brute force spec-pinned.
  * The `maxBucket` guard fails loudly if a degenerate bucket would drag
  * the candidate join back toward n².
  */
object EmbedNearDup {

  /** OR-width cap: postings volume is n×bands, so bands is the linear
    * cost knob; 32 keeps it modest while giving [[calibrate]] enough
    * OR-room to hold the recall target down to threshold ≈ 0.45. */
  val MaxBands = 32

  /** Derive (bitsPerBand, bands) from the requested cosine threshold:
    * the WIDEST AND (most pruning per band — candidate volume for a
    * random near-orthogonal pair falls as bands·2^-r) whose OR-width
    * requirement for a pair AT the threshold still fits under
    * [[MaxBands]] at `recallTarget`. All `MaxBands` bands are then used,
    * so actual recall carries margin beyond the target (a pair at
    * threshold needs ceil(ln(1-R)/ln(1-p^r)) bands; we give it 32).
    *
    * Reproduces the empirically-proven 0.45 operating point exactly —
    * calibrate(0.45) = (3, 32), the calibration VectorOpsSpec dual-run
    * verifies as full-recall on every driver corpus — and at realistic
    * near-dup thresholds widens the AND: calibrate(0.8) = (7, 32), which
    * on the near-orthogonal test corpus cuts candidates from ~98% of all
    * pairs to ~24% (floor: a cos≈0 pair collides per band with
    * probability 2^-r; union bound 32/2^7). Pinned by VectorOpsSpec. */
  def calibrate(threshold: Double, recallTarget: Double = 0.999): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1): $threshold")
    val p = 1.0 - math.acos(threshold) / math.Pi // P[one hyperplane agrees]
    val fits = (1 to 24).takeWhile { r =>
      val pr = math.pow(p, r)
      math.ceil(math.log(1.0 - recallTarget) / math.log1p(-pr)) <= MaxBands
    }
    require(fits.nonEmpty, s"no (r, bands<=$MaxBands) meets recall " +
      s"$recallTarget at threshold $threshold — raise MaxBands")
    (fits.last, MaxBands)
  }

  /** Bits per band (bucket count per band = 2^r) at the declared 0.45
    * query threshold. */
  val BitsPerBand: Int = calibrate(0.45)._1

  /** OR-amplification width at the declared 0.45 query threshold: full
    * recall on the test corpus with margin (min band-collisions per true
    * pair = 3 at sf0.1). */
  val Bands: Int = calibrate(0.45)._2

  /** LSH candidate pairs: vectors sharing ≥1 band bucket, each pair once.
    * `emb` needs (vec_id, v: array<double>).
    *
    * `maxBucket`: loud skew guard — when set, a pre-pass counts postings
    * per (band, bucket) and THROWS if any bucket exceeds the bound,
    * naming the worst offender. A bucket of size s emits s(s-1)/2
    * candidate rows, so one degenerate bucket (mass duplication, a
    * zero-vector pileup, a threshold far below the corpus's similarity
    * floor) silently turns the equi-join back into n² work; the guard
    * converts that into an immediate, diagnosable failure. The pre-pass
    * is one partial-aggregated pass over the postings — cheap relative
    * to the join it protects. */
  def candidatePairs(
      emb: DataFrame,
      bitsPerBand: Int = BitsPerBand,
      bands: Int = Bands,
      maxBucket: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    // Both legs of the per-bucket self-join read the postings. Instead of
    // persist() (which leaks cached blocks into long-lived sessions and
    // couldn't hold a 100 TB posting set anyway), repartition on the join
    // key: the two legs canonicalize to the SAME exchange, so Spark plans
    // a ReusedExchange — the bands×r dot products run once as the map
    // side of ONE shuffle, both legs read its (disk-backed, evictable)
    // shuffle files, and the join itself needs no further exchange
    // because the data already arrives clustered on (band, bkey).
    val post = emb
      .select($"vec_id", posexplode(expr(s"hyperplane_sig(v, $bitsPerBand, $bands)")))
      .toDF("vec_id", "band", "bkey")
      .repartition($"band", $"bkey")
    maxBucket.foreach { bound =>
      val worst = post.groupBy($"band", $"bkey").count()
        .where($"count" > bound).orderBy($"count".desc).limit(1).collect()
      worst.headOption.foreach { w =>
        throw new IllegalStateException(
          s"embed-neardup bucket guard: band=${w.get(0)} bucket=${w.get(1)} holds " +
            s"${w.getLong(2)} vectors (bound $bound) — ~${w.getLong(2) * (w.getLong(2) - 1) / 2} " +
            "candidate pairs from one bucket. The corpus is degenerate at this " +
            "calibration (mass duplicates or threshold below the corpus " +
            "similarity floor); dedup exact duplicates first or raise the threshold.")
      }
    }
    val a = post.select($"band".as("a_band"), $"bkey".as("a_bkey"), $"vec_id".as("a_id"))
    val b = post.select($"band".as("b_band"), $"bkey".as("b_bkey"), $"vec_id".as("b_id"))
    a.join(b, $"a_band" === $"b_band" && $"a_bkey" === $"b_bkey" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id")
      .dropDuplicates("a_id", "b_id") // a pair may collide in many bands
  }

  /** Below this corpus size the exact all-pairs scan wins outright: the
    * whole table broadcasts (≤ ~20 MB of vectors), the n²/2 ≤ 2·10⁸
    * dot products run as ONE narrow codegen pass with zero shuffles,
    * while the LSH pipeline pays postings explosion + a bucket shuffle
    * + pair dedup + two id-joins for candidate volume that, in LSH's
    * no-gain regime (threshold ≲ 0.5 ⇒ p ≈ 0.65), is ~all pairs anyway.
    * Above the bound the banded pipeline is the only shape that
    * survives — n² row materialization is the plan that dies at 100×. */
  val BruteForceMaxRows = 20000L

  /** Exact all-pairs scan — the small-corpus regime of [[pairsAuto]].
    * `emb` needs (vec_id, v: array<double>, nrm: double). */
  def bruteForcePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val a = emb.select($"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("a_nrm"))
    val b = emb.select($"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("b_nrm"))
    a.join(broadcast(b), $"a_id" < $"b_id")
      .withColumn("cos", expr("vec_dot(av, bv)") / ($"a_nrm" * $"b_nrm"))
      .where($"cos" >= threshold)
      .select($"a_id", $"b_id", $"cos")
  }

  /** Two-regime dispatch (the KCore size-probe pattern): an exact
    * row-count probe picks the brute-force scan for corpora under
    * [[BruteForceMaxRows]] (the probe is a column-pruned count — near
    * metadata cost on parquet) and the banded-LSH pipeline beyond it.
    * Both regimes produce the identical verified output (dual-run
    * spec-pinned), so the dispatch changes cost, never answers. */
  def pairsAuto(emb: DataFrame, threshold: Double): DataFrame =
    if (emb.count() <= BruteForceMaxRows) bruteForcePairs(emb, threshold)
    else pairs(emb, threshold)

  /** Verified near-dup pairs (a_id, b_id, cos), cos ≥ threshold — output
    * identical to the brute-force all-pairs definition whenever recall
    * holds (VectorOpsSpec dual-runs both on the test corpus, at the
    * declared 0.45 and at the realistic 0.8 operating point).
    * `emb` needs (vec_id, v: array<double>, nrm: double).
    *
    * (bitsPerBand, bands) default to [[calibrate]](threshold) — pass
    * them explicitly only to pin a calibration across corpora. */
  def pairs(
      emb: DataFrame,
      threshold: Double,
      bitsPerBand: Int = -1,
      bands: Int = -1,
      maxBucket: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (r, b) = calibrate(threshold) // candidatePairs installs the kernels
    val cand = candidatePairs(emb.select($"vec_id", $"v"),
      if (bitsPerBand > 0) bitsPerBand else r,
      if (bands > 0) bands else b,
      maxBucket)
    // re-attach vectors by id: equi-joins (broadcast at sf scale, shuffle
    // at 100 TB) — candidates stay narrow through the dedup shuffle
    val ea = emb.select($"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("a_nrm"))
    val eb = emb.select($"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("b_nrm"))
    cand.join(ea, "a_id").join(eb, "b_id")
      .withColumn("cos", expr("vec_dot(av, bv)") / ($"a_nrm" * $"b_nrm"))
      .where($"cos" >= threshold)
      .select($"a_id", $"b_id", $"cos")
  }
}
