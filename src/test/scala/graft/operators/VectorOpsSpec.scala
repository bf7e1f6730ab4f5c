package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.VecDot

/** Invariants for the LSH-bucketed ANN (no SQL oracle: bucket geometry
  * is hash-dependent). */
class VectorOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def embAt(dir: String) = {
    graft.GraftFunctions.install(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .repartition(4)
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  private def emb = embAt(sf)

  test("IVF seed set is fixed-k: driver-collected rows independent of corpus size") {
    import spark.implicits._
    // same schema as emb(); two corpus sizes an order of magnitude apart
    def corpus(n: Int) = spark.range(n)
      .select($"id".as("vec_id"),
        expr("transform(sequence(1, 8), i -> CAST(id % 7 + i AS DOUBLE))").as("v"))
    val small = graft.queries.VectorOps.seedCentroids(corpus(200), 32)
    val large = graft.queries.VectorOps.seedCentroids(corpus(2000), 32)
    assert(small.length == 32 && large.length == 32) // k rows, not N/50
    // deterministic: same corpus -> same seeds, twice
    val again = graft.queries.VectorOps.seedCentroids(corpus(2000), 32)
    assert(large.map(_._1) == again.map(_._1))
    // the plan is a TakeOrdered-k, not a full collect
    val plan = corpus(2000)
      .select(col("vec_id"), col("v"),
        (col("vec_id") % 1000003L * 2654435761L % 1000003L).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(32)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
  }

  test("lsh ann: results exact within bucket, sims correct, deterministic") {
    val e = emb
    val out = HyperplaneLSH.searchTopK(e, 64, Seq(0L, 1L, 2L), 5).collect()
    assert(out.nonEmpty)

    // recompute each pair's cosine directly; floor-bp must match
    val vecs = e.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    val buckets = e.withColumn("bkt", HyperplaneLSH.bucket("v", 64))
      .select("vec_id", "bkt").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (p, rk, cand, simBp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (pv, pn) = vecs(p)
      val (cv, cn) = vecs(cand)
      var dot = 0.0
      var i = 0
      while (i < 64) { dot += pv(i) * cv(i); i += 1 }
      assert(math.floor(dot / (pn * cn) * 10000.0).toLong == simBp, s"probe $p cand $cand")
      assert(buckets(p) == buckets(cand), "candidate outside probe bucket (hamming 0)")
      assert(rk >= 1 && rk <= 5)
    }

    // deterministic across runs
    val out2 = HyperplaneLSH.searchTopK(e, 64, Seq(0L, 1L, 2L), 5).collect()
    assert(out.map(_.toString).sameElements(out2.map(_.toString)))
  }

  test("ANN recall: multi-probe LSH and k-means IVF beat their single-probe/seeded baselines") {
    import org.apache.spark.sql.Row
    val e = emb.persist()
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)

    // ground truth: brute-force exact top-5 (the x_sim_topk definition)
    def pairSet(rows: Array[Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairSet(graft.SparkEntry.queries("x_sim_topk")(spark, sf).collect())
    assert(truth.size == 25)
    def recall(found: Set[(Long, Long)]): Double =
      truth.intersect(found).size.toDouble / truth.size

    // LSH: hamming-1 multi-probe recalls at least what single-probe does
    val single = recall(pairSet(
      HyperplaneLSH.searchTopK(e, 64, probeIds, 5, hamming = 0).collect()))
    val multi = recall(pairSet(
      HyperplaneLSH.searchTopK(e, 64, probeIds, 5, hamming = 1).collect()))
    assert(multi >= single, s"multi-probe $multi < single-probe $single")
    assert(multi > 0.0)

    // IVF: k-means centroids + nProbe=2 recall at least the seeded
    // 1-probe variant (the x_ann_ivf oracle-parity query)
    val seeded = recall(pairSet(
      graft.SparkEntry.queries("x_ann_ivf")(spark, sf).collect()))
    // the DECLARED k-means query (train k=10 iters=3, nProbe=2)
    val kmeans = recall(pairSet(
      graft.SparkEntry.queries("x_ann_ivf_kmeans")(spark, sf).collect()))
    assert(kmeans >= seeded, s"k-means IVF $kmeans < seeded IVF $seeded")
    assert(kmeans > 0.0)

    // determinism: training twice gives identical centroids
    val cents = KMeansIVF.train(e, k = 10, iters = 3)
    val cents2 = KMeansIVF.train(e, k = 10, iters = 3)
    assert(cents.map(_._2.toSeq) sameElements cents2.map(_._2.toSeq))
    e.unpersist()
  }

  test("pq ann: sims exact, recall vs brute force, deterministic training") {
    import org.apache.spark.sql.Row
    val e = emb.persist()
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)

    def pairSet(rows: Array[Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairSet(graft.SparkEntry.queries("x_sim_topk")(spark, sf).collect())

    val model = ProductQuantizer.train(e)
    val out = ProductQuantizer.searchTopK(e, model, probeIds, k = 5).collect()
    assert(out.length == 25, s"expected 5 probes x 5, got ${out.length}")

    // the reported sim_bp is EXACT cosine (re-rank contract) — check
    // every emitted pair against a direct recomputation
    val vecs = e.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    out.foreach { r =>
      val (p, cand, simBp) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val (pv, pn) = vecs(p)
      val (cv, cn) = vecs(cand)
      var dot = 0.0
      var i = 0
      while (i < 64) { dot += pv(i) * cv(i); i += 1 }
      assert(math.floor(dot / (pn * cn) * 10000.0).toLong == simBp,
        s"probe $p cand $cand sim mismatch")
    }

    // with a 64-candidate re-rank over a 50-vector corpus the ADC scan
    // keeps everything → recall must be perfect here; at larger corpora
    // the declared-query invariant is recall > 0 (spec guards the shape,
    // not a tuned recall number)
    val rec = truth.intersect(pairSet(out)).size.toDouble / truth.size
    if (vecs.size <= 64) assert(rec == 1.0, s"full-coverage recall $rec != 1")
    else assert(rec > 0.0, s"pq recall $rec")

    // codes have M entries in [0, ks); training is deterministic
    val coded = ProductQuantizer.encode(e, model)
      .select(col("codes")).collect()
    coded.foreach { r =>
      val cs = r.getSeq[Int](0)
      assert(cs.length == model.m)
      assert(cs.forall(c => c >= 0 && c < model.ks))
    }
    val model2 = ProductQuantizer.train(e)
    assert(model.codebook.toSeq == model2.codebook.toSeq)

    // second search identical (end-to-end determinism)
    val out2 = ProductQuantizer.searchTopK(e, model, probeIds, k = 5).collect()
    assert(out.map(_.toString) sameElements out2.map(_.toString))
    e.unpersist()
  }

  test("ivf-pq: exact sims, candidates confined to probed cells, deterministic") {
    import org.apache.spark.sql.Row
    val e = emb.persist()
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
    val index = IvfPq.train(e)
    val out = IvfPq.searchTopK(e, index, probeIds, k = 5, nProbe = 2).collect()
    assert(out.nonEmpty)

    // exact-cosine contract on every emitted pair
    val vecs = e.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    out.foreach { r =>
      val (p, cand, simBp) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val (pv, pn) = vecs(p)
      val (cv, cn) = vecs(cand)
      var dot = 0.0
      var i = 0
      while (i < 64) { dot += pv(i) * cv(i); i += 1 }
      assert(math.floor(dot / (pn * cn) * 10000.0).toLong == simBp,
        s"probe $p cand $cand sim mismatch")
    }

    // every candidate lives in one of its probe's nProbe cells (the
    // pruning contract — IVF-PQ must not silently widen the search)
    val cells = KMeansIVF.assign(e, index.cents)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probeCells = e.where(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"),
        graft.functions.Centroids.nearestCol(col("v"), col("nrm"),
          index.cents.toSeq, 2).as("pc")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    out.foreach { r =>
      val (p, cand) = (r.getLong(0), r.getLong(2))
      assert(probeCells(p).contains(cells(cand)),
        s"candidate $cand outside probe $p's cells")
    }

    // recall vs brute force is non-zero and search is deterministic
    def pairSet(rows: Array[Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairSet(graft.SparkEntry.queries("x_sim_topk")(spark, sf).collect())
    val rec = truth.intersect(pairSet(out)).size.toDouble / truth.size
    assert(rec > 0.0, s"ivf-pq recall $rec")
    val out2 = IvfPq.searchTopK(e, index, probeIds, k = 5, nProbe = 2).collect()
    assert(out.map(_.toString) sameElements out2.map(_.toString))
    e.unpersist()
  }

  test("embed near-dup: banded-LSH candidates reproduce brute force exactly") {
    // full-recall proof on the driver corpora: the bucketed pipeline's
    // verified output must equal the all-pairs definition pair-for-pair
    // (same ids AND same floor-bp scores) — this is the contract that
    // lets x_embed_neardup keep its brute-force DuckDB oracle
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = embAt(dir)
      val a = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("b_nrm"))
      val brute = a.join(b, col("a_id") < col("b_id"))
        .withColumn("cos", expr("vec_dot(av, bv)") / (col("a_nrm") * col("b_nrm")))
        .where(col("cos") >= 0.45)
        .select(col("a_id"), col("b_id"),
          floor(col("cos") * 10000.0).cast("long").as("cos_bp"))
        .collect().map(_.toString).sorted
      val bucketed = EmbedNearDup.pairs(e, threshold = 0.45)
        .select(col("a_id"), col("b_id"),
          floor(col("cos") * 10000.0).cast("long").as("cos_bp"))
        .collect().map(_.toString).sorted
      assert(brute.nonEmpty, s"$dir: brute-force found no pairs (bad fixture)")
      assert(bucketed.sameElements(brute),
        s"$dir: bucketed ${bucketed.length} pairs vs brute ${brute.length}")
    }
  }

  test("incremental ANN index: persisted probe roundtrip, planted-dup top-1, append") {
    import spark.implicits._
    val e = embAt("/root/testdata/sf0.01")
    val corpus = e.where(col("vec_id") < 150)
    val dir = tmpDir("ivfpqincr")
    val index = IvfPq.train(corpus)
    IvfPq.saveIndexed(corpus, index, s"$dir/idx")

    // batch: exact copies of three corpus vectors under fresh ids — a
    // copy shares its source's cells AND codes, so SDC scores it
    // maximal and top-1 must be the source (rank ties broken by id)
    val copies = corpus.where(col("vec_id").isin(3L, 7L, 11L))
      .select((col("vec_id") + 1000L).as("vec_id"), col("v"), col("nrm"))
    val out = IvfPq.probeAgainstIndex(copies, s"$dir/idx", k = 3)
      .collect()
    val top1 = out.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1 == Map(1003L -> 3L, 1007L -> 7L, 1011L -> 11L), top1.toString)
    // deterministic: the probe is a pure function of index + batch
    val again = IvfPq.probeAgainstIndex(copies, s"$dir/idx", k = 3).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))

    // the probe reads codes only — the index side has no vector column
    // on disk at all, so the strongest check is the stored schema itself
    val idxSchema = spark.read.parquet(s"$dir/idx/assignments").schema
    assert(idxSchema.fieldNames.toSet == Set("vec_id", "cid", "codes"),
      s"index must store only assignments: $idxSchema")

    // append: index the copies themselves, then a copy-of-a-copy probe
    // must find BOTH its corpus source and the appended twin
    IvfPq.saveIndexed(copies, index, s"$dir/idx", append = true)
    val probe2 = copies.where(col("vec_id") === 1003L)
      .select((col("vec_id") + 1000L).as("vec_id"), col("v"), col("nrm"))
    val hits = IvfPq.probeAgainstIndex(probe2, s"$dir/idx", k = 2)
      .collect().map(_.getLong(2)).toSet
    assert(hits == Set(3L, 1003L), s"append not probed: $hits")
  }

  test("embed near-dup: pairsAuto dispatch — both regimes, identical verified output") {
    // the size probe changes COST, never answers: the small-corpus
    // brute regime and the forced-LSH regime must agree pair-for-pair
    val e = embAt("/root/testdata/sf0.01")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a_id"), col("b_id"),
        floor(col("cos") * 10000.0).cast("long").as("cos_bp"))
      .collect().map(_.toString).sorted
    val auto = canon(EmbedNearDup.pairsAuto(e, threshold = 0.45))
    val lsh = canon(EmbedNearDup.pairs(e, threshold = 0.45))
    val brute = canon(EmbedNearDup.bruteForcePairs(e, threshold = 0.45))
    assert(auto.nonEmpty && auto.sameElements(lsh) && auto.sameElements(brute))
    // gate corpora sit under the bound -> the dispatch picks the scan
    assert(e.count() <= EmbedNearDup.BruteForceMaxRows)
    val plan = EmbedNearDup.bruteForcePairs(e, threshold = 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"brute regime must stay shuffle-free:\n$plan")
  }

  test("embed near-dup: every true pair collides in multiple bands (recall margin)") {
    // margin guard: if a plane-set or banding change ever drops the
    // min collision count to 1, recall is one unlucky band from breaking
    val e = embAt("/root/testdata/sf0.01")
    graft.GraftFunctions.install(spark)
    val sigs = e.select(col("vec_id"), expr(
      s"hyperplane_sig(v, ${EmbedNearDup.BitsPerBand}, ${EmbedNearDup.Bands})").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val truePairs = EmbedNearDup.pairs(e, threshold = 0.45)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(truePairs.nonEmpty)
    val minHits = truePairs.map { case (x, y) =>
      sigs(x).zip(sigs(y)).count { case (p, q) => p == q }
    }.min
    assert(minHits >= 2, s"recall margin eroded: min band collisions = $minHits")
  }

  test("calibration: threshold-derived (r, bands) pins the proven operating points") {
    // 0.45 must reproduce the calibration the oracle hash-match was
    // proven at; 0.8 must widen the AND (more pruning per band)
    assert(EmbedNearDup.calibrate(0.45) == (3, 32))
    assert(EmbedNearDup.calibrate(0.8) == (7, 32))
    assert(EmbedNearDup.calibrate(0.9)._1 > EmbedNearDup.calibrate(0.8)._1)
    intercept[IllegalArgumentException] { EmbedNearDup.calibrate(0.0) }
  }

  test("embed near-dup at 0.8: candidates << all pairs, dual-run recall exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the driver corpora hold no pairs at cos >= 0.8, so plant
    // deterministic near-duplicates: v' = v + 0.4*u (u from a fixed
    // plane), cos(v, v') ~ 0.93 for near-orthogonal u
    val base = embAt(sf).select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val u = HyperplaneLSH.planes(64, 4)(3)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val dups = base.take(20).map { case (id, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (id + 100000L, v.zipWithIndex.map { case (x, d) => x + 0.4 * nrm * un(d) })
    }
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize((base ++ dups).toSeq.map {
        case (id, v) => Row(id, v.toSeq) }, 4), schema)
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))

    // dual run: bucketed output == brute-force definition, pair for pair
    val a = all.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("a_nrm"))
    val b = all.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("b_nrm"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", expr("vec_dot(av, bv)") / (col("a_nrm") * col("b_nrm")))
      .where(col("cos") >= 0.8)
      .select(col("a_id"), col("b_id"), floor(col("cos") * 10000.0).cast("long"))
      .collect().map(_.toString).sorted
    val bucketed = EmbedNearDup.pairs(all, threshold = 0.8)
      .select(col("a_id"), col("b_id"), floor(col("cos") * 10000.0).cast("long"))
      .collect().map(_.toString).sorted
    assert(brute.length >= 20, s"fixture too weak: ${brute.length} true pairs")
    assert(bucketed.sameElements(brute),
      s"bucketed ${bucketed.length} pairs vs brute ${brute.length}")

    // and the 0.8 calibration actually prunes: candidate volume is a
    // small fraction of all pairs (the 0.45 calibration admits ~98%)
    val n = all.count()
    val allPairs = n * (n - 1) / 2.0
    val (r08, b08) = EmbedNearDup.calibrate(0.8)
    val cand08 = EmbedNearDup.candidatePairs(
      all.select(col("vec_id"), col("v")), r08, b08).count()
    assert(cand08 / allPairs < 0.5,
      f"0.8 calibration admits ${cand08 / allPairs}%.2f of all pairs")
    val cand045 = EmbedNearDup.candidatePairs(
      all.select(col("vec_id"), col("v")), 3, 32).count()
    assert(cand08 < cand045 / 2,
      s"wider AND should prune: $cand08 vs $cand045 at the 0.45 calibration")
  }

  test("bucket guard fails loudly on a degenerate corpus") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 200 copies of one vector: every band has one bucket holding all of
    // them — exactly the mass-duplication pathology the guard names
    val v = Array.tabulate(64)(d => math.sin(d + 1.0))
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val degenerate = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 200L).map(i => Row(i, v.toSeq)), 4), schema)
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val ex = intercept[IllegalStateException] {
      EmbedNearDup.pairs(degenerate, threshold = 0.8, maxBucket = Some(50L)).count()
    }
    assert(ex.getMessage.contains("bucket guard") && ex.getMessage.contains("200"))
    // the same guard stays silent on a healthy corpus
    assert(EmbedNearDup.pairs(embAt(sf), threshold = 0.45,
      maxBucket = Some(1000L)).count() >= 0)
  }

  test("IVF centroid persistence: save/load roundtrip, search equals in-session result") {
    val e = emb
    val cents = KMeansIVF.train(e, k = 8, iters = 2)
    val dir = tmpDir("ivfidx")
    KMeansIVF.save(spark, cents, dir)
    val loaded = KMeansIVF.load(spark, dir)
    assert(loaded.map(_._1).sameElements(cents.map(_._1)))
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    // the serving path (load + search, no train) returns the same rows
    val probes = Seq(0L, 1L, 2L)
    val a = KMeansIVF.searchTopK(e, cents, probes, k = 5).collect().map(_.toString)
    val b = KMeansIVF.searchTopK(e, loaded, probes, k = 5).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("PQ + IVF-PQ index persistence: save/load roundtrip, serving path identical") {
    val e = emb
    val probes = Seq(0L, 1L, 2L)

    val model = ProductQuantizer.train(e)
    val pqDir = tmpDir("pqidx")
    ProductQuantizer.save(spark, model, pqDir)
    val pqLoaded = ProductQuantizer.load(spark, pqDir)
    assert(pqLoaded.m == model.m && pqLoaded.ks == model.ks &&
      pqLoaded.dsub == model.dsub)
    assert(pqLoaded.codebook.sameElements(model.codebook))
    val a = ProductQuantizer.searchTopK(e, model, probes, k = 5)
      .collect().map(_.toString)
    val b = ProductQuantizer.searchTopK(e, pqLoaded, probes, k = 5)
      .collect().map(_.toString)
    assert(a.sameElements(b))

    val index = IvfPq.train(e)
    val ivfpqDir = tmpDir("ivfpqidx")
    IvfPq.save(spark, index, ivfpqDir)
    val loaded = IvfPq.load(spark, ivfpqDir)
    val c = IvfPq.searchTopK(e, index, probes, k = 5).collect().map(_.toString)
    val d = IvfPq.searchTopK(e, loaded, probes, k = 5).collect().map(_.toString)
    assert(c.sameElements(d))
  }

  test("x_semantic_dedup: cluster-bounded pair search, accounting conserved") {
    val df = graft.SparkEntry.queries("x_semantic_dedup")(spark, sf)
    // the pair search must be an equi-join on c_id — Σ|cluster|² cost,
    // never an all-pairs cartesian
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair search fell back to all-pairs:\n$p")
    val rows = df.collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // cluster memberships partition the corpus
    assert(rows.map(_.getLong(1)).sum == nVecs)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1)) // kept <= members
      if (r.getLong(2) == 0) assert(r.getLong(3) == r.getLong(1))
    }
    // within-cluster near-dup pairs are a subset of the brute-force set
    val allPairs = graft.SparkEntry.queries("x_embed_neardup")(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum <= allPairs)
  }

  test("lsh planes are reproducible and bounded") {
    val a = HyperplaneLSH.planes(64).flatten[Double]
    val b = HyperplaneLSH.planes(64).flatten[Double]
    assert(a.sameElements(b))
    assert(a.forall(x => x >= -1.0 && x <= 1.0))
  }

  test("x_ann_recall: exact control is perfect, every family clears its floor, deterministic") {
    def table() = graft.SparkEntry.queries("x_ann_recall")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val t = table()
    assert(t.keySet == Set("exact", "ivf_seeded", "ivf_kmeans",
      "lsh_hyperplane", "pq_adc", "ivf_pq"))
    // the control row: brute force against itself is recall 1.0
    assert(t("exact") == ((5L, 10000L, 10000L, 5L)), t.toString)
    t.foreach { case (fam, (n, mean, min, perfect)) =>
      assert(n == 5L, fam)
      assert(mean >= min && mean <= 10000 && min >= 0, fam)
      assert(perfect <= n, fam)
    }
    // every family must beat random guessing by a wide margin (5 of N
    // corpus vectors would be ~0 bp); floors chosen below each family's
    // observed value at both gate SFs so regressions — not noise — trip
    assert(t("ivf_kmeans")._2 >= 5000, t.toString)
    assert(t("pq_adc")._2 >= 5000, t.toString)
    assert(t("ivf_pq")._2 >= 5000, t.toString)
    assert(t("ivf_seeded")._2 >= 2000, t.toString)
    assert(t("lsh_hyperplane")._2 >= 2000, t.toString)
    // hash-geometry is deterministic: two runs, same table
    assert(table() == t)
  }
}
