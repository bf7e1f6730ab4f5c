package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The testdata-regeneration drill, automated (it was a manual
  * round-start exercise through round 11): per-(JVM, generation)
  * caches key on `tableStamp` = path@maxMtime:totalLength, so a
  * REGENERATED table (the driver rewrites testdata between rounds)
  * must rebuild the cached model while an untouched one must serve
  * warm. Runs against a private COPY of the sf0.001 table — the real
  * testdata is read-only and never touched. */
class CacheGenerationSpec extends AnyFunSuite with SparkTestBase {

  test("regeneration drill: warm generation served from cache, new generation rebuilds") {
    val dir = tmpDir("regen")
    val dst = Paths.get(dir, "embeddings.parquet")
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"), dst,
      StandardCopyOption.REPLACE_EXISTING)

    val c1 = VectorOps.kmeansArithCents(spark, dir)
    val warm = QueryModule.localCacheBuilds.get()
    val c2 = VectorOps.kmeansArithCents(spark, dir)
    assert(QueryModule.localCacheBuilds.get() == warm,
      "unchanged generation was rebuilt — stamp keying broken")
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })

    // regeneration: same bytes, NEW generation — fingerprint is
    // maxMtime:totalLength, so an mtime bump models the driver's
    // rewrite (content equality keeps the retrain comparable)
    assert(dst.toFile.setLastModified(dst.toFile.lastModified + 5000),
      "test could not bump mtime")
    val c3 = VectorOps.kmeansArithCents(spark, dir)
    assert(QueryModule.localCacheBuilds.get() == warm + 1,
      "regenerated table served a STALE cached model")
    // deterministic retrain on identical content: same centroids
    assert(c1.zip(c3).forall { case (a, b) => a.sameElements(b) })
  }

  test("artifact builds are wall-clock-charged: buildTimes records a build " +
      "that RUNS and is untouched by a warm serve (r20 bench charge)") {
    val dir = tmpDir("buildtime")
    val dst = Paths.get(dir, "embeddings.parquet")
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    def recorded: Double =
      Option(QueryModule.buildTimes.get("kmarith")).map(_.doubleValue).getOrElse(0.0)
    val before = recorded
    VectorOps.kmeansArithCents(spark, dir) // fresh dir ⇒ a build runs
    val built = recorded
    assert(built > before,
      "a build ran but no wall time landed in QueryModule.buildTimes")
    VectorOps.kmeansArithCents(spark, dir) // same generation ⇒ warm serve
    assert(recorded == built,
      "a warm serve was charged as a build — only executed thunks may record")
  }

  test("a build that throws is not charged: its successful retry records " +
      "exactly one build's time") {
    def recorded: Double =
      Option(QueryModule.buildTimes.get("failretry")).map(_.doubleValue).getOrElse(0.0)
    val before = recorded
    var attempts = 0
    var retryS = 0.0
    def build: Array[Byte] = {
      attempts += 1
      val t0 = System.nanoTime()
      if (attempts == 1) { Thread.sleep(400); throw new IllegalStateException("build failed") }
      Thread.sleep(20)
      retryS = (System.nanoTime() - t0) / 1e9
      Array[Byte](1)
    }
    intercept[IllegalStateException](QueryModule.cachedLocal("failretry:k", "g1")(build))
    assert(recorded == before, "the throwing build was charged")
    assert(QueryModule.cachedLocal("failretry:k", "g1")(build).sameElements(Array[Byte](1)))
    assert(attempts == 2, "the Box did not retry the failed build")
    val charged = recorded - before
    assert(charged >= retryS && charged < 0.4,
      s"charged $charged s for one ${retryS} s build after a 0.4 s failed one")
  }

  test("cachedIndex regeneration drill: a regenerated documents table " +
      "rebuilds the persisted near-dup pair list (r14 artifact class)") {
    // r14 moved corpus-derived artifacts (ngramPairs, the oracle-twin
    // signatures) to cachedIndex parquet; the stamp rule must hold for
    // them exactly as for cachedLocal models: same generation → served
    // warm and identical, regenerated CONTENT at the same path → a
    // REBUILD from the new bytes, never a stale artifact.
    def copyDocs(from: String, to: String): Unit = {
      val dst = Paths.get(to, "documents.parquet")
      Files.copy(Paths.get(s"$from/documents.parquet"), dst,
        StandardCopyOption.REPLACE_EXISTING)
      // ensure the mtime term moves even on a same-second copy
      assert(dst.toFile.setLastModified(System.currentTimeMillis() + 5000))
    }
    def pairs(dir: String): Seq[String] =
      graft.SparkEntry.queries("x_dedup_ngram")(spark, dir)
        .collect().map(_.toString).toSeq
    // r15's mhsigned artifact (x_minhash_error's persisted signed
    // front-end) — same cachedIndex class, drilled alongside
    def cal(dir: String): Seq[String] =
      graft.SparkEntry.queries("x_minhash_error")(spark, dir)
        .collect().map(_.toString).toSeq

    val dir = tmpDir("regenpairs")
    copyDocs("/root/testdata/sf0.001", dir)
    val first = pairs(dir)
    val calFirst = cal(dir)
    assert(pairs(dir) == first, "warm generation not served identically")
    assert(cal(dir) == calFirst, "warm signed front-end not served identically")

    // regeneration with DIFFERENT content at the same path
    copyDocs("/root/testdata/sf0.01", dir)
    val regen = pairs(dir)
    val calRegen = cal(dir)
    // fresh cache key over the same new content = the rebuild reference
    val fresh = tmpDir("freshpairs")
    copyDocs("/root/testdata/sf0.01", fresh)
    assert(regen == pairs(fresh),
      "regenerated table did not rebuild the pair-list artifact")
    assert(regen != first,
      "drill vacuous: the two corpora produced identical pair lists")
    assert(calRegen == cal(fresh),
      "regenerated table did not rebuild the signed front-end artifact")
    assert(calRegen != calFirst,
      "drill vacuous: the two corpora produced identical calibrations")
  }

  test("cachedIndex regeneration drill for the r19 artifacts: jacpairs " +
      "(x_threshold_sweep), cappedpost (x_assoc_rules), shpairs-scored " +
      "(x_simhash_error_oracle)") {
    // the r19 shave class — same stamp rule, drilled the same way:
    // warm generation identical, regenerated content rebuilds (fresh
    // key over the same new content is the rebuild reference)
    def copyDocs(from: String, to: String): Unit = {
      val dst = Paths.get(to, "documents.parquet")
      Files.copy(Paths.get(s"$from/documents.parquet"), dst,
        StandardCopyOption.REPLACE_EXISTING)
      assert(dst.toFile.setLastModified(System.currentTimeMillis() + 5000))
    }
    def run(q: String, dir: String): Seq[String] =
      graft.SparkEntry.queries(q)(spark, dir)
        .collect().map(_.toString).toSeq
    // sampledpairs / winnowpairs joined the class in the second r19
    // shave batch (x_dedup_sampled / x_dedup_winnow are their direct
    // readers; x_dedup_cross / x_winnow_vs_sampled / x_dedup_compare
    // consume the same tables)
    val qs = Seq("x_threshold_sweep", "x_assoc_rules",
      "x_simhash_error_oracle", "x_dedup_sampled", "x_dedup_winnow",
      "x_dsir_weights")

    val dir = tmpDir("regen19")
    copyDocs("/root/testdata/sf0.001", dir)
    val first = qs.map(q => q -> run(q, dir)).toMap
    qs.foreach(q => assert(run(q, dir) == first(q),
      s"$q: warm generation not served identically"))

    copyDocs("/root/testdata/sf0.01", dir)
    val fresh = tmpDir("fresh19")
    copyDocs("/root/testdata/sf0.01", fresh)
    qs.foreach { q =>
      val regen = run(q, dir)
      assert(regen == run(q, fresh),
        s"$q: regenerated table did not rebuild the artifact")
      assert(regen != first(q),
        s"$q: drill vacuous — identical output on both corpora")
    }
  }
}
