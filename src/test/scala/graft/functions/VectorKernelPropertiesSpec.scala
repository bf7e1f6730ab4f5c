package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Property checks over the vector-side codegen kernels (centroid
  * argmin, PQ codec, hyperplane banding, bloom membership), executed
  * through real DataFrames against independent plain-Scala references.
  * Complements KernelPropertiesSpec (text/hash kernels): these are the
  * kernels whose INDEX GEOMETRY the rows-only ANN queries rest on, so
  * a codegen bug here would be invisible to every oracle. */
class VectorKernelPropertiesSpec extends AnyFunSuite with SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int, seed: Long = 31L): List[A] =
    Iterator.iterate(rng.Seed(seed))(_.next).take(n)
      .map(s => gen.pureApply(Gen.Parameters.default, s)).toList

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def nrmOf(v: Seq[Double]): Double = math.sqrt(dot(v, v))

  test("property: nearest_centroid equals the Scala argmax-cosine with lowest-id ties") {
    import spark.implicits._
    val dim = 6
    val vGen = Gen.listOfN(dim, Gen.chooseNum(-10.0, 10.0))
    // centroid 4 duplicates centroid 1 exactly — every vector ties
    // between them and MUST resolve to the lower id
    val c1 = samples(vGen, 1, seed = 41L).head.toArray
    val cents: Seq[(Int, Array[Double])] = Seq(
      1 -> c1,
      2 -> samples(vGen, 1, seed = 42L).head.toArray,
      3 -> samples(vGen, 1, seed = 43L).head.toArray,
      4 -> c1.clone())
    val vecs = samples(vGen, 50).filter(v => nrmOf(v) > 0)
    def ref(v: Seq[Double]): Int =
      cents.map { case (id, c) =>
        (id, dot(v, c.toSeq) / (nrmOf(v) * nrmOf(c.toSeq))) }
        .sortBy { case (id, cos) => (-cos, id) }.head._1
    val got = vecs.map(v => (v, nrmOf(v))).toDF("v", "nrm")
      .select($"v", Centroids.nearestCol($"v", $"nrm", cents).as("cid"))
      .collect().map(r => (r.getSeq[Double](0), r.getInt(1)))
    got.foreach { case (v, cid) =>
      assert(cid == ref(v), s"nearest_centroid($v) = $cid, want ${ref(v)}")
      assert(cid != 4, "tie must resolve to the LOWEST centroid id")
    }
    // multi-probe: top-2 equals the reference (cos desc, id asc) prefix
    val got2 = vecs.map(v => (v, nrmOf(v))).toDF("v", "nrm")
      .select($"v", Centroids.nearestCol($"v", $"nrm", cents, n = 2).as("cids"))
      .collect().map(r => (r.getSeq[Double](0), r.getSeq[Int](1).toList))
    def ref2(v: Seq[Double]): List[Int] =
      cents.map { case (id, c) =>
        (id, dot(v, c.toSeq) / (nrmOf(v) * nrmOf(c.toSeq))) }
        .sortBy { case (id, cos) => (-cos, id) }.take(2).map(_._1).toList
    got2.foreach { case (v, cids) =>
      assert(cids == ref2(v), s"nearest 2 of $v: $cids, want ${ref2(v)}")
    }
  }

  test("property: pq_encode picks the L2-nearest code per subspace, lowest code on ties") {
    import spark.implicits._
    val m = 3; val ks = 4; val dsub = 2; val dim = m * dsub
    val cbGen = Gen.listOfN(m * ks * dsub, Gen.chooseNum(-1.0, 1.0))
    val cb0 = samples(cbGen, 1, seed = 51L).head.toArray
    // plant a duplicate centroid inside subspace 0: code 3 == code 0 —
    // a tie every vector hits, must encode as the LOWER code
    System.arraycopy(cb0, 0, cb0, 3 * dsub, dsub)
    def ref(v: Seq[Double], nrm: Double): List[Int] = {
      val inv = if (nrm == 0) 0.0 else 1.0 / nrm
      (0 until m).map { s =>
        (0 until ks).map { c =>
          val d2 = (0 until dsub).map { d =>
            val diff = v(s * dsub + d) * inv - cb0((s * ks + c) * dsub + d)
            diff * diff
          }.sum
          (c, d2)
        }.minBy { case (c, d2) => (d2, c) }._1
      }.toList
    }
    val vecs = samples(Gen.listOfN(dim, Gen.chooseNum(-2.0, 2.0)), 40)
      .filter(v => nrmOf(v) > 0)
    val got = vecs.map(v => (v, nrmOf(v))).toDF("v", "nrm")
      .select($"v", $"nrm",
        PqCodec.encodeCol($"v", $"nrm", cb0, m, ks, dsub).as("codes"))
      .collect().map(r =>
        (r.getSeq[Double](0), r.getDouble(1), r.getSeq[Int](2).toList))
    got.foreach { case (v, nrm, codes) =>
      assert(codes == ref(v, nrm), s"pq_encode($v) = $codes, want ${ref(v, nrm)}")
      assert(codes.head != 3, "subspace-0 tie must take the LOWEST code")
    }
    // zero-quantization-error identity: a vector that IS a centroid
    // concatenation (probed with nrm = 1 so no rescaling) encodes to
    // exactly the chosen code tuple
    val chosen = List(2, 1, 2)
    val exactV = chosen.zipWithIndex.flatMap { case (c, s) =>
      (0 until dsub).map(d => cb0((s * ks + c) * dsub + d)) }
    val exactCodes = Seq((exactV, 1.0)).toDF("v", "nrm")
      .select(PqCodec.encodeCol($"v", $"nrm", cb0, m, ks, dsub))
      .collect().head.getSeq[Int](0).toList
    assert(exactCodes == chosen, s"exact centroid concat encoded as $exactCodes")
  }

  test("property: pq_adc / pq_sdc walk exactly the documented flat LUT layout") {
    import spark.implicits._
    val m = 4; val ks = 5; val nProbes = 3
    // distinctive LUT values make any index transposition visible:
    // adc lut[(p*m + s)*ks + c] = p*1e6 + s*1e3 + c
    val adcLut = Array.tabulate(nProbes * m * ks)(i => i.toDouble)
    val sdcLut = Array.tabulate(m * ks * ks)(i => i.toDouble)
    val codeGen = Gen.listOfN(m, Gen.chooseNum(0, ks - 1))
    val rows = samples(Gen.zip(codeGen, codeGen, Gen.chooseNum(0, nProbes - 1)), 50)
    def adcRef(codes: List[Int], p: Int): Double =
      (0 until m).map(s => adcLut((p * m + s) * ks + codes(s))).sum
    def sdcRef(a: List[Int], b: List[Int]): Double =
      (0 until m).map(s => sdcLut((s * ks + a(s)) * ks + b(s))).sum
    val got = rows.toDF("a", "b", "p")
      .select(
        PqCodec.adcCol($"a", $"p", adcLut, m, ks).as("adc"),
        PqCodec.sdcCol($"a", $"b", sdcLut, m, ks).as("sdc"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    rows.zip(got).foreach { case ((a, b, p), (gAdc, gSdc)) =>
      assert(gAdc == adcRef(a, p), s"adc($a, p=$p) = $gAdc, want ${adcRef(a, p)}")
      assert(gSdc == sdcRef(a, b), s"sdc($a, $b) = $gSdc, want ${sdcRef(a, b)}")
    }
  }

  test("property: hyperplane_sig band keys equal the public plane definition's sign bits") {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val dim = 8; val r = 4; val bands = 3
    val planes = Hyperplanes.planes(dim, r * bands)
    def ref(v: Seq[Double]): List[Int] =
      (0 until bands).map { b =>
        (0 until r).foldLeft(0) { (key, j) =>
          if (dot(v, planes(b * r + j).toSeq) > 0) key | (1 << j) else key
        }
      }.toList
    val vecs = samples(Gen.listOfN(dim, Gen.chooseNum(-5.0, 5.0)), 60)
    val got = vecs.toDF("v")
      .selectExpr(s"hyperplane_sig(v, $r, $bands) AS sig")
      .collect().map(_.getSeq[Int](0).toList)
    vecs.zip(got).foreach { case (v, sig) =>
      assert(sig == ref(v), s"hyperplane_sig($v) = $sig, want ${ref(v)}")
      assert(sig.forall(k => k >= 0 && k < (1 << r)), "band key out of range")
    }
  }

  test("property: bloom sketch has NO false negatives; false-positive rate stays small") {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val members = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 500, seed = 61L)
      .distinct
    val sketch = members.toDF("h")
      .selectExpr("bloom_agg(h, 1000L, 16384L) AS sk")
      .collect().head.getAs[Array[Byte]](0)
    BloomSketch.registerSketch(spark, "bloom_test_member", sketch)
    // the exact-verify-after-prefilter correctness argument: EVERY
    // member must pass — a single false negative silently drops rows
    val memberHits = members.toDF("h")
      .selectExpr("bloom_test_member(h) AS hit")
      .collect().count(_.getBoolean(0))
    assert(memberHits == members.length,
      s"bloom dropped ${members.length - memberHits} members (false negatives)")
    // false positives only waste exact-join work — but the rate must be
    // sane for the prefilter to be worth it
    val nonMembers = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 2000,
      seed = 62L).distinct.filterNot(members.toSet)
    val fp = nonMembers.toDF("h")
      .selectExpr("bloom_test_member(h) AS hit")
      .collect().count(_.getBoolean(0))
    assert(fp.toDouble / nonMembers.length < 0.05,
      s"bloom FPR ${fp.toDouble / nonMembers.length} too high for a prefilter")
  }
}
