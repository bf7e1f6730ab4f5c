package graft.functions

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Property checks over the native codegen kernels, executed through
  * real DataFrames (so the CODEGEN path runs, not just the static
  * kernel), against independent plain-Scala references or algebraic
  * invariants. These catch what the query-level oracles can't isolate:
  * a kernel whose generated code diverges from its documented fold, or
  * a contract (sorted-distinct output, bounded state, tie order) that
  * downstream merge-joins silently rely on.
  *
  * Deterministic ScalaCheck sampling (seed-iterated pureApply — the
  * repo's offline convention, no scalatestplus bridge). */
class KernelPropertiesSpec extends AnyFunSuite with SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int, seed: Long = 11L): List[A] =
    Iterator.iterate(rng.Seed(seed))(_.next).take(n)
      .map(s => gen.pureApply(Gen.Parameters.default, s)).toList

  private val tokenGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
  // small vocabulary → guaranteed repeated tokens/grams and ties
  private val smallVocabTokens: Gen[List[String]] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")))

  test("property: vec_dot equals the strict left fold bit-for-bit; truncates to min length") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val vecGen = for {
      n <- Gen.chooseNum(0, 64)
      m <- Gen.chooseNum(0, 64)
      a <- Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
      b <- Gen.listOfN(m, Gen.chooseNum(-1e6, 1e6))
    } yield (a, b)
    val pairs = samples(vecGen, 80)
    // independent reference: the documented fold — index 0 → n-1, one
    // accumulator, over the common prefix
    def ref(a: List[Double], b: List[Double]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val got = pairs.toDF("a", "b").selectExpr("vec_dot(a, b)")
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(ref(a, b)),
        s"vec_dot diverged from the strict fold: $g vs ${ref(a, b)}")
    }
  }

  test("property: poly_hash equals the documented 31-poly mod 1e9+7 byte fold") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((acc, b) =>
        (acc * 31 + (b & 0xFF)) % 1000000007L)
    val gen = Gen.chooseNum(0, 120).flatMap(n =>
      Gen.stringOfN(n, Gen.frequency(5 -> Gen.const(' '), 20 -> Gen.alphaNumChar)))
    val docs = samples(gen, 60)
    val got = docs.toDF("s").selectExpr("poly_hash(s)").collect().map(_.getLong(0))
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d), s"poly_hash('$d') = $g, want ${ref(d)}")
    }
  }

  test("property: simhash64 is a sign-aggregate — permutation/duplication invariant, singleton = hash64") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val docs = samples(Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, tokenGen)), 40)
    def sh(tokss: Seq[Seq[String]]): Seq[Long] =
      tokss.toDF("toks").selectExpr("simhash64(toks)").collect().map(_.getLong(0)).toSeq
    val base = sh(docs)
    // (a) multiset semantics: token order is irrelevant
    val perm = sh(docs.map(d => scala.util.Random.javaRandomToRandom(
      new java.util.Random(42)).shuffle(d)))
    assert(base == perm, "simhash64 depends on token order")
    // (b) doubling every count preserves every bit-majority sign
    val dup = sh(docs.map(d => d ++ d))
    assert(base == dup, "simhash64 not invariant under count doubling")
    // (c) a single token's simhash is that token's hash64 (each set bit
    // wins its majority; each unset bit loses) — ties the expression to
    // the shared Hashing kernel the LSH banding uses
    val singles = docs.map(_.head)
    val gotSingle = sh(singles.map(Seq(_)))
    singles.zip(gotSingle).foreach { case (t, g) =>
      assert(g == SimHash.hash64(t.getBytes("UTF-8")),
        s"simhash64([$t]) != hash64($t)")
    }
  }

  test("property: shingle_hashes output is sorted-distinct (the merge-intersect contract)") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val docs = samples(smallVocabTokens, 60)
    val got = docs.toDF("toks").selectExpr("shingle_hashes(toks, 3) AS sh")
      .collect().map(_.getSeq[Long](0))
    docs.zip(got).foreach { case (d, g) =>
      // StreamingNearDup's merge-intersection and array_intersect sizes
      // both assume sorted distinct — an unsorted kernel would corrupt
      // Jaccard silently
      assert(g.sameElements(g.distinct.sorted), s"not sorted-distinct: $g")
      assert(g.length <= math.max(0, d.length - 2), "more shingles than grams")
      if (d.length < 3) assert(g.isEmpty, "sub-k doc must have no shingles")
    }
  }

  test("property: minhash_sig — fixed length, duplicate-invariant, superset dominates elementwise") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val setGen = Gen.chooseNum(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)))
    val sets = samples(setGen, 40).map(_.distinct)
    def sig(xs: Seq[Seq[Long]]): Seq[Seq[Long]] =
      xs.toDF("sh").selectExpr("minhash_sig(sh, 32) AS sig")
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val base = sig(sets)
    base.foreach(s => assert(s.length == 32))
    // min over a multiset ignores duplicates
    val dup = sig(sets.map(s => s ++ s))
    assert(base == dup, "minhash_sig not duplicate-invariant")
    // adding shingles can only lower (or keep) each per-hash minimum —
    // the monotonicity the banding recall argument rests on
    val extra = sets.map(s => s ++ Seq(s.head + 17L, s.head + 31L))
    val sup = sig(extra)
    base.zip(sup).foreach { case (b, s) =>
      assert(b.zip(s).forall { case (x, y) => y <= x },
        "superset signature must dominate elementwise") }
    // equal sets (different order) → identical signatures
    val rev = sig(sets.map(_.reverse))
    assert(base == rev, "minhash_sig depends on shingle order")
  }

  test("property: ngram_top_count equals the exact most-frequent-gram multiplicity") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val docs = samples(smallVocabTokens, 60, seed = 23L)
    // independent reference: group exact string 3-grams (the 5-token
    // vocabulary makes repeats certain; a 64-bit hash collision merging
    // two distinct grams is vanishing)
    def ref(d: List[String]): Long =
      if (d.length < 3) 0L
      else d.sliding(3).toList.groupBy(identity).values.map(_.length).max.toLong
    val got = docs.toDF("toks").selectExpr("ngram_top_count(toks, 3)")
      .collect().map(_.getLong(0))
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d), s"ngram_top_count = $g, want ${ref(d)} for $d")
    }
  }

  test("property: token-count byte scanners equal their regex/split references") {
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    // ASCII soup: letters, digits, punctuation, multi-space runs, and
    // mixed-case stop words woven in; plus the fixed edge cases
    val soupGen = Gen.chooseNum(0, 120).flatMap(n => Gen.stringOfN(n,
      Gen.frequency(6 -> Gen.const(' '), 12 -> Gen.alphaNumChar,
        3 -> Gen.oneOf('.', ',', '!', '-', '\''), 2 -> Gen.const('9'))))
    val stopGen = Gen.oneOf("the", "The", "THE", "and", "OF", "a", "In",
      "to", "iS", "thee", "land", "off")
    val gen = Gen.zip(soupGen, Gen.listOfN(4, stopGen)).map {
      case (s, ws) => (s.split(' ') ++ ws).mkString(" ")
    }
    val docs = "" :: "   " :: " a " :: samples(gen, 60, seed = 17L)
    def wsRef(s: String): Long = "[^ ]+".r.findAllIn(s).length.toLong
    def bpeRef(s: String): Long =
      "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]".r.findAllIn(s).length.toLong
    val stops = Set("the", "and", "of", "a", "in", "to", "is")
    def stopRef(s: String): Long =
      "[^ ]+".r.findAllIn(s).count(t => stops(t.toLowerCase)).toLong
    val got = docs.toDF("s")
      .selectExpr("s", "ws_token_count(s) AS w", "bpe_token_count(s) AS b",
        "stop_token_count(s) AS st")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (s, w, b, st) =>
      assert(w == wsRef(s), s"ws_token_count('$s') = $w, want ${wsRef(s)}")
      assert(b == bpeRef(s), s"bpe_token_count('$s') = $b, want ${bpeRef(s)}")
      assert(st == stopRef(s), s"stop_token_count('$s') = $st, want ${stopRef(s)}")
    }
  }

  test("property: TopKAgg under shuffled partitions equals the sort reference (ties by id)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // few groups, heavy score ties → the merge path and the tie rule
    // both get exercised across 7 partitions
    val rowGen = for {
      g <- Gen.chooseNum(0, 2)
      id <- Gen.chooseNum(0L, 500L)
      a <- Gen.oneOf(1.0, 2.0, 3.0, 4.0)
    } yield (g, id, a)
    val rows = samples(rowGen, 400, seed = 5L)
      .groupBy(r => (r._1, r._2)).map(_._2.head).toList // unique (g, id)
    val k = 7
    val top = udaf(TopK.TopKAgg(k, byA = true))
    val got = rows.toDF("g", "id", "a").repartition(7)
      .groupBy($"g")
      .agg(top($"id", $"a", $"a").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).cast("long").as("rk"), $"col.id".as("id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.sortBy(r => (-r._3, r._2)).take(k).map(_._2).toList).toMap
    assert(got == want, s"TopKAgg diverged from the sort reference:\n$got\nvs\n$want")
  }

  test("property: StrTopKAgg equals the (metric DESC, token ASC) sort reference") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rowGen = for {
      t <- Gen.oneOf("tok_a", "tok_b", "tok_c", "tok_d", "tok_e", "tok_f")
      n <- Gen.chooseNum(1.0, 5.0)
    } yield (t, n)
    val rows = samples(rowGen, 200, seed = 9L)
      .groupBy(_._1).map(_._2.head).toList // unique token
    val top = udaf(TopK.StrTopKAgg(3))
    val got = rows.toDF("t", "n").repartition(5)
      .agg(top($"t", $"n").as("top"))
      .selectExpr("explode(top) AS e").select("e.id")
      .collect().map(_.getString(0)).toList
    val want = rows.sortBy(r => (-r._2, r._1)).take(3).map(_._1)
    assert(got == want, s"StrTopKAgg order: $got vs $want")
  }
}
