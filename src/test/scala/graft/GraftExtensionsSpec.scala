package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.eventstore.{Ingest, Replay}
import graft.sources.EventSource

class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("GraftExtensions installs the native functions as SQL functions") {
    // fresh session (shared SparkContext) built WITH the extensions
    val ctx = spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val withExt = SparkSession.builder()
      .master(ctx.master)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val row = withExt.sql(
        """SELECT simhash64(array('a','b')) AS s,
                  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                  size(shingle_hashes(array('a','b','c','d'), 3)) AS n,
                  size(minhash_sig(array(1L, 2L, 3L), 32)) AS m,
                  poly_hash('abc') AS p,
                  ws_token_count(' a  b c ') AS w,
                  stop_token_count('The cat is ON a mat') AS st,
                  ngram_top_count(array('a','b','a','b','c'), 2) AS tc,
                  size(sampled_fingerprints(repeat('xy', 40))) AS sf,
                  deflate_len('aaaaaaaaaaaaaaaa') AS dl,
                  size(winnowed_fingerprints(repeat('xy', 40))) AS wf,
                  length((SELECT bloom_agg(id, 10L, 64L) FROM range(3))) AS ba""")
        .collect().head
      assert(row.getDouble(1) == 11.0)
      assert(row.getInt(2) == 2)
      assert(row.getInt(3) == 32)
      // ((0*31+97)*31+98)*31+99 = 97*961 + 98*31 + 99
      assert(row.getLong(4) == (97L * 961 + 98 * 31 + 99))
      assert(row.getLong(5) == 3L)
      assert(row.getLong(6) == 3L) // the, is, a
      assert(row.getLong(7) == 2L) // "a b" occurs twice
      assert(row.getInt(8) >= 0) // kernel installed via injectFunction
      assert(row.getLong(9) > 0L) // deflate_len installed
      // winnowing guarantees ≥1 pick on any ≥39-byte window (80-byte doc)
      assert(row.getInt(10) >= 1) // winnowed_fingerprints installed
      assert(row.getInt(11) > 0) // bloom_agg installed
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a declared query installs the whole function table on a fresh session, once") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val ids = GraftFunctions.all.map(_._1)
    assert(!ids.exists(reg.functionExists), "a new session starts without graft kernels")
    SparkEntry.queries("p_streams_catalog")(fresh, "/root/testdata/sf0.001")
    assert(ids.filterNot(reg.functionExists).isEmpty, "q.run left kernels uninstalled")
    // a name the session already binds is left as it is: rebind one
    // entry, and a second install must change no builder reference
    reg.createOrReplaceTempFunction("vec_dot", _ => org.apache.spark.sql.catalyst
      .expressions.Literal(0.0), "scala_udf")
    val before = ids.map(reg.lookupFunctionBuilder(_).get)
    GraftFunctions.install(fresh)
    ids.zip(before).foreach { case (id, b) =>
      assert(reg.lookupFunctionBuilder(id).get eq b, s"install re-registered $id")
    }
  }

  test("sampled_fingerprints: rolling hash == straight poly31 fold, 0-mod-p, sorted distinct") {
    import graft.functions.{Hashing, SampledFingerprints}
    graft.GraftFunctions.install(spark)
    val docs = Seq(
      "short", // < K bytes -> empty
      "the quick brown fox jumps over the lazy dog again and again and again",
      ("key agg row scan slow fast table value part " * 10).trim)
    // Scala reference: straight (non-rolling) poly31 of every 32-gram
    def ref(s: String): Array[Long] = {
      val b = s.getBytes("UTF-8")
      (0 to b.length - SampledFingerprints.K).map(i =>
        Hashing.poly31(java.util.Arrays.copyOfRange(b, i, i + SampledFingerprints.K)))
        .filter(_ % SampledFingerprints.P == 0).distinct.sorted.toArray
    }
    import spark.implicits._
    val got = docs.toDF("text")
      .selectExpr("sampled_fingerprints(text) AS fps")
      .collect().map(_.getSeq[Long](0).toArray)
    docs.zip(got).foreach { case (d, g) =>
      assert(g.sameElements(ref(d)), s"doc '${d.take(20)}...'")
      assert(g.forall(_ % SampledFingerprints.P == 0))
      assert(g.sameElements(g.distinct.sorted))
    }
    assert(got.head.isEmpty) // sub-K doc has no grams
  }

  test("property: sampled_fingerprints matches the reference fold on random ASCII docs") {
    import org.scalacheck.{Gen, rng}
    import graft.functions.{Hashing, SampledFingerprints}
    graft.GraftFunctions.install(spark)
    def ref(s: String): Array[Long] = {
      val b = s.getBytes("UTF-8")
      (0 to b.length - SampledFingerprints.K).map(i =>
        Hashing.poly31(java.util.Arrays.copyOfRange(b, i, i + SampledFingerprints.K)))
        .filter(_ % SampledFingerprints.P == 0).distinct.sorted.toArray
    }
    // deterministic ScalaCheck sampling (no scalatestplus bridge offline);
    // printable ASCII incl. spaces, lengths straddling the K=32 boundary
    val gen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.stringOfN(n, Gen.frequency(5 -> Gen.const(' '), 20 -> Gen.alphaNumChar)))
    val docs = Iterator.iterate(rng.Seed(7L))(_.next).take(60)
      .map(s => gen.pureApply(Gen.Parameters.default, s)).toList
    import spark.implicits._
    val got = docs.toDF("text")
      .selectExpr("sampled_fingerprints(text) AS fps")
      .collect().map(_.getSeq[Long](0).toArray)
    docs.zip(got).foreach { case (d, g) =>
      assert(g.sameElements(ref(d)), s"len=${d.length} doc='${d.take(40)}'")
    }
  }

  test("x_dedup_sampled: pair invariants and determinism") {
    val sf = "/root/testdata/sf0.001"
    // plan shape is pinned on the LIVE build chain (the r19 artifact
    // move: the query itself now reads the persisted pair table): the
    // boilerplate-df window rides the posting exchange (partitioned by
    // fp, never a global window), and the pair search is an equi-join
    // — no cartesian fallback
    val build = graft.queries.TextOps.sampledPairsBuild(spark, sf)
    val lp = build.queryExecution.optimizedPlan
    val wins = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty), s"$lp")
    val pp = build.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct"), pp)
    val df = SparkEntry.queries("x_dedup_sampled")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
      assert(r.getLong(2) >= 2) // threshold honored
    }
    val again = SparkEntry.queries("x_dedup_sampled")(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("event source/sink: parquet, orc, json and csv roundtrip the same events") {
    val log = tmpDir("srclog")
    Ingest.ingest(rawEvents(30), log, 1700000000000L)
    val events = Replay.typed(spark, log).toDF()
    val n = events.count()

    // every format must come back in the SAME canonical column order —
    // positional consumers and cross-format unions rely on it
    val canonical = Seq("stream_name", "order_id", "event_time", "service_id",
      "local_id", "schema_version", "payload", "provenance")
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val out = tmpDir(s"src$fmt")
      EventSource.write(events, fmt, out)
      val back = EventSource.read(spark, fmt, out)
      assert(back.columns.toSeq == canonical, s"$fmt column order")
      assert(back.count() == n, fmt)
      val a = events.select("stream_name", "order_id", "payload")
        .collect().map(_.toString).sorted
      val b = back.select("stream_name", "order_id", "payload")
        .collect().map(_.toString).sorted
      assert(a.sameElements(b), fmt)
    }
    intercept[IllegalArgumentException](EventSource.read(spark, "xml", "/tmp/x"))
  }
}
