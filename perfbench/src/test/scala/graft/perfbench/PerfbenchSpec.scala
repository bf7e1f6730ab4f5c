package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.eventstore.{Ingest, OrderedSqlFold, Projections, Replay, SqlFold}

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "tmp")), "pb")
    d.toString
  }

  test("the same seed gives the same events and query order") {
    val a = Gen.batches(7L, "e", 0, 2, 300, Gen.zipf(64, 1.0))
    assert(a == Gen.batches(7L, "e", 0, 2, 300, Gen.zipf(64, 1.0)))
    assert(a != Gen.batches(8L, "e", 0, 2, 300, Gen.zipf(64, 1.0)))
    val rr = Gen.batches(7L, "l", 1, 3, 40, Gen.roundRobin(8))
    assert(rr == Gen.batches(7L, "l", 1, 3, 40, Gen.roundRobin(8)))
    assert(rr.forall(_.map(_.raw.stream_name).distinct.size == 8))
    assert(Analytics.order(7L) == Analytics.order(7L))
    assert(Analytics.order(7L) != Analytics.order(8L))
    assert(Analytics.order(7L).toSet == Analytics.querySet.toSet)
  }

  test("the query set spans every family and every query has a pin") {
    assert(Analytics.querySet.map(_._1).distinct == Analytics.Families.map(_._1))
    val pins = Analytics.readPins("pins.json")
    assert(pins.keySet == Analytics.all.map(_._2.name).toSet)
  }

  test("the Zipf streams put about a fifth of the events on the hottest") {
    val exp = new Gen.Expected(Gen.batches(3L, "e", 0, 1, 20000, Gen.zipf(64, 1.0)))
    val share = exp.counts(Gen.hottest(exp)).toDouble / exp.count
    assert(share > 0.17 && share < 0.25, share)
  }

  test("the percentile helper takes the highest percentile with 10 samples beyond it") {
    def tail(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    assert(tail(19).label == "p50" && tail(19).n == 19)
    assert(tail(20).label == "p50")
    assert(tail(39).label == "p50")
    assert(tail(40).label == "p75")
    assert(tail(100).label == "p90" && tail(100).n == 100)
    assert(tail(199).label == "p90")
    assert(tail(200).label == "p95")
    assert(tail(1000).label == "p99")
    assert(tail(10000).label == "p99.9")
    val xs = (1 to 200).map(_.toDouble)
    assert(tail(200).value == Stats.quantile(xs, 0.95))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-9)
  }

  test("self time is a span's duration minus what its children cover") {
    val ms = 1000000L
    val spans = Seq(
      Span(1, "queries.q", "g", 0, 0, 100 * ms),
      Span(2, "queries.construct", "g", 1, 10 * ms, 30 * ms),
      Span(3, "queries.exec", "g", 1, 25 * ms, 60 * ms))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self("queries.q") - 0.050) < 1e-9)
    assert(math.abs(self("queries.construct") - 0.020) < 1e-9)
    assert(math.abs(self("queries.exec") - 0.035) < 1e-9)
  }

  test("a failed check or a throw counts the operation as failed") {
    val ctx = new Ctx(null, new Tracer(false), null, null, "", 0L, 1)
    ctx.op("right")(41 + 1)(_ == 42)
    ctx.op("corrupted expectation")(41 + 1)(_ == 43)
    ctx.op("throws")(sys.error("boom"): Int)(_ => true)
    assert(ctx.attempted == 3 && ctx.failed == 2)
    assert(ctx.failures == Seq("corrupted expectation", "throws"))
  }

  test("the content hash ignores row order and sees a changed value") {
    import org.apache.spark.sql.Row
    val rows = Array(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", null))
    val (n, h) = Analytics.fingerprint(rows)
    assert(n == 2 && Analytics.fingerprint(rows.reverse) == (n, h))
    assert(Analytics.fingerprint(Array(Row(1L, "a", 0.3), rows(1))) == (n, h))
    assert(Analytics.fingerprint(Array(Row(1L, "a", 0.31), rows(1)))._2 != h)
  }

  test("the expected log, replay order and fold values match the store, and a corrupted one does not") {
    val log = tmpDir() + "/log"
    val gen = Gen.batches(11L, "e", 0, 2, 500, Gen.zipf(8, 1.0))
    gen.zipWithIndex.foreach { case (b, i) =>
      Ingest.ingest(spark.createDataFrame(b.map(_.raw)), log, Gen.ingestMs(i))
    }
    val exp = new Gen.Expected(gen)
    import spark.implicits._
    val ids = Replay.cold(Replay.open(spark, log)).select("order_id").as[Long].collect()
    assert(ids.sameElements(exp.log.map(_._1)))
    val typed = Replay.typed(spark, log)
    val chains = Projections.runOrdered(typed, HashChainFold("c")).collect()
      .map(r => r.stream_name -> r.value).toMap
    assert(chains == exp.chains)
    val sqlChains = Projections.runOrderedSql(typed,
      OrderedSqlFold("c", HashChain.InitSql, HashChain.StepSql)).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(sqlChains == exp.chains)
    val sums = Projections.runSql(typed,
      SqlFold("s", "sum(CAST(get_json_object(payload, '$.v') AS BIGINT))")).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(sums == exp.sums)
    val (s0, h0) = exp.chains.head
    assert(chains != exp.chains.updated(s0, h0 + 1))
  }

  test("every metric name printed matches BENCHMARK.json") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def section(key: String): Seq[(String, String)] = {
      val body = txt.substring(txt.indexOf("\"" + key + "\""))
      val arr = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      "\\{\\s*\"name\"\\s*:\\s*\"([^\"]+)\"\\s*,\\s*\"unit\"\\s*:\\s*\"([^\"]+)\"".r
        .findAllMatchIn(arr).map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(section("end_to_end") == Main.EndToEnd)
    assert(section("per_layer") == Main.PerLayer)
    val workloads = "\"name\"\\s*:\\s*\"([a-z]+)\"\\s*,\\s*\"why\"".r
      .findAllMatchIn(txt).map(_.group(1)).toSeq
    assert(workloads == Main.Workloads)
  }
}
