package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard over `src/main/scala`: the tokenizer is spelled once,
  * in [[graft.functions.Tokenizer]], and the embedding quantizer once, in
  * [[graft.functions.EmbeddingQuantizer]]; the session function registry
  * is written only by [[GraftFunctions.install]] and the three binders
  * that close over a built artifact (Centroids, PqCodec, BloomSketch); and
  * the point get's driver read builds its parquet reader neither through
  * Spark's per-scan reader factory, which broadcasts the Hadoop conf on
  * every call, nor through parquet-mr's path builder, which creates a
  * default Hadoop `Configuration` that searches the classpath; and the
  * Markov family's transition window and chain collect live once, in
  * [[graft.queries.MarkovFrame]]; and the PCA family's power loop and
  * re-quantized deflation live once, in [[graft.queries.PcaFrame]]; and
  * the forecast family's daily series and folds live once, in
  * [[graft.queries.ForecastFrame]]. */
class SourceScanSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def count(src: String, needle: String): Int =
    src.split(java.util.regex.Pattern.quote(needle), -1).length - 1

  test("the raw tokenizer literal appears once, in graft.functions.Tokenizer") {
    val hits = sources.map { case (p, src) => p -> count(src, "split(lower(text), ' +')") }
      .filter(_._2 > 0)
    assert(hits == Map("graft/functions/Tokenizer.scala" -> 1), hits)
  }

  test("the embedding quantizer literal appears once, in graft.functions.EmbeddingQuantizer") {
    val literal = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100.0) AS DOUBLE))"
    val hits = sources.map { case (p, src) => p -> count(src, literal) }.filter(_._2 > 0)
    assert(hits == Map("graft/functions/EmbeddingQuantizer.scala" -> 1), hits)
  }

  test("no main source builds a parquet reader the two slow ways") {
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    val hits = for {
      (p, src) <- sources.toSeq
      needle <- Seq("buildReaderWithPartitionValues", "ParquetReader.builder(")
      if src.contains(needle)
    } yield s"$p: $needle"
    assert(hits.isEmpty, hits.sorted)
  }

  test("only GraftFunctions and the three artifact binders write the function registry") {
    val allowed = Set("graft/GraftExtensions.scala", "graft/functions/Centroids.scala",
      "graft/functions/PqCodec.scala", "graft/functions/BloomSketch.scala")
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    val writers = sources.collect { case (p, src)
      if src.contains("createOrReplaceTempFunction") || src.contains("registerFunction") => p }
    assert(writers.filterNot(allowed).isEmpty, writers.toSeq.sorted)
  }

  test("the Markov transition window is spelled once, in MarkovFrame, and one " +
      "Markov chain collect is cached") {
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    // the unframed (user_id; ts_us, event_id) window; the framed
    // attribution windows (a rowsBetween follows) and x_event_paths'
    // ts-ordered window are other windows
    def c(name: String) = s"""(\\$$"$name"|col\\("$name"\\))"""
    val userWindow = (s"""Window\\.partitionBy\\(${c("user_id")}\\)\\s*""" +
      s"""\\.orderBy\\(${c("ts_us")},\\s*${c("event_id")}\\)(?!\\s*\\.rowsBetween)""").r
    val windows = sources.map { case (p, src) => p -> userWindow.findAllIn(src).length }
      .filter(_._2 > 0)
    assert(windows == Map("graft/queries/MarkovFrame.scala" -> 1), windows)
    // the DuckDB spelling: one CTE prefix per direction, plus the two
    // oracle texts (x_event_transitions, x_markov_lumpable) whose layout
    // differs from the shared prefixes
    val sqlWindow = "OVER\\s*\\(PARTITION BY user_id ORDER BY ts_us, event_id\\)".r
    val sql = sources.map { case (p, src) => p -> sqlWindow.findAllIn(src).length }
      .filter(_._2 > 0)
    assert(sql == Map("graft/queries/MarkovFrame.scala" -> 2,
      "graft/queries/EventAnalytics.scala" -> 2), sql)
    val keys = sources.map { case (p, src) => p -> count(src, "cachedLocal(s\"markov") }
      .filter(_._2 > 0)
    assert(keys == Map("graft/queries/MarkovFrame.scala" -> 1), keys)
  }

  test("the PCA power loop and deflation are spelled once, in PcaFrame") {
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    def hits(needle: String) =
      sources.map { case (p, src) => p -> count(src, needle) }.filter(_._2 > 0)
    val pca = "graft/queries/PcaFrame.scala"
    // the driver renormalization: PcaFrame's power loop and MarkovFrame's
    // steady loop
    assert(hits("x * 10000L / s") == Map(pca -> 1,
      "graft/queries/MarkovFrame.scala" -> 1), hits("x * 10000L / s"))
    val sqlRenorm = "list_transform(p, x -> CAST((x * 10000) // s AS BIGINT))"
    assert(hits(sqlRenorm) == Map(pca -> 1), hits(sqlRenorm))
    // the re-quantized deflation, in Spark and in DuckDB
    assert(hits("DIV ${Pca2Requant}L") == Map(pca -> 1), hits("DIV ${Pca2Requant}L"))
    assert(hits("// $Pca2Requant)") == Map(pca -> 1), hits("// $Pca2Requant)"))
  }

  test("the forecast daily series, Holt fold and Holt-Winters recurrence are " +
      "spelled once, in ForecastFrame") {
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    def hits(needle: String) =
      sources.map { case (p, src) => p -> count(src, needle) }.filter(_._2 > 0)
    val forecast = "graft/queries/ForecastFrame.scala"
    // the (type, day) rollup and the day-ordered series
    // (6 and 5 sites before ForecastFrame)
    for (needle <- Seq(
        ".groupBy($\"event_type\", expr(\"unix_millis(ts) DIV 86400000\").as(\"day\"))",
        "collect_list(struct(day, "))
      assert(hits(needle) == Map(forecast -> 1), s"$needle: ${hits(needle)}")
    // the damped trend read, in Spark and in DuckDB, and the Spark
    // seasonal slot update (4, 4 and 2 sites before ForecastFrame)
    for (needle <- Seq("(acc.b * 3L) DIV 4", "(acc[2] * 3) // 4", "transform(acc.s, (v, j) ->"))
      assert(hits(needle) == Map(forecast -> 1), s"$needle: ${hits(needle)}")
    // the DuckDB seasonal slot update: the one template's seed branch and
    // step branch (4 sites before ForecastFrame)
    val slots = "list_transform(range(0, 7), j ->"
    assert(hits(slots) == Map(forecast -> 2), hits(slots))
  }
}
