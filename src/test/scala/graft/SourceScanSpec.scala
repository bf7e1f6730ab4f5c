package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard over `src/main/scala`: the tokenizer is spelled once,
  * in [[graft.functions.Tokenizer]], and the session function registry is
  * written only by [[GraftFunctions.install]] and the three binders that
  * close over a built artifact (Centroids, PqCodec, BloomSketch). */
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

  test("only GraftFunctions and the three artifact binders write the function registry") {
    val allowed = Set("graft/GraftExtensions.scala", "graft/functions/Centroids.scala",
      "graft/functions/PqCodec.scala", "graft/functions/BloomSketch.scala")
    assert(sources.size > 100, s"scanned ${sources.size} files under $root")
    val writers = sources.collect { case (p, src)
      if src.contains("createOrReplaceTempFunction") || src.contains("registerFunction") => p }
    assert(writers.filterNot(allowed).isEmpty, writers.toSeq.sorted)
  }
}
