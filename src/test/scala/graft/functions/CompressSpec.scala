package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The compressibility quality signal: deflate_len kernel semantics and
  * the x_compress_ratio query invariants (rows-only — no DEFLATE in the
  * oracle engine). */
class CompressSpec extends AnyFunSuite with SparkTestBase {

  private def len(s: String): Long = Compress.deflateLen(UTF8String.fromString(s))

  test("deflate_len separates template text from prose from noise, deterministically") {
    val template = "buy now click here " * 60                       // ~19 chars × 60
    val prose = "the quarterly report outlines revenue growth across " +
      "distinct market segments while noting persistent supply constraints " +
      "and a cautious hiring outlook for the coming fiscal year in detail"
    // java.util.Random's LCG is spec-fixed → deterministic everywhere
    val rng = new java.util.Random(42)
    val noise = Array.fill(300)((rng.nextInt(93) + 33).toChar).mkString

    val rTemplate = len(template) * 10000 / template.length
    val rProse = len(prose) * 10000 / prose.length
    val rNoise = len(noise) * 10000 / noise.length
    assert(rTemplate < rProse && rProse < rNoise,
      s"separation violated: template=$rTemplate prose=$rProse noise=$rNoise")
    assert(rTemplate < 2000, s"repeated template should compress >5:1, got $rTemplate bp")
    assert(rNoise > 6000, s"hash noise should barely compress, got $rNoise bp")
    // deterministic: same input, same byte count
    assert(len(template) == len(template) && len(noise) == len(noise))
    // SQL registration path
    graft.GraftFunctions.install(spark)
    import spark.implicits._
    val viaSql = Seq(template).toDF("t")
      .selectExpr("deflate_len(t) AS n").head().getLong(0)
    assert(viaSql == len(template))
  }

  test("x_compress_ratio: per-source accounting conserved, bounded, deterministic") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("x_compress_ratio")(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet")
      .where(length(col("text")) > 0).count()
    assert(out.map(_.getLong(1)).sum == nDocs, "doc accounting not conserved")
    out.foreach { r =>
      val (n, mean, tmpl, rnd) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mean > 0 && mean < 10000, s"mean ratio out of range: $mean")
      assert(tmpl + rnd <= n, "flag counts exceed docs")
    }
    val again = graft.SparkEntry.queries("x_compress_ratio")(spark, sf).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }
}
