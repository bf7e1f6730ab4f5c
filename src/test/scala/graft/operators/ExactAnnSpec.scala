package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The exact member of the incremental vector-index family: persisted
  * (vec_id, v, nrm) rows probed with the exact cosine kernel. The
  * oracle hash-checks the full testdata lifecycle (x_ann_incremental_
  * exact); these cases pin the operator semantics the oracle can't
  * isolate — append mode, planted-duplicate top-1, and determinism. */
class ExactAnnSpec extends AnyFunSuite with SparkTestBase {

  private def mk(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    rows.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  test("probe ranks by exact cosine; a planted verbatim copy is rank 1 at 10000 bp") {
    val corpus = mk(Seq(
      1L -> Seq(1.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0),
      3L -> Seq(0.7, 0.7, 0.0)))
    val dir = tmpDir("exactann")
    ExactAnn.saveIndex(corpus, s"$dir/idx")
    // probe 100 is a verbatim copy of corpus vector 3; probe 101 is
    // axis-aligned with corpus vector 1
    val batch = mk(Seq(100L -> Seq(0.7, 0.7, 0.0), 101L -> Seq(2.0, 0.0, 0.0)))
    val got = ExactAnn.probeAgainstIndex(batch, s"$dir/idx", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val by = got.groupBy(_._1)
    assert(by(100L).find(_._2 == 1L).get._3 == 3L, s"dup not rank 1: ${got.toSeq}")
    assert(by(100L).find(_._2 == 1L).get._4 == 10000L)
    assert(by(101L).find(_._2 == 1L).get._3 == 1L)
    assert(by(101L).find(_._2 == 1L).get._4 == 10000L) // cosine ignores scale
    assert(got.length == 4)
  }

  test("append extends the index; re-probe sees both generations") {
    val dir = tmpDir("exactann2")
    ExactAnn.saveIndex(mk(Seq(1L -> Seq(1.0, 0.0))), s"$dir/idx")
    ExactAnn.saveIndex(mk(Seq(2L -> Seq(0.0, 1.0))), s"$dir/idx", append = true)
    val got = ExactAnn.probeAgainstIndex(
        mk(Seq(50L -> Seq(0.0, 3.0))), s"$dir/idx", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)), s"got $got")
  }

  test("probe is deterministic and ties break by index id") {
    val corpus = mk(Seq(
      5L -> Seq(1.0, 0.0), 4L -> Seq(1.0, 0.0), 9L -> Seq(1.0, 0.0)))
    val dir = tmpDir("exactann3")
    ExactAnn.saveIndex(corpus, s"$dir/idx")
    val run = () => ExactAnn.probeAgainstIndex(
        mk(Seq(70L -> Seq(1.0, 0.0))), s"$dir/idx", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val a = run(); val b = run()
    assert(a == Seq((1L, 4L), (2L, 5L), (3L, 9L)), s"got $a")
    assert(a == b)
  }
}
