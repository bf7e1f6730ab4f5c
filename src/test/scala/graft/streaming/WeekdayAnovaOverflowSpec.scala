package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The live weekday ANOVA's overflow raise: Q_g = Σn² is a Long, so
  * `math.multiplyExact(n, n)` in [[StreamingWeekdayAnova.stats]] must fail
  * the query once one daily count passes √(2⁶³ − 1) ≈ 3.037·10⁹, and a
  * count just below that must still emit. Each case feeds one closed
  * rollup row. */
class WeekdayAnovaOverflowSpec extends AnyFunSuite with SparkTestBase {

  /** Fold one (type "a", day 3, n) row; the emitted rows. */
  private def foldOne(n: Long, sink: String): Seq[StreamingWeekdayAnova.AnovaPoint] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val (pts, _) = StreamingWeekdayAnova.stats(mem.toDS().toDF("event_type", "day", "n"))
    val q = pts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sink).start()
    try { mem.addData(("a", 3L, n)); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).as[StreamingWeekdayAnova.AnovaPoint].collect().toSeq
  }

  test("a daily count of 3.1e9 (n² > 2^63) fails the query with an ArithmeticException") {
    val e = intercept[Exception](foldOne(3100000000L, "anova_overflow"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ArithmeticException]),
      chain.map(_.getClass.getName).mkString(" <- "))
  }

  test("a daily count of 3.0e9 (n² ≈ 9.0e18 < 2^63) still emits (control)") {
    assert(foldOne(3000000000L, "anova_control") ==
      Seq(StreamingWeekdayAnova.AnovaPoint("a", 3L, 1L, 1L, 0.0, 0.0)))
  }
}
