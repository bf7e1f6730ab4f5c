package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A stateful streaming query resumes from its checkpoint only if the
  * state encoder's schema is unchanged. These are the schemas the drift
  * twins' checkpoints were written with: the late histogram of KS, EMD,
  * CvM, AD and JS, MW's two running integers and the ten band counters.
  * The in-order folds' states are pinned the same way, and their
  * emission rows with them, since a file sink holds those columns. */
class HistogramDriftStateSpec extends AnyFunSuite {

  private def schema(json: String) = DataType.fromJson(json)

  /** "name type", with `?` after the type for a nullable field and `[]`
    * for an array of non-null elements. */
  private def struct(fields: String*): StructType = StructType(fields.map { f =>
    val Array(name, spelled) = f.split(' ')
    val tpe = spelled.stripSuffix("?")
    val elem = tpe.stripSuffix("[]") match {
      case "long" => LongType
      case "double" => DoubleType
      case "string" => StringType
      case "boolean" => BooleanType
    }
    StructField(name,
      if (tpe.endsWith("[]")) ArrayType(elem, containsNull = false) else elem,
      nullable = spelled.endsWith("?"))
  })

  test("drift twin state schemas are the ones their checkpoints hold") {
    assert(Encoders.product[HistogramDrift.LateHist].schema == schema(
      """{"type":"struct","fields":[{"name":"late","type":{"type":"map","keyType":"long",""" +
        """"valueType":"long","valueContainsNull":false},"nullable":true,"metadata":{}},""" +
        """{"name":"nLate","type":"long","nullable":false,"metadata":{}}]}"""))
    assert(Encoders.product[HistogramDrift.MwState].schema == schema(
      """{"type":"struct","fields":[{"name":"nLate","type":"long","nullable":false,"metadata":{}},""" +
        """{"name":"u2","type":"long","nullable":false,"metadata":{}}]}"""))
    assert(Encoders.product[HistogramDrift.BandState].schema == schema(
      """{"type":"struct","fields":[{"name":"cl","type":{"type":"array","elementType":"long",""" +
        """"containsNull":false},"nullable":true,"metadata":{}},""" +
        """{"name":"nLate","type":"long","nullable":false,"metadata":{}}]}"""))
  }

  test("in-order fold state and emission schemas are the ones their " +
      "checkpoints and sinks hold") {
    val pinned = Seq(
      Encoders.product[DailyForecast.HoltState].schema -> struct(
        "l long", "b long", "e long", "nDays long", "lastDay long"),
      Encoders.product[DailyForecast.HwState].schema -> struct(
        "l long", "b long", "s long[]?", "e long", "nDays long",
        "lastDay long"),
      Encoders.product[DailyForecast.HwLogState].schema -> struct(
        "l double", "b double", "s double[]?", "e double", "nDays long",
        "lastDay long"),
      Encoders.product[DailyForecast.SesState].schema -> struct(
        "level double", "nDays long", "lastDay long"),
      Encoders.product[StreamingWeekdayAnova.AnovaState].schema -> struct(
        "m long[]?", "s long[]?", "q long[]?", "lastDay long"),
      Encoders.product[StreamingStickiness.WeekMask].schema -> struct(
        "wk long", "mask long"),
      Encoders.product[StreamingSessionCount.LastMs].schema -> struct(
        "ms long"),
      Encoders.product[StreamingGrowthAccounting.WeekSpan].schema -> struct(
        "firstW long", "lastW long"),
      Encoders.product[StreamingConversionLag.ConvState].schema -> struct(
        "viewMs long", "done boolean", "lastMs long"),
      Encoders.product[StreamingMarkovLumpable.LumpState].schema -> struct(
        "lastType string?", "lastUs long", "lastId long"),
      Encoders.product[DailyForecast.HoltPoint].schema -> struct(
        "event_type string?", "day long", "n_days long", "level_bp long",
        "trend_bp long", "forecast_next_bp long", "mae_bp long"),
      Encoders.product[DailyForecast.DampedPoint].schema -> struct(
        "event_type string?", "day long", "n_days long", "level_bp long",
        "trend_bp long", "forecast_next_bp long", "forecast_week_bp long",
        "forecast_inf_bp long", "mae_bp long"),
      Encoders.product[DailyForecast.HwPoint].schema -> struct(
        "event_type string?", "day long", "n_days long", "level_bp long",
        "trend_bp long", "season_next_bp long", "forecast_next_bp long",
        "season_amp_bp long", "mae_bp long"),
      Encoders.product[DailyForecast.HwLogPoint].schema -> struct(
        "event_type string?", "day long", "n_days long", "level_ln double",
        "trend_ln double", "season_next_ln double", "forecast_next_ln double",
        "season_amp_ln double", "mae_ln double"),
      Encoders.product[DailyForecast.SesPoint].schema -> struct(
        "event_type string?", "day long", "n long", "forecast double",
        "abs_err double", "level double"),
      Encoders.product[StreamingWeekdayAnova.AnovaPoint].schema -> struct(
        "event_type string?", "day long", "n_days long", "n_weekdays long",
        "eta2 double", "f_stat double"),
      Encoders.product[StreamingStickiness.StickHit].schema -> struct(
        "cls string?", "idx long"),
      Encoders.product[StreamingSessionCount.SessHit].schema -> struct(
        "cls string?", "gap_ms long"),
      Encoders.product[StreamingGrowthAccounting.GrowthHit].schema -> struct(
        "cls string?", "w long"),
      Encoders.product[StreamingCohortHalflife.CohortHit].schema -> struct(
        "cls string?", "fw long", "k long"),
      Encoders.product[StreamingConversionLag.LagHit].schema -> struct(
        "lag_ms long"),
      Encoders.product[StreamingMarkovLumpable.TransHit].schema -> struct(
        "prev_type string?", "next_type string?"))
    pinned.foreach { case (actual, pin) => assert(actual == pin) }
  }
}
