package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

/** A stateful streaming query resumes from its checkpoint only if the
  * state encoder's schema is unchanged. These are the schemas the drift
  * twins' checkpoints were written with: the late histogram of KS, EMD,
  * CvM, AD and JS, MW's two running integers and the ten band counters. */
class HistogramDriftStateSpec extends AnyFunSuite {

  private def schema(json: String) = DataType.fromJson(json)

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
}
