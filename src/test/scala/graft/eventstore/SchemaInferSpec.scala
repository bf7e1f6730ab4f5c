package graft.eventstore

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Mirrors schema_test.clj:38-71: versioned vs unversioned inference,
  * per-field type/required/count. */
class SchemaInferSpec extends AnyFunSuite with SparkTestBase {

  private val T0 = 1700000000000L

  test("infers field types per (stream, schema_version); required = in every sample") {
    import spark.implicits._
    val raw = (0 until 12).map { i =>
      val payload =
        if (i % 2 == 0) s"""{"name": "n$i", "count": $i, "nested": {"flag": true}}"""
        else s"""{"name": "n$i", "ratio": $i.5}"""
      ("s", "svc", s"l$i", if (i < 6) "0.0.1" else "0.0.2", payload)
    }.toDF("stream_name", "service_id", "local_id", "schema_version", "payload")
      .withColumn("provenance",
        org.apache.spark.sql.functions.lit(null)
          .cast("struct<service_id:string,local_id:string,relationship:string>"))
    val log = tmpDir("silog")
    Ingest.append(Ingest.stamp(raw, T0), log)

    val inferred = SchemaInfer.infer(spark, Replay.typed(spark, log)).collect()
    val byVer = inferred.groupBy(_.schema_version)
    assert(byVer.keySet == Set("0.0.1", "0.0.2"))

    val v1 = byVer("0.0.1").map(f => f.field -> f).toMap
    assert(v1("name").ftype == "string")
    assert(v1("count").ftype == "integer")
    assert(v1("ratio").ftype == "double")
    assert(v1("nested.flag").ftype == "boolean")
    assert(v1("name").required) // in every event
    assert(!v1("count").required) // only in even events
    assert(v1.values.forall(_.total == 6))
  }

  test("infer_schema SQL aggregate (TypedImperativeAggregate) agrees with the typed path") {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val raw = rawEvents(120)
    val log = tmpDir("silog3")
    Ingest.append(Ingest.stamp(raw, T0), log)
    Replay.typed(spark, log).toDF().createOrReplaceTempView("si_events")

    val sqlRows = spark.sql(
      """SELECT stream_name, infer_schema(payload) AS s
         FROM si_events GROUP BY stream_name""").collect()
      .map { r =>
        val s = r.getStruct(1)
        val fmap: Map[String, (String, Long)] =
          s.getMap[String, org.apache.spark.sql.Row](2).map {
            case (k, v) => k -> ((v.getString(0), v.getLong(1)))
          }.toMap
        r.getString(0) -> ((s.getLong(0), s.getLong(1), fmap))
      }.toMap

    val typedRows = SchemaInfer.infer(spark, Replay.typed(spark, log)).collect()
      .groupBy(_.stream_name)
    typedRows.foreach { case (stream, fields) =>
      val (p, smp, fmap) = sqlRows(stream)
      assert(p == fields.head.total)
      assert(smp == fields.head.sampled)
      fields.foreach { f =>
        assert(fmap(f.field) == ((f.ftype, f.count)), s"$stream/${f.field}")
      }
    }
  }

  test("mixed-type fields resolve order-independently via the widening lattice") {
    // join is commutative + associative → result independent of
    // partitioning / partial-merge order
    val types = Seq("string", "integer", "double", "boolean", "array", "object", "null")
    for (a <- types; b <- types) {
      assert(SchemaInfer.widen(a, b) == SchemaInfer.widen(b, a), s"comm $a $b")
      for (c <- types)
        assert(SchemaInfer.widen(SchemaInfer.widen(a, b), c) ==
          SchemaInfer.widen(a, SchemaInfer.widen(b, c)), s"assoc $a $b $c")
    }
    assert(SchemaInfer.widen("integer", "double") == "double")
    assert(SchemaInfer.widen("null", "boolean") == "boolean")
    assert(SchemaInfer.widen("string", "integer") == "mixed")

    // end-to-end: a field that is integer in half the payloads and string
    // in the other half must infer identically for any partitioning
    import spark.implicits._
    def inferWith(parts: Int): Map[String, String] = {
      val raw = (0 until 8).map { i =>
        val v = if (i % 2 == 0) i.toString else "\"s" + i + "\""
        ("m", "svc", s"l$i", "1", s"""{"x": $v}""")
      }.toDF("stream_name", "service_id", "local_id", "schema_version", "payload")
        .withColumn("provenance",
          org.apache.spark.sql.functions.lit(null)
            .cast("struct<service_id:string,local_id:string,relationship:string>"))
        .repartition(parts)
      val log = tmpDir(s"silog_mixed$parts")
      Ingest.append(Ingest.stamp(raw, T0), log)
      SchemaInfer.infer(spark, Replay.typed(spark, log)).collect()
        .map(f => f.field -> f.ftype).toMap
    }
    val one = inferWith(1)
    assert(one("x") == "mixed")
    assert(inferWith(7) == one)
  }

  test("sampling: first 10 per group fully inferred, then ~2% — sampled <= processed") {
    import spark.implicits._
    val raw = rawEvents(800)
    val log = tmpDir("silog2")
    Ingest.append(Ingest.stamp(raw, T0), log)
    val inferred = SchemaInfer.infer(spark, Replay.typed(spark, log)).collect()
    inferred.groupBy(_.stream_name).foreach { case (_, fs) =>
      val f = fs.head
      assert(f.total == 400)
      assert(f.sampled >= 10 && f.sampled < 100) // 10 head + ~2% of remainder
    }
  }
}
