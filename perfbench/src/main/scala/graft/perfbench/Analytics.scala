package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries._

/** `analytics`: declared queries on the fixed synthetic tables, in a
  * seed-shuffled order. A first pass fills the artifact caches, once per
  * JVM as a user pays it, so it counts as set-up; it collects each query
  * and checks its row count and content hash against the pin. The timed
  * repeat passes run the queries through the noop sink and carry no
  * builds. */
object Analytics {

  /** The eleven query families, in `SparkEntry`'s order. */
  val Families: Seq[(String, QueryModule)] = Seq(
    "PhotonOps" -> PhotonOps, "Relational" -> Relational, "Joins" -> Joins,
    "Windows" -> Windows, "Scalars" -> Scalars, "TextOps" -> TextOps,
    "VectorOps" -> VectorOps, "ScaleOps" -> ScaleOps, "PipelineOps" -> PipelineOps,
    "MiningOps" -> MiningOps, "EventAnalytics" -> EventAnalytics)

  /** The first query of each family by name: a fixed set of 11 that spans
    * every family and fits one run (the whole surface takes minutes per
    * pass, even on small tables). */

  /** Repeat passes: one per 4 s of `--seconds`, at least three. */
  def passes(seconds: Int): Int = math.max(3, math.round(seconds / 4.0).toInt)

  def all: Seq[(String, Q)] =
    Families.flatMap { case (f, m) => m.all.sortBy(_.name).map(f -> _) }

  def querySet: Seq[(String, Q)] =
    Families.map { case (f, m) => f -> m.all.minBy(_.name) }

  /** Seed-shuffled run order of the query set. */
  def order(seed: Long): Seq[(String, Q)] = new scala.util.Random(seed).shuffle(querySet)

  // ---- output check -------------------------------------------------------

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonD(d)
    case f: Float => canonD(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Nine significant digits: stable against last-bit differences in
    * floating-point sums, exact for the 4-decimal values the queries emit. */
  private def canonD(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))

  /** Row count and order-insensitive content hash of a result. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().take(8).map(x => f"$x%02x").mkString)
  }

  /** Pinned (rows, hash) per query, from pins.json. */
  def readPins(path: String): Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  // ---- run --------------------------------------------------------------

  /** Inter-query hygiene, outside every timed region: drop cached and
    * checkpointed state so one query's leftovers do not tax the next. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def buildSnapshot: Map[String, Double] =
    QueryModule.buildTimes.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  final case class Exec(seconds: Double, constructS: Double, planS: Double, execS: Double)

  def run(ctx: Ctx, tablesDir: String, pinsPath: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val pins = readPins(pinsPath)
    ctx.op("query registry matches SparkEntry")(all.map(_._2.name).toSet)(
      _ == graft.SparkEntry.queries.keySet)

    // plan counts come from the executed plan of each noop write
    @volatile var lastPlan: Option[QueryExecution] = None
    if (tr.on) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastPlan = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    // warm-up: the engine's first job, so the first query of the first
    // pass does not carry it
    spark.range(100000).selectExpr("sum(id)").collect()

    val order = Analytics.order(ctx.seed)

    // first pass, untraced: fills the artifact caches and checks each
    // query's pinned row count and content hash
    Main.mark("first pass")
    val c0 = ctx.engine.snap(spark)
    val b0 = buildSnapshot
    tr.active = false
    val first = order.map { case (_, q) =>
      val t0 = System.nanoTime()
      val fp = ctx.op(s"query ${q.name} matches its pin")(
        fingerprint(q.run(spark, tablesDir).collect()))(fp => pins.get(q.name).contains(fp))
      val s = (System.nanoTime() - t0) / 1e9
      hygiene(spark)
      (q.name, fp, s)
    }
    tr.active = tr.on
    val firstS = first.map(_._3).sum
    val b1 = buildSnapshot
    val firstFailed = first.exists(_._2.isEmpty)
    val builds = b1.count { case (k, v) => v > b0.getOrElse(k, 0.0) }
    val buildS = b1.map { case (k, v) => v - b0.getOrElse(k, 0.0) }.sum
    val c1 = ctx.engine.snap(spark)
    Main.mark("repeat passes")
    Main.setupDone()

    def execute(fam: String, q: Q, group: String): Option[Exec] = {
      var c, p = 0.0
      val t0 = System.nanoTime()
      val r = ctx.op(s"query ${q.name}")(tr.span(s"queries.$fam", group) {
        val t1 = System.nanoTime()
        val df = tr.span("queries.construct", group)(q.run(spark, tablesDir))
        val t2 = System.nanoTime()
        if (tr.on) tr.span("queries.plan", group)(df.queryExecution.executedPlan)
        val t3 = System.nanoTime()
        tr.span("queries.exec", group)(df.write.format("noop").mode("overwrite").save())
        c = (t2 - t1) / 1e9; p = (t3 - t2) / 1e9
      })(_ => true)
      val total = (System.nanoTime() - t0) / 1e9
      hygiene(spark)
      r.map(_ => Exec(total, c, p, total - c - p))
    }

    // repeat passes; a traced run records spans on every other query,
    // alternating between passes, so each query is also timed untraced
    val rep = scala.collection.mutable.ArrayBuffer.empty[(String, String, Exec, Boolean)]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, PlanCounts.Counts]
    val passes = Analytics.passes(ctx.seconds)
    (1 to passes).foreach { pass =>
      order.zipWithIndex.foreach { case ((fam, q), i) =>
        tr.active = tr.on && (pass + i) % 2 == 1
        execute(fam, q, s"${q.name}#$pass").foreach { e =>
          rep += ((fam, q.name, e, tr.active))
          if (tr.active && !counts.contains(q.name)) {
            org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
            lastPlan.foreach(qe => counts(q.name) = PlanCounts.of(qe.executedPlan))
            lastPlan = None
          }
        }
      }
    }
    tr.active = tr.on
    val c2 = ctx.engine.snap(spark)
    // each query counts its fastest pass: host load that slows one or two
    // passes moves no query's figure
    val bestS = order.flatMap { case (_, q) =>
      val xs = rep.filter(_._2 == q.name).map(_._3.seconds)
      if (xs.isEmpty) None else Some(xs.min)
    }
    val repeatBuilds = buildSnapshot.count { case (k, v) => v > b1.getOrElse(k, 0.0) }
    // per-layer figures: each query's traced executions, averaged, so a
    // query counts once in a pass whichever passes traced it
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val traced = order.flatMap { case (fam, q) =>
      val t = rep.filter(r => r._2 == q.name && r._4 == tr.on).map(_._3).toSeq
      if (t.isEmpty) None else Some(fam -> t)
    }
    if (tr.on) {
      // per query, traced ÷ untraced; the geometric mean over the queries
      // weighs each alike, whatever its cost and whichever passes traced it
      val ratios = order.flatMap { case (_, q) =>
        val (t, u) = rep.filter(_._2 == q.name).partition(_._4)
        if (t.isEmpty || u.isEmpty) None
        else Some(mean(t.map(_._3.seconds).toSeq) / mean(u.map(_._3.seconds).toSeq))
      }
      ctx.layer("bench.tracing_overhead_frac",
        if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1.0, "frac")
    }

    val lat = rep.map(_._3.seconds * 1e3).toVector
    ctx.unitOps(Stats.geomean(bestS.map(_ * 1e3)), lat, "query")
    ctx.e2e("work_s", bestS.sum, "s")
    ctx.info("sweep_first_s", firstS, "s")
    ctx.info("sweep_repeat_s", rep.map(_._3.seconds).sum / passes, "s")
    ctx.info("query_p50_s", Stats.median(lat) / 1e3, "s")
    ctx.infoTail("query", lat.map(_ / 1e3), "s")

    ctx.layer("queries.artifact_build_s", if (firstFailed) -1.0 else buildS, "s")
    ctx.layer("queries.artifact_builds", builds.toDouble, "count")
    ctx.layer("queries.repeat_builds", repeatBuilds.toDouble, "count")
    val perPass = (f: Exec => Double) => traced.map { case (_, t) => mean(t.map(f)) }.sum
    ctx.layer("queries.construct_s", perPass(_.constructS), "s")
    ctx.layer("queries.plan_s", perPass(_.planS), "s")
    ctx.layer("queries.exec_s", perPass(_.execS), "s")
    Families.foreach { case (f, _) =>
      ctx.layer(s"queries.${f}_s",
        traced.filter(_._1 == f).map { case (_, t) => mean(t.map(_.seconds)) }.sum, "s")
    }
    ctx.layer("queries.lambda_exprs", counts.values.map(_.lambdas).sum.toDouble, "count")
    ctx.layer("queries.non_codegen_ops", counts.values.map(_.nonCodegenOps).sum.toDouble, "count")
    ctx.layer("queries.exchanges", counts.values.map(_.exchanges).sum.toDouble, "count")
    ctx.engineLayer(c2 - c0, spark.sparkContext.defaultParallelism)

    ctx.detail("analytics") =
      s"""{"queries":${order.size},"passes":$passes,"first_pass_s":$firstS,""" +
      s""""warm_pass_s":${bestS.sum},"artifact_builds":$builds,"artifact_build_s":$buildS,"repeat_builds":$repeatBuilds,""" +
      s""""first_pass_engine":{"jobs":${(c1 - c0).jobs},"tasks":${(c1 - c0).tasks}},""" +
      s""""query_tail_s":${Report.tailJson(lat.map(_ / 1e3))}}"""
    ctx.detail("analytics_queries") = order.map { case (fam, q) =>
      val reps = rep.filter(_._2 == q.name).map(_._3.seconds)
      val f = first.find(_._1 == q.name)
      val fp = f.flatMap(_._2)
      s""""${q.name}":{"family":"$fam","first_s":${f.map(_._3).getOrElse(-1.0)},""" +
      s""""repeat_s":${reps.mkString("[", ",", "]")},""" +
      s""""rows":${fp.map(_._1).getOrElse(-1L)},"hash":"${fp.map(_._2).getOrElse("")}"}"""
    }.mkString("{", ",", "}")
  }

  /** Record the pins: run every declared query once, write each result's
    * (rows, hash) to `pinsPath` and the collected rows, as parquet, under
    * `outDir` with `oracle_sql.json`, in the layout `tools/check.py`
    * compares against its DuckDB oracles. */
  def pin(spark: SparkSession, tablesDir: String, pinsPath: String, outDir: String): Unit = {
    val entries = all.sortBy(_._2.name).map { case (_, q) =>
      val df = q.run(spark, tablesDir)
      val rows = df.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        .write.mode("overwrite").parquet(s"$outDir/${q.name}")
      hygiene(spark)
      val (n, h) = fingerprint(rows)
      s"""  "${q.name}": {"rows": $n, "hash": "$h"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pinsPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    val oracles = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Report.quote(k)}: ${Report.quote(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), oracles)
  }
}
