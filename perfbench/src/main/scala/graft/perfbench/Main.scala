package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run, started by run.py:
  *
  * {{{
  * Main --workload analytics|store|live --seed N --seconds S --trace 0|1
  *      --work DIR --tables DIR --pins FILE --pre-setup-s X
  * Main --pin --tables DIR --pins FILE --out DIR
  * }}}
  *
  * With `--trace 0` it prints the end-to-end metrics, with `--trace 1` the
  * per-layer metrics; both end with the JSON result line. Detail (per
  * query, per span, per batch) goes to `DIR/detail.json` and
  * `DIR/spans.jsonl`.
  */
object Main {
  val Workloads = Seq("analytics", "store")

  /** The metrics BENCHMARK.json names, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "op_ms" -> "ms",
    "work_s" -> "s")
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.artifact_build_s" -> "s", "queries.artifact_builds" -> "count",
    "queries.repeat_builds" -> "count",
    "queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s") ++
    Analytics.Families.map { case (f, _) => s"queries.${f}_s" -> "s" } ++ Seq(
    "queries.lambda_exprs" -> "count", "queries.non_codegen_ops" -> "count",
    "queries.exchanges" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.core_util" -> "frac", "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.gc_s" -> "s",
    "eventstore.ingest_s" -> "s", "eventstore.ingest_batch_p50_ms" -> "ms",
    "eventstore.stamp_shuffle_mb" -> "MB", "eventstore.files_written" -> "count",
    "eventstore.bytes_per_event" -> "B", "eventstore.replay_s" -> "s",
    "eventstore.catalog_s" -> "s", "eventstore.compact_s" -> "s",
    "eventstore.files_after_compact" -> "count", "eventstore.rows_examined_per_get" -> "ratio",
    "eventstore.fold_ordered_s" -> "s", "eventstore.fold_ordered_sql_s" -> "s",
    "eventstore.fold_sql_s" -> "s", "eventstore.fold_task_skew" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
    "streaming.list_ms_p50" -> "ms", "streaming.plan_ms_p50" -> "ms",
    "streaming.exec_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.backlog_max_batches" -> "count", "streaming.state_rows" -> "rows",
    "streaming.state_mb" -> "MB", "streaming.start_s" -> "s", "streaming.visible_p50_ms" -> "ms",
    "eventstore.append_p50_ms" -> "ms",
    "queries.self_s" -> "s", "eventstore.self_s" -> "s", "streaming.self_s" -> "s",
    "bench.generator_late_p95_ms" -> "ms", "bench.tracing_overhead_frac" -> "frac")

  @volatile private var setupAtMs = 0L
  /** Marks the start of the first timed operation. */
  def setupDone(): Unit = if (setupAtMs == 0L) {
    setupAtMs = System.currentTimeMillis()
    cpuAtSetup = hostCpuTicks()
  }

  @volatile private var cpuAtSetup: Option[(Long, Long)] = None
  /** (steal, total) jiffies of the host's CPUs from `/proc/stat`: the time
    * a virtual machine's CPUs were runnable but held by the hypervisor. */
  private def hostCpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: java.io.IOException => None }

  val SetupRepeats = 3
  @volatile private var setupRepeatExtraMs = 0L
  /** Run a set-up step `SetupRepeats` times; set-up time counts its
    * median, not the repeats. Returns the last result. */
  /** A breadcrumb in the JVM log: seconds since the JVM started. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] $what at ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime) / 1e3}%.2f s")

  def repeatedSetup[T](step: => T): T = {
    val runs = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime(); val r = step; (r, (System.nanoTime() - t0) / 1e6) }
    val ms = runs.map(_._2)
    setupRepeatExtraMs += (ms.sum - Stats.median(ms)).toLong
    runs.last._1
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val cores = Runtime.getRuntime.availableProcessors()
    if (args.contains("--pin")) {
      val spark = session(cores, kv("out") + "-work")
      try Analytics.pin(spark, kv("tables"), kv("pins"), kv("out"))
      finally spark.stop()
      return
    }
    val workload = kv("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traced = kv("trace") == "1"
    val workDir = kv("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, workDir)
    mark("session ready")
    val engine = new EngineCounters
    spark.sparkContext.addSparkListener(engine)
    val streamCounters = new StreamCounters
    spark.streams.addListener(streamCounters)
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, tracer, engine, streamCounters, workDir, seed, seconds)
    val t0 = System.nanoTime()
    try workload match {
      case "analytics" => Analytics.run(ctx, kv("tables"), kv("pins"))
      case "store" => Store.run(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.outcome(s"$workload run: $e", ok = false)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val setupS = kv.get("pre-setup-s").map(_.toDouble).getOrElse(0.0) +
      (if (setupAtMs > 0) (setupAtMs - jvmStartMs - setupRepeatExtraMs) / 1e3 else wallS)
    ctx.e2e("setup_s", setupS, "s")
    ctx.e2e("peak_rss_mb", peakRssMb(), "MB")
    val errorRate = ctx.failed.toDouble / math.max(ctx.attempted, 1L)
    ctx.info("error_rate", errorRate, "frac")
    // how much of the timed part the hypervisor took from this machine
    for ((s0, t0) <- cpuAtSetup; (s1, t1) <- hostCpuTicks() if t1 > t0)
      ctx.info("host_steal_frac", (s1 - s0).toDouble / (t1 - t0), "frac")

    val spans = tracer.all
    val self = Tracer.selfSeconds(spans)
    if (traced) {
      Seq("queries", "eventstore", "streaming").foreach { l =>
        ctx.layer(s"$l.self_s", self.filter(_._1.startsWith(l + ".")).values.sum, "s") }
      tracer.writeJsonLines(java.nio.file.Paths.get(s"$workDir/spans.jsonl"))
    }
    mark("workload done")
    spark.stop()

    val detail = (ctx.detail.toSeq ++ Seq(
      "workload" -> Report.quote(workload), "seed" -> seed.toString,
      "traced" -> traced.toString, "wall_s" -> Report.num(wallS),
      "failures" -> ctx.failures.map(Report.quote).mkString("[", ",", "]"),
      "self_s" -> self.toSeq.sorted
        .map { case (k, v) => s"${Report.quote(k)}:${Report.num(v)}" }.mkString("{", ",", "}"),
      "end_to_end" -> ctx.endToEnd.map { case (k, (v, _)) => s"${Report.quote(k)}:${Report.num(v)}" }
        .mkString("{", ",", "}"),
      "info" -> ctx.infos.map { case (k, (v, _)) => s"${Report.quote(k)}:${Report.num(v)}" }
        .mkString("{", ",", "}")))
      .map { case (k, v) => s"${Report.quote(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/detail.json"), detail)

    // every workload prints every metric of its mode; a layer the
    // workload leaves idle reads 0
    val shown = (if (traced) PerLayer else EndToEnd).map { case (k, u) =>
      k -> (if (traced) ctx.perLayer else ctx.endToEnd).getOrElse(k, (0.0, u)) }
    ctx.infos.foreach { case (k, (v, u)) => println(Report.line(k, v, u)) }
    shown.foreach { case (k, (v, u)) => println(Report.line(k, v, u)) }
    println(Report.json(ctx.failed == 0, ctx.attempted, ctx.failed, shown))
    System.out.flush()
    // threads some queries leave behind must not hold the JVM open
    sys.exit(0)
  }
}
