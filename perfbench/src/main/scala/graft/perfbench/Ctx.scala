package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one benchmark run shares: the session, its listeners, the tracer,
  * the run's scratch directory, and the tally of operations and metrics. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val engine: EngineCounters,
    val stream: StreamCounters,
    val workDir: String,
    val seed: Long,
    val seconds: Int) {

  private var attemptedN = 0L
  private var failedN = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Record one operation's outcome. */
  def outcome(what: String, ok: Boolean): Unit = synchronized {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (failures.size < 50) failures += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  /** Run one operation; a throw or a failed `check` counts it as failed.
    * Returns the body's result when it did not throw. */
  def op[T](what: String)(body: => T)(check: T => Boolean): Option[T] =
    timedOp(what)(body)(check)._1

  /** [[op]], also returning the seconds the body took (the check is not
    * timed). */
  def timedOp[T](what: String)(body: => T)(check: T => Boolean): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) => System.err.println(s"[perfbench] $what: $e"); None
    }
    val s = (System.nanoTime() - t0) / 1e9
    outcome(what, r.exists(v =>
      try check(v) catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] check $what: $e"); false }))
    (r, s)
  }

  /** End-to-end metrics (printed with tracing off) and per-layer metrics
    * (printed with tracing on), in insertion order. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra lines for the detail file (JSON values keyed by name). */
  val detail = mutable.LinkedHashMap.empty[String, String]

  /** The workload's own readings, printed as lines with the end-to-end
    * metrics but not part of the JSON result. */
  val infos = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def info(name: String, v: Double, unit: String): Unit = infos(name) = (v, unit)

  /** Tail of `xs` by the percentile rule, as `<prefix>_<pNN>_<unit>` with
    * its sample count as `<prefix>_n`. */
  def infoTail(prefix: String, xs: Seq[Double], unit: String): Unit = {
    val t = Stats.tail(xs)
    info(s"${prefix}_${t.label}_$unit", t.value, unit)
    info(s"${prefix}_n", t.n.toDouble, "count")
  }
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  def dir(name: String): String = s"$workDir/$name"

  /** The workload's unit operations (a query, a point get): `opMs` is the
    * end-to-end latency; the median and the tail of all samples are
    * printed with the sample count. */
  def unitOps(opMs: Double, ms: Seq[Double], what: String): Unit = {
    e2e("op_ms", opMs, "ms")
    info("op_p50_ms", Stats.median(ms), "ms")
    infoTail("op", ms, "ms")
    detail("unit_op") = s"""{"op":"$what","tail":${Report.tailJson(ms)}}"""
  }

  /** Engine counters of a phase: spark.* figures for the whole run. */
  def engineLayer(d: EngineCounters.Snap, cores: Int): Unit = {
    layer("spark.jobs", d.jobs.toDouble, "count")
    layer("spark.tasks", d.tasks.toDouble, "count")
    layer("spark.task_busy_s", d.busyMs / 1e3, "s")
    layer("spark.core_util", if (d.wallS > 0) d.busyMs / 1e3 / (d.wallS * cores) else 0.0, "frac")
    layer("spark.shuffle_write_mb", d.shuffleWrite / 1e6, "MB")
    layer("spark.input_mb", d.inputBytes / 1e6, "MB")
    layer("spark.gc_s", d.gcMs / 1e3, "s")
  }
}

/** Files of a directory tree: (parquet file count, total bytes), skipping
  * hidden entries (`.compact_tmp_*`, checksums). */
object Disk {
  def parquet(dir: String): (Int, Long) = {
    val files = walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    (files.size, files.map(_.length).sum)
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.getName.startsWith(".")) Nil
    else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(if (f.isFile) Seq(f) else Nil)
}
