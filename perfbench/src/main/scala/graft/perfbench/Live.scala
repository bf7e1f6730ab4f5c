package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

import graft.eventstore.{Ingest, ProjRow}
import graft.streaming.{HotCold, StatefulProjection}

/** The live phase of `store`: an open loop on a log of its own. It seeds a
  * history, starts a hot-cold `StatefulProjection` over `HotCold.hotCold`,
  * whose output goes to a `foreachBatch` sink here that records when each
  * batch became visible, and waits until the history is folded. A
  * generator thread then appends fixed-size batches over the streams at a
  * fixed rate; each batch is timed from when it was due. */
object Live {
  val Streams = 8
  val HistorySize = 50000
  val BatchSize = 1000
  /** Appends per second: sustained on four cores with the reader running. */
  val RatePerS = 1.5
  def batchCount(seconds: Int): Int = math.ceil(RatePerS * seconds).toInt
  val DrainTimeoutMs = 15000L
  val StartTimeoutMs = 60000L

  /** Readings of the phase: post→visible and append latencies (ms). */
  final case class Result(visibleMs: Seq[Double], appendMs: Seq[Double])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val logDir = ctx.dir("live_log")
    val n = batchCount(ctx.seconds)
    val hist = Gen.batches(ctx.seed + 1, "h", 0, 1, HistorySize, Gen.roundRobin(Streams))
    Ingest.ingest(spark.createDataFrame(hist.head.map(_.raw)), logDir, Gen.ingestMs(0))
    val first = 1
    val live = Gen.batches(ctx.seed + 2, "l", first, n, BatchSize, Gen.roundRobin(Streams))
    val liveStreams = live.head.map(_.raw.stream_name).distinct
    val exp = new Gen.Expected(hist ++ live)
    val histCount = hist.map(_.size).sum.toLong
    // expected fold count per (stream, highest batch folded)
    val expCount: Map[(String, Long), Long] = exp.byStream.toSeq.flatMap { case (s, evs) =>
      evs.groupBy(_._3.batch.toLong).toSeq.sortBy(_._1)
        .scanLeft((-1L, 0L)) { case ((_, acc), (b, es)) => (b, acc + es.size) }
        .tail.map { case (b, c) => (s, b) -> c }
    }.toMap
    val frames = live.map(b => spark.createDataFrame(b.map(_.raw)))

    val folded = mutable.Map.empty[String, LiveState]
    val visibleAt = new Array[Long](n)
    val appendedAt = Array.fill(n)(Long.MaxValue)
    val badBatch = mutable.Set.empty[Long]
    @volatile var historyDone = false
    @volatile var visibleUpTo = first - 1L
    var backlogMax = 0
    val lock = new Object

    def sink(rows: Array[ProjRow[LiveState]]): Unit = lock.synchronized {
      val now = System.nanoTime()
      rows.foreach { r =>
        if (!expCount.get((r.stream_name, r.value.maxBatch)).contains(r.value.count))
          badBatch += r.value.maxBatch
        folded(r.stream_name) = r.value
      }
      historyDone = historyDone || folded.values.map(_.count).sum >= histCount
      val upTo = liveStreams.map(s => folded.get(s).map(_.maxBatch).getOrElse(-1L)).min
      ((visibleUpTo + 1) to upTo).foreach { b =>
        if (b >= first && b < first + n) visibleAt((b - first).toInt) = now
      }
      visibleUpTo = math.max(visibleUpTo, upTo)
      val appended = appendedAt.count(_ <= now)
      backlogMax = math.max(backlogMax, appended - math.max(0, (visibleUpTo - first + 1).toInt))
    }

    val t0 = System.nanoTime()
    val query = tr.span("streaming.start", "live") {
      StatefulProjection.run(HotCold.typed(HotCold.hotCold(spark, logDir)), LiveFold("live"))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ctx.dir("live_ckpt"))
        .foreachBatch { (ds: Dataset[ProjRow[LiveState]], _: Long) => sink(ds.collect()) }
        .start()
    }
    try {
      val waitUntil = System.currentTimeMillis() + StartTimeoutMs
      while (!historyDone && System.currentTimeMillis() < waitUntil && query.isActive)
        Thread.sleep(20)
      val startS = (System.nanoTime() - t0) / 1e9
      ctx.op("history folded by the live projection")(historyDone)(identity)
      val histBatches = ctx.stream.batches.size
      val c0 = ctx.engine.snap(spark)

      val periodNs = (1e9 / RatePerS).toLong
      val due = new Array[Long](n)
      val appendMs = new Array[Double](n)
      val lateMs = new Array[Double](n)
      val start = System.nanoTime() + 100000000L
      val gen = new Thread(() => {
        (0 until n).foreach { k =>
          due(k) = start + k * periodNs
          val wait = due(k) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          val s = System.nanoTime()
          lateMs(k) = (s - due(k)) / 1e6
          // a traced run records spans on every other append only
          tr.active = tr.on && k % 2 == 0
          ctx.op(s"append batch ${first + k}")(tr.span("eventstore.ingest", s"batch-${first + k}") {
            Ingest.ingest(frames(k), logDir, Gen.ingestMs(first + k))
          })(_ => true)
          val e = System.nanoTime()
          appendMs(k) = (e - s) / 1e6
          lock.synchronized(appendedAt(k) = e)
        }
        tr.active = tr.on
      }, "perfbench-generator")
      gen.start()
      gen.join()
      val drainUntil = System.currentTimeMillis() + DrainTimeoutMs
      while (visibleUpTo < first + n - 1 && System.currentTimeMillis() < drainUntil &&
          query.isActive) Thread.sleep(20)
      query.stop()

      // a batch never seen counts as failed and as missing the 3 s bound
      val visMs = (0 until n).map { k =>
        val ok = visibleAt(k) > 0 && !badBatch.contains((first + k).toLong)
        ctx.outcome(s"batch ${first + k} visible with its fold value", ok)
        if (visibleAt(k) > 0) (visibleAt(k) - due(k)) / 1e6 else Double.PositiveInfinity
      }
      val within3s = visMs.count(_ <= 3000.0)

      val prog = ctx.stream.batches.drop(histBatches)
      def dur(keys: String*): Seq[Double] =
        prog.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val d = ctx.engine.snap(spark) - c0
      ctx.layer("streaming.batches", prog.size.toDouble, "count")
      ctx.layer("streaming.rows_per_batch", med(prog.map(_.numInputRows.toDouble)), "rows")
      ctx.layer("streaming.list_ms_p50", med(dur("latestOffset", "getBatch")), "ms")
      ctx.layer("streaming.plan_ms_p50", med(dur("queryPlanning")), "ms")
      ctx.layer("streaming.exec_ms_p50", med(dur("addBatch")), "ms")
      ctx.layer("streaming.commit_ms_p50", med(dur("walCommit", "commitOffsets")), "ms")
      ctx.layer("streaming.backlog_max_batches", backlogMax.toDouble, "count")
      val st = prog.lastOption.flatMap(_.stateOperators.headOption)
      ctx.layer("streaming.state_rows", st.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
      ctx.layer("streaming.state_mb", st.map(_.memoryUsedBytes / 1e6).getOrElse(0.0), "MB")
      ctx.layer("streaming.start_s", startS, "s")
      ctx.layer("eventstore.append_p50_ms", Stats.median(appendMs.toSeq), "ms")
      ctx.layer("bench.generator_late_p95_ms", Stats.quantile(lateMs.toSeq, 0.95), "ms")
      ctx.detail("live") =
        s"""{"batches":$n,"batch_size":$BatchSize,"rate_per_s":$RatePerS,""" +
        s""""streams":$Streams,"history_events":$histCount,"start_s":$startS,""" +
        s""""within_3000ms":$within3s,"jobs":${d.jobs},"tasks":${d.tasks},""" +
        s""""visible_ms":${visMs.map(Report.num).mkString("[", ",", "]")},""" +
        s""""append_ms":${appendMs.mkString("[", ",", "]")},""" +
        s""""late_ms":${lateMs.mkString("[", ",", "]")}}"""
      Result(visMs.map(v => if (v.isInfinite) 1e9 else v), appendMs.toSeq)
    } finally if (query.isActive) query.stop()
  }
}
