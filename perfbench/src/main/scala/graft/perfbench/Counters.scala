package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters read from a `SparkListener` the benchmark registers.
  * Readings are cumulative; a phase's figures are the difference of two
  * snapshots taken after draining the listener bus. */
final class EngineCounters extends SparkListener {
  import EngineCounters.Snap

  private var jobs, tasks, busyMs, shuffleWrite, inputBytes, inputRecords, gcMs = 0L
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      busyMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
    }
  }

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    synchronized {
      Snap(jobs, tasks, busyMs, shuffleWrite, inputBytes, inputRecords, gcMs,
        stageTasks.view.mapValues(_.toList).toMap, System.nanoTime())
    }
  }
}

object EngineCounters {
  final case class Snap(
      jobs: Long, tasks: Long, busyMs: Long, shuffleWrite: Long, inputBytes: Long,
      inputRecords: Long, gcMs: Long, stageTasks: Map[Int, List[Long]], atNs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, busyMs - o.busyMs,
      shuffleWrite - o.shuffleWrite, inputBytes - o.inputBytes,
      inputRecords - o.inputRecords, gcMs - o.gcMs,
      stageTasks.filter { case (k, _) => !o.stageTasks.contains(k) }, atNs - o.atNs)
    def wallS: Double = atNs / 1e9

    /** Slowest ÷ median task of the stage with the most task time. */
    def taskSkew: Double = stageTasks.values.filter(_.nonEmpty).maxByOption(_.sum)
      .map { ts =>
        val d = ts.map(_.toDouble)
        d.max / math.max(Stats.median(d), 1.0)
      }.getOrElse(1.0)
  }
}

/** Micro-batch progress of the live projection, from a
  * `StreamingQueryListener` the benchmark registers. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    synchronized { progress += e.progress }

  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.filter(_.numInputRows > 0).toList)
}

/** Counts over an executed physical plan (the final adaptive plan). */
object PlanCounts {
  final case class Counts(lambdas: Int, nonCodegenOps: Int, exchanges: Int)

  private def walk(p: SparkPlan, inCodegen: Boolean): Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
    case q: QueryStageExec => walk(q.plan, inCodegen)
    case w: WholeStageCodegenExec => (w, inCodegen) +: walk(w.child, inCodegen = true)
    case i: InputAdapter => (i, inCodegen) +: walk(i.child, inCodegen = false)
    case other =>
      (other, inCodegen) +: (other.children ++ other.subqueries)
        .flatMap(walk(_, inCodegen))
  }

  def of(plan: SparkPlan): Counts = {
    val nodes = walk(plan, inCodegen = false)
    val lambdas = nodes.map(_._1.expressions
      .map(_.collect { case l: LambdaFunction => l }.size).sum).sum
    val exchanges = nodes.count(n => n._1.isInstanceOf[Exchange] ||
      n._1.isInstanceOf[ReusedExchangeExec])
    val structural = (n: SparkPlan) => n match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: Exchange |
          _: ReusedExchangeExec => true
      // the noop sink's write node is the benchmark's, not the query's
      case _ => n.getClass.getSimpleName.contains("Write") ||
        n.getClass.getSimpleName.startsWith("Overwrite")
    }
    Counts(lambdas, nodes.count { case (n, cg) => !cg && !structural(n) }, exchanges)
  }
}
