package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dump the formatted physical plan of every declared query (or one) for
  * plan auditing: pushed filters, pruned schemas, join strategies,
  * whole-stage-codegen spans.
  * sbt "runMain graft.tools.Explain [out.txt] [queryName]"
  *
  * Cost caveat: the two-regime/bounded-localization queries
  * (x_graph_*, x_dup_pagerank, x_dedup_clusters, the incremental-index
  * probes) run their size probe / bounded build EAGERLY at
  * DataFrame-construction time, so "dumping the plan" executes those
  * pipelines at SPARK_GRAFT_SF_DIR scale — keep the default sf0.01
  * (seconds) unless auditing a specific query at sf0.1.
  *
  * The session is the test suite's `local[4]`: a plan pin
  * (`plans/r21/<q>_parent.txt`) dumped here must equal the plan
  * PlanShapeSpec builds, and `QueryModule.barrier`'s round-robin
  * exchange is sized by the session's default parallelism. */
object Explain {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/plans.txt")
    val only = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // comma-separated list of names, or unset = every declared query
    val onlySet = only.map(_.split(",").map(_.trim).toSet)
    val sb = new StringBuilder
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => onlySet.forall(_.contains(q._1)))
      .foreach { case (name, fn) =>
        sb.append(s"\n\n=================== $name ===================\n")
        try {
          val df = fn(spark, sfDir)
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: $e\n") }
      }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
