package graft.tools

import org.apache.spark.sql.SparkSession

/** Time a comma-separated list of declared queries in isolation with the
  * bench's own methodology (noop sink, one discarded warm-up rep, then
  * min of N) — the fast iteration loop for single-query optimization
  * work, so a 10-minute full sweep isn't the only way to read one line.
  * NOT part of the graded bench contract (graft.Bench is); numbers here
  * are for same-session paired comparisons only. After its timed reps,
  * each query's line also carries the driver-side split of one more
  * warm build: construct (DataFrame construction), optimize, physical.
  *
  * sbt "runMain graft.tools.ProbeTime q1,q2[,...] [reps]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ProbeTime {
  def main(args: Array[String]): Unit = {
    // ADVICE r19: fail with a usage message, not a raw exception, on an
    // unknown query name, a non-integer rep count, or reps < 1.
    def usage(msg: String): Nothing = {
      System.err.println(s"ProbeTime: $msg")
      System.err.println("usage: ProbeTime q1,q2[,...] [reps>=1]")
      sys.exit(2)
    }
    val names = args.headOption.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(usage("no query names given"))
    val known = graft.SparkEntry.queries.keySet
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty)
      usage(s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", "))
    val reps = args.drop(1).headOption.map { s =>
      scala.util.Try(s.toInt).getOrElse(usage(s"reps must be an integer, got '$s'"))
    }.getOrElse(3)
    if (reps < 1) usage(s"reps must be >= 1, got $reps")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id)").collect()
    def timeOne(name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      dt
    }
    def splitOne(name: String): (Double, Double, Double) = {
      val t0 = System.nanoTime()
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      qe.optimizedPlan
      val t2 = System.nanoTime()
      qe.executedPlan
      val t3 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    names.foreach { n =>
      val warm = timeOne(n) // discarded: plan + codegen + artifact build
      val rs = Seq.fill(reps)(timeOne(n))
      val (construct, optimize, physical) = splitOne(n) // off the timed reps
      println(f"[probe] $n%-28s cold=$warm%.3f min=${rs.min}%.3f reps=${rs.map(r => f"$r%.3f").mkString(",")}" +
        f" construct=$construct%.3f optimize=$optimize%.3f physical=$physical%.3f")
    }
    spark.stop()
  }
}
