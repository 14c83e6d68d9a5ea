package graft

/** Dump `.explain("formatted")` for the NAMED queries to files — the
  * plan-evidence artifact of the optimization rounds (plans/rNN/): each
  * query's formatted physical plan is written to `<outDir>/<query>_<tag>.txt`.
  * Usage:
  * `runMain graft.PlanDump <sfDir> <outDir> <tag> <query> [<query> ...]`.
  * Session shape matches Bench (shuffle partitions = threads, stable
  * artifact root) so the dumped plan is the one the bench executes.
  *
  * Operators that end in an eager `localCheckpoint` (the cache-release
  * discipline) return an `ExistingRDD` scan — the final frame's plan is a
  * useless stub (the VERDICT_r14 complaint). So a QueryExecutionListener
  * also captures every plan EXECUTED while the frame is constructed (the
  * checkpoint materialization runs as a tracked Dataset action), and the
  * dump appends each executed plan after the final one. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val threads = sys.env.getOrElse("GRAFT_BENCH_THREADS", "8").toInt
    val spark = GraftSession.builder("plan-dump", Some(s"local[$threads]"), threads)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.ArtifactStore.useStableRoot(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val executed = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        executed.synchronized {
          executed += qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    for (name <- args.drop(3)) {
      val fn = SparkEntry.queries(name)
      val plan = try {
        executed.synchronized(executed.clear())
        val df = fn(spark, sfDir)
        val finalPlan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // drain the async listener bus so construction-time plans are in
        // (the Profile.scala convention; the bus API is private[spark])
        Thread.sleep(400)
        val cons = executed.synchronized(executed.toList)
        val consStr =
          if (cons.isEmpty) ""
          else cons.zipWithIndex.map { case (p, i) =>
            s"\n===== plan executed during construction [${i + 1}/${cons.size}] =====\n$p"
          }.mkString
        s"===== final frame plan =====\n$finalPlan$consStr"
      } catch { case e: Throwable => s"PLAN FAILED: ${e}" }
      val p = java.nio.file.Paths.get(outDir, s"${name}_${tag}.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
