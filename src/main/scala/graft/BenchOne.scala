package graft

/** Targeted micro-bench: time the NAMED queries only (3 reps, median) —
  * the local iteration loop for tuning one operator without paying a
  * full Bench sweep. Usage:
  * `runMain graft.BenchOne <sfDir> <query> [<query> ...]`.
  * Shares Bench's session shape (warmup, stable artifact root) so
  * numbers are comparable to sweep medians modulo ambient load.
  * `GRAFT_BENCH_THREADS` overrides the default 8 local threads — the
  * r11 q_cf_eval regression only reproduced at local[32], so perf work
  * must be measurable at the driver's parallelism. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threads = sys.env.getOrElse("GRAFT_BENCH_THREADS", "8").toInt
    val spark = GraftSession.builder("bench-one", Some(s"local[$threads]"), threads)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.ArtifactStore.useStableRoot(spark)
    try Lake.region(spark, sfDir).groupBy("r_name").count().count() catch { case _: Throwable => }
    for (name <- args.drop(1)) {
      val fn = SparkEntry.queries(name)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"TIME $name median=${ts(1)}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
