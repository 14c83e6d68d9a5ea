package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Per-JOB wall-clock profiler for one registered query — the guide-§1
  * "where does the time actually go" instrument for the local iteration
  * loop: runs the named queries (after a warmup rep so codegen/page-cache
  * cost doesn't masquerade as plan cost) with a listener that records
  * every job's duration, stage count, task count, and shuffle read/write
  * bytes. Iterative operators (power iteration, MM steps, label
  * propagation, boosting rounds) decompose into one line per eager
  * action, which is exactly the granularity their loop structure hides
  * from a single end-to-end time. Usage:
  * `runMain graft.Profile <sfDir> <query> [<query> ...]`. */
object Profile {
  final case class JobRow(jobId: Int, ms: Long, stages: Int, tasks: Int,
                          shufRead: Long, shufWrite: Long, desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threads = sys.env.getOrElse("GRAFT_BENCH_THREADS", "8").toInt
    val spark = GraftSession.builder("profile", Some(s"local[$threads]"), threads)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.ArtifactStore.useStableRoot(spark)

    val jobs = ArrayBuffer.empty[JobRow]
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val stageOfJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val agg = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long, Long)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts(js.jobId) = (System.nanoTime(),
          Option(js.properties).map(_.getProperty("spark.job.description"))
            .flatMap(Option(_)).getOrElse(""))
        js.stageIds.foreach(sid => stageOfJob(sid) = js.jobId)
        agg(js.jobId) = (0, 0L, 0L)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val jid = stageOfJob.getOrElse(sc.stageInfo.stageId, -1)
        if (jid >= 0) {
          val (t, r, w) = agg.getOrElse(jid, (0, 0L, 0L))
          agg(jid) = (t + sc.stageInfo.numTasks,
            r + sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead,
            w + sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        starts.remove(je.jobId).foreach { case (t0, desc) =>
          val (tasks, r, w) = agg.getOrElse(je.jobId, (0, 0L, 0L))
          jobs.synchronized {
            jobs += JobRow(je.jobId, (System.nanoTime() - t0) / 1000000,
              0, tasks, r, w, desc)
          }
        }
      }
    }
    try Lake.region(spark, sfDir).groupBy("r_name").count().count() catch { case _: Throwable => }
    for (name <- args.drop(1)) {
      val fn = SparkEntry.queries(name)
      // warmup rep: codegen + page cache + artifact build
      val tw0 = System.nanoTime()
      fn(spark, sfDir).count()
      val warm = (System.nanoTime() - tw0) / 1e9
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain the final job events
      spark.sparkContext.removeSparkListener(listener)
      println(f"PROFILE $name warm_rep=$warm%.2fs measured_rep=$total%.2fs rows=$n")
      val snap = jobs.synchronized(jobs.toList)
      val covered = snap.map(_.ms).sum / 1000.0
      println(f"  jobs=${snap.size} job_time_sum=$covered%.2fs (gap=${total - covered}%.2fs driver/planning)")
      snap.sortBy(-_.ms).take(25).foreach { j =>
        val d = if (j.desc.length > 60) j.desc.take(57) + "..." else j.desc
        println(f"  job ${j.jobId}%4d ${j.ms / 1000.0}%7.3fs tasks=${j.tasks}%5d shufR=${j.shufRead / 1048576.0}%8.1fMB shufW=${j.shufWrite / 1048576.0}%8.1fMB $d")
      }
    }
    spark.stop()
  }
}
