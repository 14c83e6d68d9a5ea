package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Resilience contract (round 11, after CORRECTNESS_r10 came back `{}`):
  * oracle_sql.json is written FIRST, before any query runs, so a driver
  * timeout or crash mid-dump leaves a usable partial artifact (the
  * DuckDB compare scores whatever parquet dirs exist) instead of zeroing
  * the whole round; and the dump itself fans out over a small thread
  * pool — Spark's scheduler runs concurrent jobs on one session safely,
  * and the registered queries mutate no session-global conf — so wall
  * time stays bounded as the query count grows. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: query names after the two dirs restrict the dump (local
    // iteration with tools/check.py); driver passes exactly two args.
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify", Some(s"local[$cpus]"), cpus.toInt)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // one session runs ~400 queries back-to-back: shuffle files live
      // until the ContextCleaner GCs their driver-side handles, and with
      // a large driver heap full GCs are rare — at sf10 the accumulated
      // spill filled the disk mid-sweep (ENOSPC in q_containment's
      // exchange). The cleaner's periodic GC (default 30 min) is the
      // designed backstop; 5 min bounds the on-disk shuffle backlog to a
      // few queries' worth at any SF.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.ArtifactStore.useStableRoot(spark)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // DuckDB inlines non-recursive CTEs, so a chained iteration replay
    // (power iteration, k-core peeling, IRLS) re-evaluates its whole
    // prefix at every level — exponential work that blew the driver's
    // round-10 compare budget (q_kcore alone: 572 s → 0.4 s with the
    // hint). AS MATERIALIZED is a pure evaluation hint (identical
    // results), applied here at the DuckDB boundary so the oracleSql
    // literals stay plain ANSI. The guard on SELECT/VALUES/WITH keeps
    // WINDOW ... AS (ORDER BY ...) clauses untouched.
    def duckdbHint(sql: String): String = sql.replaceAll(
      "(?i)\\bAS\\s*\\(\\s*(SELECT|VALUES|WITH)\\b",
      "AS MATERIALIZED ($1")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(duckdbHint(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val work = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4")
      .toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new AtomicInteger(0)
    val futures = work.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] ${done.incrementAndGet()}%3d/" +
              f"${work.size} $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    // straggler deadline: one hung query must not wedge the whole dump
    // past the driver's budget — every other query's parquet is already
    // on disk and oracle_sql.json was written first, so abandoning the
    // straggler degrades ONE row to "no spark output", not the round
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_DEADLINE",
      "5400").toLong
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    var abandoned = 0
    futures.foreach { f =>
      val left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
      try f.get(left, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case _: java.util.concurrent.TimeoutException =>
        abandoned += 1
        f.cancel(true)
      }
    }
    if (abandoned > 0) {
      System.err.println(s"[verify] deadline: abandoned $abandoned queries")
      spark.sparkContext.cancelAllJobs()
    }
    pool.shutdownNow()
    // cross-JVM reuse observable: 0 on a second run over an unchanged lake
    System.err.println("[verify] artifact_builds=" +
      graft.operators.ArtifactStore.buildsThisSession)
    spark.stop()
  }
}
