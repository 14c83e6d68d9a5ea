package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every SparkEntry query at the env-selected
  * scale factor and prints ONE JSON line. A small warmup query absorbs
  * one-time JVM/codegen cost so per-query numbers reflect steady state.
  * Each query runs `SPARK_GRAFT_REPEATS` times (default 3) and reports the
  * MEDIAN — single-shot numbers on a shared host have shown up to 2×
  * run-to-run contention noise, which medians mostly cancel; failures
  * surface per-query as negative time + stderr detail.
  *
  * Comparability metadata (the round-7 lesson — a silent testdata
  * regeneration and an ambient-load window both moved per-query
  * baselines with no record):
  *  - `tables`: row counts of the benched tables, so a regenerated
  *    corpus can never silently shift baselines again;
  *  - `loadavg_start`/`loadavg_end`: the host's 1-min load average
  *    around the sweep — read per-query numbers against it;
  *  - `sentinels`: the designated shuffle-light contention gauges.
  *    Before reading ANY per-query delta vs a previous round, compare
  *    the sentinel medians first: broad sentinel inflation means the
  *    HOST moved, not the code.
  *
  * Falsifiability instrumentation (the round-8 lesson — a 6-query
  * inflation cluster confined to the alphabetical END of the sweep was
  * unattributable from the JSON alone, because sentinels all ran
  * mid-alphabet and no per-query timeline existed):
  *  - `query_meta`: per-query sweep-relative start offset (seconds),
  *    1-min loadavg sampled at query start, and the count of
  *    still-registered persistent RDDs — so any future per-query delta
  *    can be attributed to position-in-sweep, ambient load, or
  *    in-session accumulation FROM THE ARTIFACT, not by re-running;
  *  - `sentinels_tail`: q_scan_filter / q_moving_avg re-timed AFTER the
  *    full sweep. Tail ≈ head sentinel medians → the session stayed
  *    clean end-to-end; inflated tail with quiet loadavg → in-session
  *    accumulation; inflated tail with inflated loadavg → host.
  *
  * Self-diagnosis of the slowest-K (the round-12 lesson — a concurrent
  * memory-heavy co-process inflated ONLY the shuffle-heavy queries
  * 10-26× while the deliberately scan-shaped sentinels stayed flat, so
  * the artifact could not tell co-load from regression): after the
  * sweep AND the tail sentinels, the sweep's own slowest-K
  * (`SPARK_GRAFT_SLOWK`, default 10) are re-timed, and `slowest_tail`
  * in the COMPACT line carries, per query, the sweep median + per-rep
  * times + loadavg at its sweep slot, and the re-timed median + per-rep
  * times + loadavg at the retime. A 95 s sweep median that re-reads
  * ~4 s at sweep end is self-labelling co-load; one that repeats is a
  * real plan cost. Read `slowest_tail` BEFORE adjudicating any
  * slowest-20 delta.
  *
  *  - `SPARK_GRAFT_ORDER=reverse` runs the sweep reverse-alphabetically
  *    (one-off A/B: if the inflated band follows sweep POSITION, it is
  *    in-session accumulation; if it follows the query NAMES, the code).
  *  - session hygiene every `SPARK_GRAFT_GC_EVERY` queries (default 32,
  *    0 = off): `System.gc()` so the ContextCleaner reclaims
  *    `localCheckpoint` RDDs whose frames went unreachable — hundreds
  *    accumulate across 263×3 executions and their cleanup was the
  *    prime suspect for end-of-sweep drag. */
object Bench {
  /** Shuffle-light, scan-shaped queries whose medians have historically
    * tracked ambient host load, not code changes. */
  val Sentinels: Seq[String] =
    Seq("q_scan_filter", "q_string_funcs", "q_lang_quality", "q_moving_avg")

  /** Re-timed after the sweep completes: the end-of-sweep gauge. */
  val TailSentinels: Seq[String] = Seq("q_scan_filter", "q_moving_avg")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // env knobs parse DEFENSIVELY at sweep start: a malformed value must
    // not NumberFormatException after (or worse, near the end of) a
    // multi-hour sweep and lose every timing already collected
    def envInt(name: String, default: Int): Int =
      sys.env.get(name).flatMap(_.trim.toIntOption).getOrElse(default)
    val reps = math.max(1, envInt("SPARK_GRAFT_REPEATS", 3))
    val gcEvery = envInt("SPARK_GRAFT_GC_EVERY", 32)
    // slowest-K retime width; SPARK_GRAFT_SLOWK=0 skips the retime pass
    // entirely (saves ~reps×slowest-K wall-clock on a quick sweep)
    val slowK = math.max(0, envInt("SPARK_GRAFT_SLOWK", 10))
    val reverse = sys.env.get("SPARK_GRAFT_ORDER").contains("reverse")
    val spark = GraftSession.builder("graft-bench", Some(s"local[$cpus]"), cpus.toInt)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // bound the long sweep's shuffle-file backlog (see Verify: the
      // sf10 sweep hit ENOSPC from cleaner lag before this was set)
      .config("spark.cleaner.periodicGC.interval", "5min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.ArtifactStore.useStableRoot(spark)
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    val sweepT0 = System.nanoTime()
    // warmup: one tiny end-to-end job (scan + agg + shuffle + codegen)
    try Lake.region(spark, sfDir).groupBy("r_name").count().count()
    catch { case _: Throwable => }
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
    }
    def fmt(d: Double): String =
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val ordered = {
      val s = SparkEntry.queries.toSeq.sortBy(_._1)
      if (reverse) s.reverse else s
    }
    def arr(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
    val meta = scala.collection.mutable.ArrayBuffer.empty[String]
    // (name, median, per-rep times, loadavg at this query's sweep slot)
    val full = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (gcEvery > 0 && i > 0 && i % gcEvery == 0) System.gc()
      val off = (System.nanoTime() - sweepT0) / 1e9
      val load = loadAvg
      val nRdds = spark.sparkContext.getPersistentRDDs.size
      val times = Seq.fill(reps)(timeOnce(name, fn))
      val ok = times.filter(_ >= 0).sorted
      // median of the successful runs (even count → lower middle, so the
      // reported value is always an observed time)
      val med = if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
      meta += ("\"" + name + "\":{\"off\":" + fmt(off) + ",\"load\":" +
        fmt(load) + ",\"rdds\":" + nRdds + "}")
      (name, med, times, load)
    }
    val results = full.map { case (name, med, _, _) => name -> med }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val byName = results.toMap
    // end-of-sweep sentinels: the same scan-shaped gauges, re-timed LAST
    val tail = TailSentinels.map { s =>
      val med = byName.get(s) match {
        case Some(_) =>
          val fn = SparkEntry.queries(s)
          val ts = Seq.fill(reps)(timeOnce(s + "#tail", fn)).filter(_ >= 0).sorted
          if (ts.isEmpty) -1.0 else ts((ts.size - 1) / 2)
        case None => -1.0
      }
      "\"" + s + "\":" + med
    }.mkString("{", ",", "}")
    // second pass over the sweep's own slowest-K: sweep median + per-rep
    // + slot loadavg, then a fresh re-time (median + per-rep + loadavg).
    // sweep >> tail at quiet tail load → the sweep number was co-load.
    val slowRetimed = full.filter(_._2 >= 0).sortBy(-_._2).take(slowK)
      .map { case (name, med, sweepReps, sweepLoad) =>
        val fn = SparkEntry.queries(name)
        val tLoad = loadAvg
        val ts = Seq.fill(reps)(timeOnce(name + "#slowtail", fn))
        val ok = ts.filter(_ >= 0).sorted
        val tMed = if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
        (name, med, sweepReps, sweepLoad, tMed, ts, tLoad)
      }
    // verbose form for the full record line
    val slowTail = slowRetimed.map {
      case (name, med, sweepReps, sweepLoad, tMed, ts, tLoad) =>
        "\"" + name + "\":{\"sweep\":" + med +
          ",\"sweep_reps\":" + arr(sweepReps) +
          ",\"sweep_load\":" + fmt(sweepLoad) +
          ",\"tail\":" + tMed + ",\"tail_reps\":" + arr(ts) +
          ",\"tail_load\":" + fmt(tLoad) + "}"
    }.mkString("{", ",", "}")
    // compact form for the final line (which must fit the driver's
    // ~2000-char tail window beside `slowest`): tail median `t`,
    // per-rep tail times `tr`, sweep-slot loadavg `sl`, retime loadavg
    // `tl` — the sweep medians for the same queries lead `slowest`.
    val slowTailC = slowRetimed.map {
      case (name, _, _, sweepLoad, tMed, ts, tLoad) =>
        "\"" + name + "\":{\"t\":" + fmt(tMed) + ",\"tr\":" + arr(ts) +
          ",\"sl\":" + fmt(sweepLoad) + ",\"tl\":" + fmt(tLoad) + "}"
    }.mkString("{", ",", "}")
    // per-query sweep-slot loadavg for the COMPACT line (VERDICT_r13
    // order 7): query_meta has it but only the full record line carries
    // that, and the driver's tail window loses it — one array in sweep
    // order (names recoverable: `queries` keys sorted ascending, reversed
    // when order=reverse) makes EVERY per-query delta co-load-adjudicable
    // from the artifact of record, not just the slowest-K.
    val loadArr = full.map { case (_, _, _, load) =>
      BigDecimal(load).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    }.mkString("[", ",", "]")
    val loadEnd = loadAvg
    val cards = Seq("lineitem", "orders", "events", "documents", "embeddings")
      .map { t =>
        val n = try Lake.table(spark, sfDir, t).count() catch { case _: Exception => -1L }
        "\"" + t + "\":" + n
      }.mkString("{", ",", "}")
    val sent = Sentinels.map { s =>
      "\"" + s + "\":" + byName.getOrElse(s, -1.0)
    }.mkString("{", ",", "}")
    val metaJson = meta.mkString("{", ",", "}")
    // Full record first (queries LAST within it), then a compact final
    // line that is guaranteed to survive the driver's ~2000-char tail
    // truncation AND parse on its own: r9's artifact-of-record lost every
    // per-query timing because the ~15 KB query_meta map printed after
    // the timings map. The compact line carries the numbers a round
    // comparison actually needs — total, sentinels (head + tail), the
    // slowest-K retime (slowest_tail: the co-load self-diagnosis), and
    // the slowest-20 per-query medians (the only ones whose deltas get
    // adjudicated; sub-0.5 s queries are noise-dominated anyway).
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","repeats":$reps,"order":"${if (reverse) "reverse" else "forward"}","gc_every":$gcEvery,"tables":$cards,"query_meta":$metaJson,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"sentinels":$sent,"sentinels_tail":$tail,"slowest_tail":$slowTail,"queries":$qs}""")
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","repeats":$reps,"order":"${if (reverse) "reverse" else "forward"}","n_queries":${results.size},"artifact_builds":${graft.operators.ArtifactStore.buildsThisSession},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"query_loads":$loadArr,"sentinels":$sent,"sentinels_tail":$tail,"slowest_tail":$slowTailC,"slowest":$slowest}""")
    spark.stop()
  }
}
