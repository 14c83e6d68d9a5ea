package graft.lakebench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{DataLake, GraftSession, SparkEntry}
import graft.operators.{ArtifactStore, Maintenance}
import graft.sources.SnapshotTable

/** Executes one benchmark plan against graft's public API and writes
  * what it saw; all checking and metric arithmetic happens in run.py.
  *
  * {{{
  * LakeBench <plan.tsv> <lakeDir> <workDir> <outDir> <cores> <shufflePartitions>
  * }}}
  *
  * Plan lines: `index  phase  kind  key  args...` with phase `warm`
  * (inside set-up), `timed`, `traced` or `twin`. Listeners are registered
  * from the first `traced` or `twin` op on and record only `traced` ops.
  * Outputs in `outDir`:
  *  - `ops.jsonl`: one record per op (latency, construction time, value,
  *    bytes written, and the collected rows of read queries);
  *  - `spans.jsonl`: traced-phase spans (job, stage, SQL execution,
  *    planning phases, scan file counts), each tagged with its op;
  *  - `summary.json`: session, set-up and phase wall times plus JVM and
  *    artifact-store counters. */
object LakeBench {

  final case class PlanOp(index: Int, phase: String, kind: String,
                          key: String, args: Vector[String])

  def nowMs: Double = System.nanoTime() / 1e6

  def main(argv: Array[String]): Unit = {
    val Array(planFile, lakeDir, workDir, outDir, coresS, partsS) = argv
    val cores = coresS.toInt
    val t0 = nowMs
    val loadStart = loadAvg
    val spark = GraftSession.builder("lakebench", Some(s"local[$cores]"), cores)
      .config("spark.sql.shuffle.partitions", partsS)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.graft.artifactRoot", s"$workDir/artifacts")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs - t0

    val plan = scala.io.Source.fromFile(planFile).getLines().filter(_.nonEmpty)
      .map { l =>
        val f = l.split("\t", -1).toVector
        PlanOp(f(0).toInt, f(1), f(2), f(3), f.drop(4))
      }.toVector
    val runner = new Runner(spark, lakeDir, workDir)
    val opsOut = new PrintWriter(new File(outDir, "ops.jsonl"), "UTF-8")
    val phaseWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val phaseJvm = scala.collection.mutable.LinkedHashMap.empty[String, Array[Double]]
    var tracer: Option[Tracer] = None
    var gcAtTrace = 0L
    var referenceWarmMs = -1.0
    val referenceMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (op <- plan) {
      if (op.phase == "timed") {
        if (referenceWarmMs < 0) {
          val w0 = nowMs
          Reference.warm()
          referenceWarmMs = nowMs - w0
        }
        referenceMs ++= Reference.sample()
      }
      if (tracer.isEmpty && Tracer.phases(op.phase)) {
        val t = new Tracer(spark)
        t.register()
        tracer = Some(t)
        gcAtTrace = gcMs
        resetPeaks()
      }
      val start = nowMs
      val (cpu0, jit0, gc0) = (processCpuMs, jitMs, gcMs)
      opsOut.println(runner.run(op, tracer.filter(_ => op.phase == "traced")))
      phaseWall(op.phase) = phaseWall.getOrElse(op.phase, 0.0) + (nowMs - start)
      val jvm = phaseJvm.getOrElseUpdate(op.phase, new Array[Double](3))
      jvm(0) += processCpuMs - cpu0
      jvm(1) += jitMs - jit0
      jvm(2) += gcMs - gc0
    }
    opsOut.close()
    val setupMs = sessionMs + phaseWall.getOrElse("warm", 0.0) + math.max(0.0, referenceWarmMs)
    val traceCounters = tracer.map { t =>
      t.writeSpans(new File(outDir, "spans.jsonl"))
      Seq(
        "gc_ms" -> Json.num(gcMs - gcAtTrace),
        "heap_peak_mb" -> Json.num(heapPeakMb),
        "persistent_rdds_end" -> Json.num(spark.sparkContext.getPersistentRDDs.size))
    }.getOrElse(Nil)
    val artifactBytes = dirBytes(Paths.get(workDir, "artifacts"))
    val summary = Json.obj(Seq(
      "session_ms" -> Json.num(sessionMs),
      "setup_ms" -> Json.num(setupMs),
      "phase_wall_ms" -> Json.obj(phaseWall.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "phase_jvm" -> Json.obj(phaseJvm.toSeq.map { case (k, a) => k -> Json.obj(Seq(
        "cpu_ms" -> Json.num(a(0)), "jit_ms" -> Json.num(a(1)), "gc_ms" -> Json.num(a(2))))
      }),
      "reference_ms" -> referenceMs.map(Json.num(_)).mkString("[", ",", "]"),
      "artifact_bytes" -> Json.num(artifactBytes),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadAvg),
      "cores" -> Json.num(cores),
      "shuffle_partitions" -> Json.str(partsS)) ++ traceCounters)
    Files.write(Paths.get(outDir, "summary.json"), summary.getBytes("UTF-8"))
    spark.stop()
  }

  // ------------------------------------------------------------ JVM probes

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def processCpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** File → (size, mtime) for every regular file under `p`. */
  def listing(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap

  /** Artifact family → bytes. Family directories are named
    * `<family>_<hex hash of the lake dir>[_<key>]` by ArtifactStore. */
  def familyBytes(root: Path, lakeDir: String): Map[String, Long] = {
    val lakeKey = "_" + java.lang.Integer.toHexString(lakeDir.hashCode)
    if (!Files.exists(root)) Map.empty
    else Files.list(root).iterator().asScala.toSeq
      .map(d => d.getFileName.toString.split(lakeKey)(0) -> dirBytes(d))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** A fixed, graft-free piece of JVM work (boxed hash-map probes, string
  * building, a sort; about 10 ms on one core) run REPS times on the
  * driver thread before every timed op. The mean of its times in a run
  * measures how fast the host ran the JVM during that run, so that run.py
  * can report the timed sequence at one reference speed: the speed of a
  * shared host drifts by tens of percent between runs, and no change to
  * graft changes this kernel. */
object Reference {
  private val keys: Array[Long] = {
    val r = new java.util.SplittableRandom(7)
    Array.fill(1 << 16)(r.nextLong(1L << 40))
  }
  @volatile private var sink = 0L

  private def once(): Long = {
    val m = new java.util.HashMap[java.lang.Long, String](1 << 14)
    var acc = 0L
    var i = 0
    while (i < keys.length) {
      val k = java.lang.Long.valueOf(keys(i) & 0x7fff)
      val s = m.get(k)
      if (s == null) m.put(k, java.lang.Long.toHexString(keys(i))) else acc += s.length
      i += 1
    }
    val a = keys.clone()
    java.util.Arrays.sort(a)
    acc + a(a.length / 2) + m.size
  }

  /** Compile the kernel before the first sample (inside set-up). */
  def warm(): Unit = (0 until 100).foreach(_ => sink += once())

  val REPS = 6

  /** Milliseconds of each of REPS executions of the kernel. */
  def sample(): Seq[Double] = (0 until REPS).map { _ =>
    val t0 = LakeBench.nowMs
    sink += once()
    LakeBench.nowMs - t0
  }
}

/** Runs one plan op and renders its record. */
final class Runner(spark: SparkSession, lakeDir: String, workDir: String) {
  import LakeBench._

  private val table = s"$workDir/table"
  private val curated = s"$workDir/curated"
  private val sqlLake = DataLake(spark, lakeDir)

  def run(op: PlanOp, tracer: Option[Tracer]): String = {
    val before = written()
    val familiesBefore = familyBytes(artifacts, lakeDir)
    val buildsBefore = ArtifactStore.buildsThisSession
    tracer.foreach(_.beginOp(op.index))
    val t0 = nowMs
    var tConstructed = t0
    var value: String = "null"
    var result: Option[(StructType, Array[Row])] = None
    var err: String = "null"
    try {
      op.kind match {
        case "query" | "sql" =>
          val df =
            if (op.kind == "query") SparkEntry.queries(op.args(0))(spark, lakeDir)
            else sqlLake.sql(op.args(0))
          tConstructed = nowMs
          val rows = df.collect()
          result = Some(df.schema -> rows)
          value = Json.num(rows.length)
        case "read" =>
          val lo = op.args(0).toLong
          val hi = op.args(1).toLong
          val df = spark.read.format("graft-snapshot").load(table)
            .filter(col("o_orderkey").between(lo, hi))
            .agg(count(lit(1)).as("n"), sum(expr(
              "o_orderkey * 1000003 + o_custkey * 7 + " +
                "cast(round(o_totalprice * 100) as bigint)")).as("checksum"))
          tConstructed = nowMs
          val r = df.collect().head
          value = s"[${r.getLong(0)},${if (r.isNullAt(1)) 0L else r.getLong(1)}]"
        case "seed" =>
          value = Json.num(SnapshotTable.write(spark, table, spark.read.parquet(op.args(0)),
            autoIndex = Seq("minmax:o_orderkey")))
        case "merge" =>
          value = Json.num(SnapshotTable.merge(spark, table,
            spark.read.parquet(op.args(0)), "o_orderkey"))
        case "delete" =>
          value = Json.num(SnapshotTable.delete(spark, table,
            col("o_orderkey").between(op.args(0).toLong, op.args(1).toLong)))
        case "compact" =>
          value = Json.num(SnapshotTable.compact(spark, table, op.args(0).toInt))
        case "ingest" =>
          value = Json.num(Maintenance.ingestDedup(spark, curated,
            spark.read.parquet(op.args(0))))
      }
    } catch {
      case e: Throwable => err = Json.str(s"${e.getClass.getName}: ${e.getMessage}")
    }
    val t1 = nowMs
    // a read's child span is the call that returns its DataFrame; a
    // write's is the whole call, which commits before it returns
    val child =
      if (op.kind == "ingest") ("ingest", t0, t1)
      else if (writes(op.kind)) ("commit", t0, t1)
      else ("construct", t0, tConstructed)
    tracer.foreach(_.endOp(op.index, op.kind, t0, t1, child))
    val changed = written().filter { case (f, st) => !before.get(f).contains(st) }
    val familiesBuilt = familyBytes(artifacts, lakeDir).filter { case (f, n) =>
      !familiesBefore.get(f).contains(n) }.keys.toSeq.sorted
    val extra = if (op.kind == "read") {
      Seq("files_live" -> Json.num(liveFiles.size))
    } else Nil
    Json.obj(Seq(
      "index" -> Json.num(op.index), "phase" -> Json.str(op.phase),
      "kind" -> Json.str(op.kind), "key" -> Json.str(op.key),
      "ms" -> Json.num(t1 - t0), "construct_ms" -> Json.num(tConstructed - t0),
      "value" -> value, "error" -> err,
      "builds" -> Json.num(ArtifactStore.buildsThisSession - buildsBefore),
      "families_built" -> familiesBuilt.map(Json.str).mkString("[", ",", "]"),
      "bytes_written" -> Json.num(changed.values.map(_._1).sum),
      "files_written" -> Json.num(changed.size),
      "table_bytes" -> Json.num(if (writes(op.kind)) storedBytes else 0L),
      "live_bytes" -> Json.num(if (writes(op.kind)) liveBytes else 0L)) ++ extra ++
      Seq("rows" -> result.fold("null") { case (st, rows) => Rows.encode(st, rows) }))
  }

  private val artifacts = Paths.get(workDir, "artifacts")

  private def writes(kind: String): Boolean =
    Set("seed", "merge", "delete", "compact", "ingest")(kind)

  /** Files of the snapshot table and the curated set, to diff around a
    * write call (outside its timing). */
  private def written(): Map[String, (Long, Long)] =
    listing(Paths.get(table)) ++ listing(Paths.get(curated))

  private def liveDir: Option[Path] =
    SnapshotTable.latestVersion(spark, table).map(v => Paths.get(table, s"v=$v"))

  private def liveFiles: Seq[Path] = liveDir.toSeq.flatMap { d =>
    Files.list(d).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
  }

  /** Everything on disk for the snapshot table and the curated set. */
  private def storedBytes: Long = dirBytes(Paths.get(table)) + dirBytes(Paths.get(curated))

  /** Bytes a reader of the latest version needs: its data files plus the
    * curated document set. */
  private def liveBytes: Long =
    liveDir.map(dirBytes).getOrElse(0L) + dirBytes(Paths.get(curated))
}

object Tracer {
  /** Phases that run with the listeners registered: `traced` ops record
    * spans, and each `twin` op repeats a traced read with recording off,
    * so that traced ÷ twin wall is the cost of tracing on identical work. */
  val phases = Set("traced", "twin")
}

/** Listener-fed span recorder for the traced phase. Spans are kept in
  * memory and written once at the end. Events are recorded only between
  * `beginOp` and `endOp`. */
final class Tracer(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[(String, Seq[(String, String)])]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[String]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Long]]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  @volatile private var active = false

  private def emit(name: String, fields: (String, String)*): Unit =
    events.add(name -> fields)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) jobStart.put(e.jobId, e.time)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (active) emit("job", "start" -> Json.num(jobStart.getOrDefault(e.jobId, e.time)),
        "end" -> Json.num(e.time), "id" -> Json.num(e.jobId))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (active && m != null) {
        val dur = e.taskInfo.duration
        taskMs.computeIfAbsent(e.stageId, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Long]())).add(dur)
        val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Long](6))
        a.synchronized {
          a(0) += m.executorRunTime
          a(1) += m.executorCpuTime / 1000000L
          a(2) += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime)
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      val a = Option(stageAgg.remove(i.stageId)).getOrElse(new Array[Long](6))
      val ts = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
      emit("stage",
        "start" -> Json.num(i.submissionTime.getOrElse(0L)),
        "end" -> Json.num(i.completionTime.getOrElse(0L)),
        "tasks" -> Json.num(i.numTasks), "run_ms" -> Json.num(a(0)),
        "cpu_ms" -> Json.num(a(1)), "sched_delay_ms" -> Json.num(a(2)),
        "shuffle_read_bytes" -> Json.num(a(3)), "shuffle_write_bytes" -> Json.num(a(4)),
        "spill_bytes" -> Json.num(a(5)),
        "task_ms" -> ts.map(Json.num(_)).mkString("[", ",", "]"))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (active) e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        emit("sqlexec", "start" -> Json.num(sqlStart.getOrDefault(s.executionId, s.time)),
          "end" -> Json.num(s.time))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        qe.tracker.phases.foreach { case (phase, p) =>
          emit(phase, "start" -> Json.num(p.startTimeMs), "end" -> Json.num(p.endTimeMs))
        }
        scans(qe.executedPlan).foreach { s =>
          emit("scan", "files_read" -> Json.num(s.fileIndex.inputFiles.length))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileScan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => b.scan match {
      case f: FileScan if f.fileIndex.rootPaths.exists(_.toString.contains("/table/")) => Seq(f)
      case _ => Nil
    }
    case other => other.children.flatMap(scans)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def beginOp(index: Int): Unit = {
    org.apache.spark.lakebench.ListenerBusAccess.drain(spark.sparkContext)
    events.clear()
    active = true
  }

  /** Op root span plus the child span of the graft call (`construct`,
    * `commit` or `ingest`); times are nanoTime ms, converted to the
    * listeners' epoch-ms clock. */
  def endOp(index: Int, kind: String, t0: Double, t1: Double,
            child: (String, Double, Double)): Unit = {
    org.apache.spark.lakebench.ListenerBusAccess.drain(spark.sparkContext)
    active = false
    val shift = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
    def epoch(t: Double) = Json.num(t + shift)
    def line(name: String, fields: Seq[(String, String)]) =
      Json.obj(Seq("op" -> Json.num(index), "name" -> Json.str(name)) ++ fields)
    spans += line("op", Seq("kind" -> Json.str(kind), "start" -> epoch(t0),
      "end" -> epoch(t1)))
    spans += line(child._1, Seq("start" -> epoch(child._2), "end" -> epoch(child._3)))
    var e = events.poll()
    while (e != null) { spans += line(e._1, e._2); e = events.poll() }
  }

  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach(w.println) finally w.close()
  }
}

/** Minimal JSON rendering; values arrive pre-rendered. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Typed JSON encoding of collected rows. run.py rebuilds the Python
  * values DuckDB would return for the same parquet (float, Decimal,
  * datetime, date, dict, ...) before canonicalising them. Doubles use
  * Java's round-trip repr, NaN/Infinity as bare tokens. */
object Rows {
  def encode(schema: StructType, rows: Array[Row]): String = {
    val b = new StringBuilder
    b ++= "{\"cols\":" ++= schema.fieldNames.map(Json.str).mkString("[", ",", "]")
    b ++= ",\"data\":["
    var first = true
    rows.foreach { r =>
      if (!first) b += ','
      first = false
      b += '['
      var i = 0
      while (i < schema.length) {
        if (i > 0) b += ','
        value(b, schema(i).dataType, if (r.isNullAt(i)) null else r.get(i))
        i += 1
      }
      b += ']'
    }
    b ++= "]}"
    b.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity" else java.lang.Double.toString(d)

  private def tagged(b: StringBuilder, tag: String, v: String): Unit =
    b ++= "{\"" ++= tag ++= "\":" ++= v += '}'

  def value(b: StringBuilder, t: DataType, v: Any): Unit = (t, v) match {
    case (_, null) => b ++= "null"
    case (BooleanType, x: Boolean) => b ++= x.toString
    case (ByteType | ShortType | IntegerType | LongType, x) => b ++= x.toString
    case (FloatType, x: Float) => b ++= dbl(x.toDouble)
    case (DoubleType, x: Double) => b ++= dbl(x)
    case (_: DecimalType, x: java.math.BigDecimal) => tagged(b, "$d", Json.str(x.toPlainString))
    case (StringType, x) => b ++= Json.str(x.toString)
    case (DateType, x: java.sql.Date) => tagged(b, "$date", Json.str(x.toLocalDate.toString))
    case (DateType, x: java.time.LocalDate) => tagged(b, "$date", Json.str(x.toString))
    case (TimestampType, x: java.sql.Timestamp) =>
      tagged(b, "$ts", micros(x.toInstant).toString)
    case (TimestampType, x: java.time.Instant) => tagged(b, "$ts", micros(x).toString)
    case (TimestampNTZType, x: java.time.LocalDateTime) =>
      tagged(b, "$ntz", micros(x.toInstant(java.time.ZoneOffset.UTC)).toString)
    case (BinaryType, x: Array[Byte]) =>
      tagged(b, "$b", Json.str(java.util.Base64.getEncoder.encodeToString(x)))
    case (ArrayType(et, _), x: scala.collection.Seq[_]) =>
      b += '['
      var first = true
      x.foreach { e => if (!first) b += ','; first = false; value(b, et, e) }
      b += ']'
    case (st: StructType, x: Row) =>
      b ++= "{\"$struct\":["
      st.fields.indices.foreach { i =>
        if (i > 0) b += ','
        b += '[' ++= Json.str(st(i).name) += ','
        value(b, st(i).dataType, if (x.isNullAt(i)) null else x.get(i))
        b += ']'
      }
      b ++= "]}"
    case (MapType(kt, vt, _), x: scala.collection.Map[_, _]) =>
      b ++= "{\"$map\":["
      var first = true
      x.foreach { case (k, mv) =>
        if (!first) b += ','
        first = false
        b += '['; value(b, kt, k); b += ','; value(b, vt, mv); b += ']'
      }
      b ++= "]}"
    case (_, x) => tagged(b, "$str", Json.str(x.toString))
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
