package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake-resident versioned store for the shared derived artifacts: the
  * cross-JVM generalization of the [[AnnIndex]] `v=N` / `_SUCCESS` slot
  * discipline. [[shared]] is the one entry point; each family is one
  * short `def` in the operator object whose code derives it:
  *   - `baskets` — [[Relational.sharedBaskets]] (lineitem)
  *   - `recserve` — [[Relational.sharedRecs]] (lineitem, orders)
  *   - `neardup`, keyed by the threshold's bits in hex —
  *     [[DedupOps.sharedNearDups]] (documents)
  *   - `trade` — [[GraphOps.sharedTradeEdges]] (lineitem, orders)
  *   - `knn_pairs` — [[AnnOps.sharedKnnPairs]] (embeddings)
  *   - `knn_graph`, keyed `k<k>` — [[AnnOps.sharedKnnGraph]] (embeddings)
  *
  * Why: the shared artifacts were app-scoped temp sidecars — built
  * once per session, then thrown away with the JVM, so Verify, Bench
  * and user sessions each paid the build again. The 100 TB shape is
  * build-once-per-CORPUS-VERSION: a stable sidecar root holds `v=N`
  * slots, each stamped with a fingerprint of the source files it was
  * derived from, and any session whose corpus fingerprint matches a
  * committed slot just reads it.
  *
  * Declared results are never shared: a query whose declared RESULT is
  * an artifact computes it on every call — `q_recommend` (the CF
  * serving table) and `q_knn_graph` (the ranked graph) — so only the
  * consumers that take it as an INPUT read the store. `q_cf_eval` must
  * never read a model fitted on all orders: its leave-last-out retrain
  * bypasses `recserve` (the no-leakage discipline).
  *
  * Layout per family dir:
  * {{{
  * <root>/<family>_<hex lakeDir.hashCode>[_<key>]/v=N/data/  (parquet, _SUCCESS-gated)
  * <root>/<family>_<hex lakeDir.hashCode>[_<key>]/v=N/fp     (fingerprint file, written LAST)
  * }}}
  * A version is complete iff `fp` exists (it is written after the data
  * commit, so a crashed build is invisible). Staleness is probed on
  * every resolve: the fingerprint hashes each source file's (name,
  * length, mtime) from the lake listing — a regenerated corpus, a
  * compaction, or an erasure rewrite all change it, and the next
  * resolve builds a fresh version instead of serving stale rows.
  *
  * Concurrency: in-JVM builders serialize on this object (sbt runs
  * suites concurrently in one JVM). ACROSS JVMs the build is committed
  * by writing into a private staging dir and RENAMING it to `v=N` —
  * rename fails if the slot exists, so two racing sessions produce two
  * adjacent versions (both complete, both correct), never a torn one.
  *
  * Root selection: `SPARK_GRAFT_ARTIFACT_ROOT` (or the
  * `spark.graft.artifactRoot` conf) names the persistent cross-session
  * root — point it next to the lake (e.g. `<lake>/_artifacts`) in a
  * writable deployment. Unset, the store falls back to the app-scoped
  * tmp dir: hermetic, leaves read-only lakes untouched, and exactly the
  * round-8 per-session behavior. */
private[graft] object ArtifactStore {

  /** Stable artifact root if configured; None → per-app scratch. */
  private def configuredRoot(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.artifactRoot")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACT_ROOT"))
      .filter(_.nonEmpty)

  /** For the dev mains: keep any configured root, otherwise use
    * `<java.io.tmpdir>/graft_artifacts`, so a second run in a fresh JVM
    * reuses the artifacts a prior run built and measures query cost,
    * not the one-time builds. The lake dir itself may be read-only, so
    * the sidecar lives under tmp, keyed by lake hash and
    * staleness-probed by corpus fingerprint either way. */
  def useStableRoot(spark: SparkSession): Unit =
    if (configuredRoot(spark).isEmpty)
      spark.conf.set("spark.graft.artifactRoot",
        new java.io.File(sys.props("java.io.tmpdir"), "graft_artifacts")
          .getAbsolutePath)

  /** Family directory under the resolved root. `key` disambiguates
    * parameterizations (e.g. a near-dup threshold). */
  def familyDir(spark: SparkSession, lakeDir: String, family: String,
                key: String = ""): String = {
    val lakeKey = java.lang.Integer.toHexString(lakeDir.hashCode)
    val name = s"${family}_$lakeKey" + (if (key.isEmpty) "" else s"_$key")
    configuredRoot(spark) match {
      case Some(root) => new Path(root, name).toString
      case None => new Path(sys.props("java.io.tmpdir"),
        s"graft_${name}_${spark.sparkContext.applicationId}").toString
    }
  }

  /** Corpus fingerprint: a 64-bit hex hash over each source table's
    * file inventory (path name, length, mtime). Cheap (driver metadata
    * listing, no data read) and changes whenever any source file does —
    * the staleness probe for every resolve. The listing is RECURSIVE so
    * a partitioned layout (`<table>.parquet/part_col=x/file.parquet`)
    * fingerprints its leaf data files, not just the partition dirs —
    * some filesystems don't bump a directory's mtime on deep rewrites,
    * which would otherwise serve stale artifacts silently. */
  def corpusFingerprint(spark: SparkSession, lakeDir: String,
                        tables: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    var h = 1125899906842597L // FNV-ish rolling hash, deterministic
    def mix(s: String): Unit = s.foreach { c => h = h * 31 + c }
    tables.sorted.foreach { t =>
      val p = new Path(s"$lakeDir/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        if (fs.getFileStatus(p).isDirectory) {
          val it = fs.listFiles(p, true) // recursive: every leaf data file
          val base = p.toString
          while (it.hasNext) {
            val st = it.next()
            // path RELATIVE to the table root, so partition-dir segments
            // participate in the hash but the lake's mount point doesn't
            val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
            if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
              files += ((rel, st.getLen, st.getModificationTime))
          }
        } else {
          val st = fs.getFileStatus(p)
          files += ((st.getPath.getName, st.getLen, st.getModificationTime))
        }
        files.sortBy(_._1).foreach { case (name, len, mtime) =>
          mix(name); mix(len.toString); mix(mtime.toString)
        }
      } else mix(s"absent:$t")
    }
    java.lang.Long.toHexString(h)
  }

  /** Invalidate Spark's session caches for the source tables before a
    * REBUILD: a fingerprint miss means the corpus changed on disk, and
    * both the shared file-listing cache and any registered plan-fragment
    * cache rooted at these paths may still describe the PRE-rewrite
    * files — serving erased rows into the fresh artifact. Metadata-only;
    * [[shared]] calls it first thing in its build, so it runs exactly
    * when a rebuild is about to. */
  private def refreshSources(spark: SparkSession, lakeDir: String,
                             tables: Seq[String]): Unit =
    tables.foreach(t => spark.catalog.refreshByPath(s"$lakeDir/$t.parquet"))

  /** Complete versions (ascending) with their stored fingerprints. */
  def versions(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).iterator.map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .flatMap { q =>
        val s = q.getName.stripPrefix("v=")
        val fpPath = new Path(q, "fp")
        if (s.nonEmpty && s.forall(_.isDigit) && fs.exists(fpPath)) {
          val in = fs.open(fpPath)
          val fp = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          Some(s.toLong -> fp)
        } else None
      }.toSeq.sortBy(_._1)
  }

  /** In-JVM build serialization is PER FAMILY DIR (interned via a
    * concurrent map), not a single global monitor: sbt runs suites
    * concurrently in one JVM, and an in-flight near-dup build must not
    * block an unrelated baskets build. */
  private val familyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    familyLocks.computeIfAbsent(dir, _ => new Object)

  /** Builds performed by THIS JVM since start — the cross-session reuse
    * observable: a second driver run against an unchanged corpus should
    * report 0. */
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong(0)
  def buildsThisSession: Long = buildCounter.get()

  /** Serve the artifact for the CURRENT corpus: reuse the newest
    * complete version whose fingerprint matches `fp`, else build one.
    * `build` must write parquet (with `_SUCCESS`) at the given path.
    * Returns the data directory to read. */
  def resolve(spark: SparkSession, dir: String, fp: String)
             (build: String => Unit): String = lockFor(dir).synchronized {
    versions(spark, dir).reverse.collectFirst {
      case (v, storedFp) if storedFp == fp => s"$dir/v=$v/data"
    }.getOrElse {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(p)
      // private staging dir → build → stamp fp → rename to v=N.
      // rename-to-existing USUALLY fails, so a cross-JVM race yields two
      // adjacent complete versions — but the classic Hadoop FileSystem
      // contract (RawLocalFileSystem included) may instead move the
      // source INTO an existing destination directory. So the commit is
      // verified after the fact: re-read the slot's fp and only serve it
      // if it matches ours; a swallowed rename falls through to retry.
      val staging = new Path(p,
        s"_staging_${spark.sparkContext.applicationId}_${System.nanoTime()}")
      build(new Path(staging, "data").toString)
      buildCounter.incrementAndGet()
      val out = fs.create(new Path(staging, "fp"), true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      var v = versions(spark, dir).lastOption.map(_._1 + 1).getOrElse(0L)
      var served: Option[String] = None
      while (served.isEmpty) {
        val slot = new Path(p, s"v=$v")
        if (fs.exists(slot)) {
          v += 1 // a racing session took this slot; try the next
        } else if (fs.rename(staging, slot)) {
          // verify the slot we "committed" really carries OUR fingerprint
          // (a TOCTOU racer's slot can swallow the rename as a nested dir)
          val slotFp = versions(spark, dir).find(_._1 == v).map(_._2)
          if (slotFp.contains(fp)) {
            // if the rename nested us inside an identically-fingerprinted
            // racer slot, our stray staging copy sits under it — drop it
            val stray = new Path(slot, staging.getName)
            if (fs.exists(stray)) fs.delete(stray, true)
            served = Some(s"$dir/v=$v/data")
          } else {
            // swallowed by a DIFFERENT-fingerprint slot: our bytes are a
            // stray inside it; remove them and serve/rebuild afresh
            val stray = new Path(slot, staging.getName)
            if (fs.exists(stray)) fs.delete(stray, true)
            served = Some(resolve(spark, dir, fp)(build))
          }
        } else {
          v += 1
        }
      }
      // a racer may have committed the SAME fingerprint first; serving
      // our own commit is equally correct (identical derivation)
      served.get
    }
  }

  /** Serve the `family` artifact of `lakeDir` derived from `tables`:
    * read back the newest committed version whose corpus fingerprint
    * over `tables` matches; on a miss refresh exactly those `tables`,
    * write `build` as parquet into the staging path, commit it as the
    * next version and read that back. `key` disambiguates
    * parameterizations of one family (a threshold, a k). */
  def shared(spark: SparkSession, lakeDir: String, family: String,
             tables: Seq[String], key: String = "")
            (build: => DataFrame): DataFrame = {
    val dir = familyDir(spark, lakeDir, family, key)
    val fp = corpusFingerprint(spark, lakeDir, tables)
    val dataDir = resolve(spark, dir, fp) { out =>
      refreshSources(spark, lakeDir, tables)
      build.write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(dataDir)
  }

  /** Drop all but the newest `keepLast` versions. Staging leftovers are
    * swept too, but only past `stagingGraceMs` (by mtime): under a
    * shared root a concurrent session's IN-FLIGHT staging dir must not
    * be deleted out from under its build — an hour-old one is a crash
    * leftover, not a live build. Returns dropped version numbers. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
             stagingGraceMs: Long = 60L * 60 * 1000): Seq[Long] = {
    require(keepLast >= 1, "must keep at least one version")
    val kept = versions(spark, dir).takeRight(keepLast).map(_._1).toSet
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val now = System.currentTimeMillis()
    val dropped = fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        if (n.startsWith("v=")) {
          val s = n.stripPrefix("v=")
          !(s.nonEmpty && s.forall(_.isDigit) && kept(s.toLong))
        } else n.startsWith("_staging_") &&
          (now - st.getModificationTime) > stagingGraceMs
      }.map(_.getPath)
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v="))
      .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong).sorted
  }
}
