package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.ArtifactStore

/** The lake-resident versioned artifact store: build-once per corpus
  * fingerprint, cross-session reuse through a persistent root,
  * staleness-probed rebuild when the corpus changes, torn-build
  * invisibility, and vacuum. The six shared artifact families all
  * resolve through this discipline via [[ArtifactStore.shared]]. */
class ArtifactStoreSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeLake(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/things.parquet")
  }

  test("resolve builds once per fingerprint and reuses across 'sessions'") {
    val lake = tmp("graft_astore_lake")
    val root = tmp("graft_astore_root")
    writeLake(lake, Seq((1L, "a"), (2L, "b")))
    val dir = s"$root/family_x"
    val fp = ArtifactStore.corpusFingerprint(spark, lake, Seq("things"))
    var builds = 0
    def resolveOnce(): String = ArtifactStore.resolve(spark, dir, fp) { out =>
      builds += 1
      spark.read.parquet(s"$lake/things.parquet")
        .groupBy(col("v")).count()
        .write.mode("overwrite").parquet(out)
    }
    val d1 = resolveOnce()
    val d2 = resolveOnce() // same JVM, second consumer
    assert(builds == 1, "second resolve must reuse, not rebuild")
    assert(d1 == d2)
    assert(spark.read.parquet(d1).count() == 2)
    // cross-session reuse: a fresh resolve with no in-JVM state beyond
    // the store (the store keeps none) — only the filesystem decides
    val d3 = ArtifactStore.resolve(spark, dir, fp) { _ =>
      fail("a new session with a matching fingerprint must not rebuild")
    }
    assert(d3 == d1)
  }

  test("a changed corpus fingerprint triggers a fresh version; old stays") {
    val lake = tmp("graft_astore_lake2")
    val root = tmp("graft_astore_root2")
    writeLake(lake, Seq((1L, "a")))
    val dir = s"$root/family_y"
    val fp1 = ArtifactStore.corpusFingerprint(spark, lake, Seq("things"))
    val d1 = ArtifactStore.resolve(spark, dir, fp1) { out =>
      spark.range(1).write.mode("overwrite").parquet(out)
    }
    // regenerate the lake (new file lengths/mtimes) → new fingerprint
    Thread.sleep(5)
    writeLake(lake, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val fp2 = ArtifactStore.corpusFingerprint(spark, lake, Seq("things"))
    assert(fp1 != fp2, "fingerprint must track the file inventory")
    var rebuilt = false
    val d2 = ArtifactStore.resolve(spark, dir, fp2) { out =>
      rebuilt = true
      spark.range(3).write.mode("overwrite").parquet(out)
    }
    assert(rebuilt, "stale artifact must be rebuilt")
    assert(d1 != d2)
    // both versions complete and readable (reproducing past results)
    assert(ArtifactStore.versions(spark, dir).map(_._2) == Seq(fp1, fp2))
    assert(spark.read.parquet(d1).count() == 1)
    assert(spark.read.parquet(d2).count() == 3)
    // serving fp1 again reuses ITS version, not the newest
    val d1again = ArtifactStore.resolve(spark, dir, fp1) { _ =>
      fail("fp1's version is still committed; must not rebuild")
    }
    assert(d1again == d1)
  }

  test("a torn build (no fp stamp) is invisible and gets rebuilt") {
    val root = tmp("graft_astore_root3")
    val dir = s"$root/family_z"
    // simulate a crash: data written, fp never stamped
    spark.range(5).write.parquet(s"$dir/v=0/data")
    assert(ArtifactStore.versions(spark, dir).isEmpty,
      "a version without the fp stamp must be invisible")
    var built = false
    val d = ArtifactStore.resolve(spark, dir, "fp_abc") { out =>
      built = true
      spark.range(7).write.mode("overwrite").parquet(out)
    }
    assert(built)
    assert(spark.read.parquet(d).count() == 7)
    // the torn v=0 slot was not trusted; the rebuild took the next slot
    assert(d.contains("v=1"))
  }

  test("vacuum keeps the newest versions and sweeps staging leftovers") {
    val root = tmp("graft_astore_root4")
    val dir = s"$root/family_v"
    for (i <- 0 until 3) {
      ArtifactStore.resolve(spark, dir, s"fp_$i") { out =>
        spark.range(i + 1).write.mode("overwrite").parquet(out)
      }
    }
    // a staging leftover from a crashed racer — but FRESH by mtime, so
    // under the default grace period it reads as a possibly-live build
    new java.io.File(s"$dir/_staging_dead_123").mkdirs()
    val dropped = ArtifactStore.vacuum(spark, dir, keepLast = 1)
    assert(dropped == Seq(0L, 1L))
    assert(ArtifactStore.versions(spark, dir).map(_._1) == Seq(2L))
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, "_staging_dead_123")),
      "a fresh staging dir may be a LIVE concurrent build; default " +
        "vacuum must leave it alone")
    // past the grace period it is a crash leftover and gets swept
    ArtifactStore.vacuum(spark, dir, keepLast = 1, stagingGraceMs = 0L)
    assert(!fs.exists(new Path(dir, "_staging_dead_123")),
      "an expired staging leftover must be swept")
    assert(spark.read.parquet(s"$dir/v=2/data").count() == 3)
  }

  test("fingerprint sees deep files in a partitioned table layout") {
    val lake = tmp("graft_astore_lake6")
    import spark.implicits._
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "part").write.mode("overwrite")
        .partitionBy("part").parquet(s"$lake/things.parquet")
    write(Seq((1L, "a"), (2L, "b")))
    val fp1 = ArtifactStore.corpusFingerprint(spark, lake, Seq("things"))
    // rewrite ONE partition's leaf file with same dir structure: only a
    // recursive listing can observe the change
    Thread.sleep(5)
    Seq((9L, "a")).toDF("id", "part").write.mode("overwrite")
      .partitionBy("part").parquet(s"$lake/tmp_swap.parquet")
    val src = new java.io.File(s"$lake/tmp_swap.parquet/part=a")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val dstDir = new java.io.File(s"$lake/things.parquet/part=a")
    dstDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(_.delete())
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dstDir, src.getName).toPath)
    val fp2 = ArtifactStore.corpusFingerprint(spark, lake, Seq("things"))
    assert(fp1 != fp2,
      "a deep leaf-file rewrite must change the corpus fingerprint")
  }

  test("artifact-fed families resolve through a persistent root and reuse") {
    // every family through a persistent root named by the session conf:
    // its dir name is pinned byte for byte (persistent roots and the
    // benchmark's per-family accounting key on it), the first call
    // commits at most one version and a second call commits none
    import graft.operators.{AnnOps, DedupOps, GraphOps, Relational}
    val root = tmp("graft_astore_families")
    val lakeKey = java.lang.Integer.toHexString(Sf.hashCode)
    val thresholdKey = java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(0.6))
    val families: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      s"baskets_$lakeKey" -> (() => Relational.sharedBaskets(spark, Sf)),
      s"neardup_${lakeKey}_$thresholdKey" ->
        (() => DedupOps.sharedNearDups(spark, Sf)),
      s"recserve_$lakeKey" -> (() => Relational.sharedRecs(spark, Sf)),
      s"trade_$lakeKey" -> (() => GraphOps.sharedTradeEdges(spark, Sf)),
      s"knn_pairs_$lakeKey" -> (() => AnnOps.sharedKnnPairs(spark, Sf)),
      s"knn_graph_${lakeKey}_k5" -> (() => AnnOps.sharedKnnGraph(spark, Sf)),
      s"knn_graph_${lakeKey}_k3" -> (() => AnnOps.sharedKnnGraph(spark, Sf, 3)))
    spark.conf.set("spark.graft.artifactRoot", root)
    try {
      for ((name, serve) <- families) {
        val dir = s"$root/$name"
        val before = ArtifactStore.versions(spark, dir)
        val n1 = serve().count()
        assert(n1 > 0, s"$name: empty artifact")
        val after1 = ArtifactStore.versions(spark, dir)
        assert(after1.nonEmpty, s"$name: no committed version under $root")
        assert(after1.size - before.size <= 1,
          s"$name: first call commits at most one version")
        assert(serve().count() == n1)
        assert(ArtifactStore.versions(spark, dir) == after1,
          s"$name: second call must reuse the committed version")
      }
      val dirs = new java.io.File(root).list().toSet
      assert(dirs == families.map(_._1).toSet, s"family dirs $dirs")
    } finally spark.conf.unset("spark.graft.artifactRoot")
  }
}
