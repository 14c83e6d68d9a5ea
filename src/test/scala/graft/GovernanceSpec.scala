package graft

import org.apache.spark.sql.functions._

import graft.operators.Governance

/** Governance semantics on planted data — the cases the lake fixtures
  * don't exercise (a homogeneous group, null identifiers). */
class GovernanceSpec extends SparkSpecBase {

  test("l-diversity flags a large-but-homogeneous group k-anonymity passes") {
    import spark.implicits._
    // group A: 10 rows, 10 distinct sensitive values (fine);
    // group B: 10 rows, ONE sensitive value (homogeneity attack)
    val rows = (1 to 10).map(i => ("A", i.toLong, s"v$i")) ++
      (1 to 10).map(i => ("B", 100L + i, "same"))
    val df = rows.toDF("qi", "id", "sensitive")
    val k = Governance.kAnonymity(df, Seq("qi"), k = 10).head()
    assert(k.getAs[Boolean]("is_k_anonymous"),
      "both groups have 10 rows — k-anonymity must pass")
    val l = Governance.lDiversity(df, Seq("qi"), "sensitive", l = 3).head()
    assert(!l.getAs[Boolean]("is_l_diverse"), "group B leaks via homogeneity")
    assert(l.getAs[Long]("min_diversity") == 1L)
    assert(l.getAs[Long]("n_violating_groups") == 1L)
    assert(l.getAs[Long]("n_risky_rows") == 10L)
  }

  test("t-closeness flags a distribution-skewed group that k-anonymity AND l-diversity pass") {
    import spark.implicits._
    // group A: 90 rows, 45:45 x/y; group B: 10 rows, 9:1 — global is
    // 54:46, so TVD(A) = 0.04 (close) and TVD(B) = ½(0.36+0.36) = 0.36:
    // B is large (k ok) and 2-diverse (l ok) but distribution-SKEWED
    val rows = (1 to 90).map(i => ("A", i.toLong, if (i <= 45) "x" else "y")) ++
      (1 to 10).map(i => ("B", 100L + i, if (i <= 9) "x" else "y"))
    val df = rows.toDF("qi", "id", "sensitive")
    assert(Governance.kAnonymity(df, Seq("qi"), k = 10)
      .head().getAs[Boolean]("is_k_anonymous"))
    assert(Governance.lDiversity(df, Seq("qi"), "sensitive", l = 2)
      .head().getAs[Boolean]("is_l_diverse"))
    val t = Governance.tCloseness(df, Seq("qi"), "sensitive", t = 0.2).head()
    assert(!t.getAs[Boolean]("is_t_close"), "group B leaks via distribution skew")
    assert(t.getAs[Long]("n_violating_groups") == 1L)
    assert(t.getAs[Long]("n_risky_rows") == 10L)
    assert(math.abs(t.getAs[Double]("max_tvd") - 0.36) < 1e-9,
      s"TVD(B) must be exactly 0.36: ${t.getAs[Double]("max_tvd")}")
    // a mirrored-only frame is 0-distance by construction
    val mirrored = rows.filter(_._1 == "A").toDF("qi", "id", "sensitive")
    val t2 = Governance.tCloseness(mirrored, Seq("qi"), "sensitive", t = 0.05).head()
    assert(t2.getAs[Boolean]("is_t_close") && t2.getAs[Double]("max_tvd") == 0.0)
  }

  test("DP noisy counts: deterministic per salt, fresh noise per salt, Laplace-bounded error") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val a = Governance.dpCounts(df, Seq("grp"), eps = 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // retry-stable: the release is a pure function of (salt, group)
    val b = Governance.dpCounts(df, Seq("grp"), eps = 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b, "same salt must reproduce the same release")
    // a rotated salt draws fresh noise (the per-release requirement)
    val c = Governance.dpCounts(df, Seq("grp"), eps = 1.0, salt = "other")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a.keySet == c.keySet && a != c, "a new salt must re-draw the noise")
    // every group got noise, and Laplace(1) error beyond 20 has mass e^-20
    for ((g, noisy) <- a) {
      val truth = 250.0
      assert(noisy != truth, s"group $g released its exact count")
      assert(math.abs(noisy - truth) < 20.0,
        s"group $g noise ${noisy - truth} implausible for Laplace(1)")
    }
  }

  test("masking hides all but the tail, passes short values, preserves NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, "Customer#000000042"),
      (2L, "abc"),
      (3L, null.asInstanceOf[String])).toDF("id", "name")
    val m = Governance.mask(df, Seq("name"), keep = 4)
      .orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(m(0).get == "*".repeat(14) + "0042")
    assert(m(0).get.length == "Customer#000000042".length,
      "mask must preserve length (format-revealing by design)")
    assert(m(1).get == "abc", "short values pass through")
    assert(m(2).isEmpty, "NULL stays NULL")
  }

  test("field encryption round-trips, is join-deterministic, and actually hides plaintext") {
    import spark.implicits._
    val key = "0123456789abcdef" // 16-byte AES-128
    val df = Seq((1L, "alice"), (2L, "bob"), (3L, "alice"),
      (4L, null.asInstanceOf[String])).toDF("id", "name")
    val enc = Governance.encryptColumns(df, Seq("name"), key)
    val encRows = enc.orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(encRows.take(3).flatten.forall(c => c != null && !c.contains("alice")),
      "ciphertext must not contain plaintext")
    assert(encRows(0) == encRows(2),
      "deterministic mode: equal plaintexts must encrypt equally (joinability)")
    assert(encRows(0) != encRows(1))
    assert(encRows(3).isEmpty, "NULL stays NULL")
    // round trip restores the original column exactly
    val dec = Governance.decryptColumns(enc, Seq("name"), key)
      .orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(dec.toSeq == Seq(Some("alice"), Some("bob"), Some("alice"), None))
  }

  test("pseudonyms are deterministic, join-compatible, and null-preserving") {
    import spark.implicits._
    val a = Seq((1L, "alice"), (2L, "bob"), (3L, null.asInstanceOf[String]))
      .toDF("id", "name")
    val pa = Governance.pseudonymize(a, Seq("name"), "salt1")
    val pb = Governance.pseudonymize(a.select(col("name"), col("id")),
      Seq("name"), "salt1")
    // same salt → same token: the two pseudonymized frames still join
    val joined = pa.join(pb.select(col("name").as("name2")),
      pa("name") === col("name2"))
    assert(joined.count() == 2, "non-null pseudonyms must match across tables")
    assert(pa.filter(col("id") === 3 && col("name").isNull).count() == 1,
      "null identifiers stay null, never a shared 'unknown' token")
    // different salt → unlinkable
    val pc = Governance.pseudonymize(a, Seq("name"), "salt2")
    assert(pa.join(pc.select(col("name").as("n2")), pa("name") === col("n2"))
      .count() == 0)
  }

  test("dp sums: clipped sensitivity, deterministic per salt, fresh noise per salt") {
    import spark.implicits._
    val df = Seq(("a", 10.0), ("a", 999999.0), ("b", 5.0), ("b", -50.0))
      .toDF("grp", "v")
    val rel = Governance.dpSums(df, Seq("grp"), "v", clip = 100.0, eps = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // group a: 10 + min(100, 999999) = 110 base; noise Laplace(100)
    assert(math.abs(rel("a") - 110.0) < 100.0 * 15,
      s"released sum within plausible Laplace range: ${rel("a")}")
    // negative values clip to 0: base for b is 5
    assert(math.abs(rel("b") - 5.0) < 100.0 * 15)
    // without clipping the 999999 outlier would dominate; with it the
    // release cannot leak the outlier's magnitude
    assert(rel("a") < 10000.0, "clipping bounds the single-row influence")
    val again = Governance.dpSums(df, Seq("grp"), "v", 100.0, 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == rel, "same salt, same release — retry-stable")
    val rotated = Governance.dpSums(df, Seq("grp"), "v", 100.0, 1.0, "other")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rotated != rel, "salt rotation draws fresh noise")
  }

  test("forget: cascade erasure across snapshot tables, durable only after vacuum") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val base = java.nio.file.Files.createTempDirectory("graft_forget").toString
    val evDir = s"$base/events"; val profDir = s"$base/profiles"
    SnapshotTable.write(spark, evDir,
      Seq((Some(42L), "click"), (Some(42L), "view"), (Some(7L), "click"),
        (Option.empty[Long], "anon")).toDF("user_id", "event_type"))
    SnapshotTable.write(spark, profDir,
      Seq((42L, "x"), (9L, "y")).toDF("uid", "name"))
    val report = Governance.forget(spark,
      Seq(evDir -> "user_id", profDir -> "uid"), Seq(42L))
    assert(report.map { case (_, _, n) => n } == Seq(2L, 1L),
      s"audit counts: $report")
    // erased from the live version, everything else intact — including the
    // NULL-keyed row (isin on NULL is NULL, not a match; erasing it would
    // be collateral loss beyond the audit count)
    assert(SnapshotTable.read(spark, evDir)
      .filter(col("user_id") === 42L).count() == 0)
    assert(SnapshotTable.read(spark, evDir).count() == 2)
    assert(SnapshotTable.read(spark, evDir)
      .filter(col("user_id").isNull).count() == 1,
      "NULL-keyed row survives erasure of other subjects")
    assert(SnapshotTable.read(spark, profDir)
      .filter(col("uid") === 42L).count() == 0)
    // NOT yet durable: the pre-erasure version still holds the rows
    val v0 = SnapshotTable.versions(spark, evDir).min
    assert(SnapshotTable.read(spark, evDir, Some(v0))
      .filter(col("user_id") === 42L).count() == 2,
      "time travel still sees the subject before vacuum")
    // vacuum makes it durable
    SnapshotTable.vacuum(spark, evDir)
    val left = SnapshotTable.versions(spark, evDir)
    assert(left.size == 1, s"old versions reclaimed: $left")
    assert(SnapshotTable.read(spark, evDir)
      .filter(col("user_id") === 42L).count() == 0)
  }

  test("erasure invalidates shared artifacts: a forgotten doc never resurfaces") {
    // the cross-system guarantee: after a doc is erased from the lake and
    // its table rewritten, the fingerprint probe on every artifact
    // resolve MUST rebuild — serving the forgotten doc through a stale
    // near-dup pairs artifact would silently undo the erasure. Vacuum
    // then makes it durable by reclaiming the pre-erasure version.
    import graft.operators.{ArtifactStore, DedupOps}
    val lake = java.nio.file.Files.createTempDirectory("graft_erase_lake").toString
    val root = java.nio.file.Files.createTempDirectory("graft_erase_root").toString
    // seed with the real corpus (it contains planted near-dups)
    spark.read.parquet(s"$Sf/documents.parquet")
      .write.parquet(s"$lake/documents.parquet")
    spark.conf.set("spark.graft.artifactRoot", root)
    try {
      val pairs1 = DedupOps.sharedNearDups(spark, lake).collect()
      assert(pairs1.nonEmpty, "corpus must yield near-dup pairs")
      val victim = pairs1.head.getLong(0)
      // erase: rewrite documents.parquet without the victim (staging dir
      // + swap — the copy-on-write shape of any parquet-dir rewrite)
      val kept = spark.read.parquet(s"$lake/documents.parquet")
        .filter(col("doc_id") =!= victim)
      kept.write.parquet(s"$lake/documents_next.parquet")
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$lake/documents.parquet"), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$lake/documents_next.parquet"),
        new org.apache.hadoop.fs.Path(s"$lake/documents.parquet"))
      // the next resolve must observe the rewrite and rebuild
      val pairs2 = DedupOps.sharedNearDups(spark, lake).collect()
      assert(!pairs2.exists(r => r.getLong(0) == victim || r.getLong(1) == victim),
        "forgotten doc resurfaced through the refreshed artifact")
      val dir = ArtifactStore.familyDir(spark, lake, "neardup",
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(0.6)))
      assert(ArtifactStore.versions(spark, dir).size == 2,
        "rewrite must have forced a fresh artifact version")
      // durability: vacuum reclaims the pre-erasure version entirely
      ArtifactStore.vacuum(spark, dir, keepLast = 1, stagingGraceMs = 0L)
      assert(ArtifactStore.versions(spark, dir).size == 1,
        "pre-erasure artifact version must be reclaimed")
      assert(!DedupOps.sharedNearDups(spark, lake).collect().exists(r =>
        r.getLong(0) == victim || r.getLong(1) == victim),
        "post-vacuum serve must still exclude the forgotten doc")
    } finally spark.conf.unset("spark.graft.artifactRoot")
  }
}
