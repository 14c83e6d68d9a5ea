package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Lake
import graft.functions.VectorFunctions.cosineSimilarity

/** Similarity search over the `embeddings` table (SURVEY.md §2 items
  * 19–21): brute-force cosine top-k as the exact baseline, multi-table
  * random-hyperplane LSH as the approximate scale path, and embedding
  * column statistics.
  *
  * Scale design: brute-force broadcasts the (bounded) query set and scans
  * the corpus once — linear, no shuffle of the corpus. The LSH path
  * shuffles the corpus once keyed by (table, bucket) and only scores
  * within-bucket candidates — never an all-pairs product (asserted in
  * AnnSpec). Cosine runs in the custom codegen'd [[graft.functions.CosineSimilarity]]
  * expression, so scoring stays inside whole-stage codegen.
  */
object AnnOps {

  /** Exact top-k neighbors of each query vector. `corpus` needs
    * (vec_id, embedding); `queries` needs (q_id, q_emb). */
  def bruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("sim_raw", cosineSimilarity(col("embedding"), col("q_emb")))
    topK(scored, k)
  }

  /** Lake-bound form: vec_id < nQueries is the query set. */
  def bruteForce(spark: SparkSession, dir: String,
                 k: Int = 5, nQueries: Int = 8): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    bruteForce(emb, defaultQueries(emb, nQueries), k)
  }

  private def defaultQueries(emb: DataFrame, nQueries: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Default LSH parameters, tuned for near-uniform vectors at test scale
    * (≈10³ vectors): many small tables. These are DEFAULTS, not constants —
    * at corpus scale pass `bits = bitsForCorpus(n)` so the bucket count
    * grows with N and per-bucket work stays bounded. Clustered real-world
    * embeddings get the same recall from fewer, wider tables — both are
    * O(corpus × L) work. */
  val DefaultTables = 16
  val DefaultBitsPerTable = 4

  /** Bucket width scaled to corpus size: enough sign bits that the
    * EXPECTED bucket holds ~`targetBucketSize` vectors (2^bits buckets per
    * table). This is the knob that keeps within-bucket pair generation
    * linear-ish in N — with fixed bits it is O(N²/2^bits), quadratic. */
  def bitsForCorpus(n: Long, targetBucketSize: Int = 256): Int = {
    require(n >= 0 && targetBucketSize > 0)
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.min(30, math.max(DefaultBitsPerTable, needed))
  }

  /** One row per (vector, table) with the vector's bucket in that table:
    * bucket = table-id prefix + sign bits of the hyperplane dots, all
    * computed by the single codegen'd [[graft.functions.LshBuckets]]
    * expression (hyperplanes ride along as a reference object, keeping the
    * plan and generated code tiny). */
  private def withBuckets(df: DataFrame, dim: Int,
                          tables: Int, bits: Int): DataFrame =
    df.select(col("*"),
      explode(graft.functions.LshBuckets.buckets(
        col("embedding"), dim, tables, bits)).as("bucket"))

  /** Approximate top-k via multi-table hyperplane LSH: candidates are
    * vectors sharing any table's bucket with the query; scored with exact
    * cosine; deduped across tables before ranking. */
  def lsh(corpusIn: DataFrame, queriesIn: DataFrame,
          k: Int, dim: Int,
          tables: Int, bits: Int): DataFrame = {
    val corpus = withBuckets(corpusIn, dim, tables, bits)
    val queries = withBuckets(
      queriesIn.withColumnRenamed("q_emb", "embedding"), dim, tables, bits)
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("bucket", "q_bucket")
    // score on collision, then dedup across tables on the scalar only —
    // cosine is idempotent and far cheaper than shuffling the float arrays
    // through the dedup group-by
    val cand = corpus.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSimilarity(col("embedding"), col("q_emb")).as("sim"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim_raw"))
    topK(cand, k)
  }

  def lsh(spark: SparkSession, dir: String,
          k: Int = 5, nQueries: Int = 8, dim: Int = 64,
          tables: Int = DefaultTables,
          bits: Int = DefaultBitsPerTable): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    lsh(emb, defaultQueries(emb, nQueries), k, dim, tables, bits)
  }

  /** Per-label centroid components — the class-prototype table a
    * classifier head or ANN warm-start consumes. Elementwise mean via
    * posexplode + group-by (label, dim): ONE partial-aggregated shuffle
    * whose width is labels × dims, never vectors. Float components route
    * double → decimal(18,8) before summing, so the unordered aggregation
    * is exact and cross-engine stable. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Lake.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(round(
        sum(col("col").cast("double").cast(DecimalType(18, 8))).cast("double")
          / count(lit(1)), 6).as("mean_comp"))
      .orderBy(col("label"), col("dim"))

  /** Per-label embedding drift between two corpus slices — the monitor
    * an embedding lake runs when a new encoder version or crawl batch
    * lands: per label, the cosine between the REF and CUR slice
    * centroids (1.0 = directionally unchanged) and each slice's mean
    * vector norm (a norm shift flags encoder re-scaling even when the
    * direction holds). Slices are caller-supplied predicates; the
    * registered form splits by vec_id parity, the snapshot form feeds
    * two time-travel versions of the same table (AnnSpec).
    *
    * Determinism discipline: per-dim centroid means run as exact
    * decimal sums over double components, round at 6 dp, and the
    * cosine's dot/norm terms multiply AS DECIMALS (exact) so the only
    * float ops are the final sqrt/divide — engine-identical. Per-vector
    * norms fold the array LEFT-TO-RIGHT (ordered in both engines),
    * round at 6 dp, then sum exactly as decimals. Two bounded
    * aggregations (labels × dims, then labels); the corpus is scanned
    * twice (component explode + norm fold) — at scale a second columnar
    * scan of one array column beats shuffling the 64-wide explode a
    * second time by vec_id. */
  def embeddingDrift(emb: DataFrame, refSlice: Column,
                     curSlice: Column): DataFrame = {
    val d8 = DecimalType(18, 8)
    val sliced = emb.filter(refSlice || curSlice)
      .withColumn("slice", when(refSlice, lit(0)).otherwise(lit(1)))
    // per (label, slice, dim) centroid component, rounded once
    val comp = sliced
      .select(col("label"), col("slice"), posexplode(col("embedding")))
      .groupBy(col("label"), col("slice"), col("pos").as("dim"))
      .agg(round(sum(col("col").cast("double").cast(d8)).cast("double")
        / count(lit(1)), 6).as("mc"))
    val mm = comp.groupBy(col("label"), col("dim"))
      .agg(max(when(col("slice") === 0, col("mc"))).as("mr"),
        max(when(col("slice") === 1, col("mc"))).as("mcur"))
    val cos = mm.groupBy(col("label"))
      .agg(sum(col("mr").cast(d8) * col("mcur").cast(d8)).as("dot"),
        sum(col("mr").cast(d8) * col("mr").cast(d8)).as("na"),
        sum(col("mcur").cast(d8) * col("mcur").cast(d8)).as("nb"))
      .select(col("label"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("centroid_cos"))
    // per-slice counts + mean L2 norm (ordered per-vector fold, rounded,
    // exact decimal sum across vectors)
    val norm = round(sqrt(expr(
      "aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 6)
    val norms = sliced
      .select(col("label"), col("slice"), norm.cast(d8).as("nrm"))
      .groupBy(col("label"))
      .agg(
        sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_cur"),
        round((sum(when(col("slice") === 0, col("nrm"))).cast("double") /
          sum(when(col("slice") === 0, 1L))), 6).as("mean_norm_ref"),
        round((sum(when(col("slice") === 1, col("nrm"))).cast("double") /
          sum(when(col("slice") === 1, 1L))), 6).as("mean_norm_cur"))
    norms.join(cos, Seq("label"))
      .select(col("label"), col("n_ref"), col("n_cur"), col("centroid_cos"),
        col("mean_norm_ref"), col("mean_norm_cur"))
      .orderBy(col("label"))
  }

  /** Lake-bound registered form: REF = even vec_ids, CUR = odd — the
    * deterministic split standing in for "previous corpus version vs
    * this one" on a single-table lake (the snapshot-version pairing is
    * exercised in AnnSpec over real time-travel reads). */
  def embeddingDriftQuery(spark: SparkSession, dir: String): DataFrame =
    embeddingDrift(Lake.embeddings(spark, dir),
      pmod(col("vec_id"), lit(2)) === 0, pmod(col("vec_id"), lit(2)) === 1)

  /** Lloyd's k-means over the embedding corpus — the clustering primitive
    * IVF coarse quantizers, semantic-dedup shards, and corpus-topic maps
    * are built from, here as a REGISTERED query with an exact oracle
    * rather than a buried implementation detail (the IVF path samples
    * 2048 vectors driver-side; this runs fully distributed over the whole
    * corpus, no driver collect).
    *
    * Deterministic by construction, so DuckDB can replay it move for
    * move: seeds are the k lowest vec_ids; per-(vector, centroid) squared
    * L2 distance is a LEFT-TO-RIGHT ordered array fold (bit-identical
    * across engines, the bruteForce cosine precedent); assignment breaks
    * ties (dist ASC, cluster ASC); centroid updates route components
    * double → decimal(18,8) before the unordered sum and round means at
    * 6 dp (the [[labelCentroids]] discipline). An emptied cluster simply
    * drops out of the next round in both engines.
    *
    * Scale: each iteration is one broadcast of k 64-dim centroid arrays
    * against a corpus scan (map-only scoring, n·k rows, never an
    * all-pairs product) plus one (cluster × dim)-bounded partial-agg
    * shuffle for the update. Iterations are a fixed small constant —
    * the plan is iters repetitions of (broadcast join + bounded agg). */
  def kmeans(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    val d8 = DecimalType(18, 8)
    val x = emb.select(col("vec_id"),
        transform(col("embedding"), e => e.cast("double")).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distributed top-k by id (TakeOrdered), THEN a k-row-bounded window
    var cent = x.orderBy(col("vec_id")).limit(k)
      .withColumn("cluster",
        row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("cluster").cast("long").as("cluster"), col("x").as("c"))
    var assigned: DataFrame = null
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("cluster").asc)
    for (_ <- 1 to iters) {
      assigned = x.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("x"), col("cluster"),
          aggregate(zip_with(col("x"), col("c"),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, v) => acc + v).as("dist"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
      cent = assigned
        .select(col("cluster"), posexplode(col("x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(sum(col("col").cast(d8)).cast("double") /
          count(lit(1)), 6).as("mc"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mc")))),
          s => s.getField("mc")).as("c"))
    }
    val out = assigned
      .select(col("vec_id"), col("cluster"), round(col("dist"), 4).as("dist"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true) // materialize + release the corpus cache
    x.unpersist(false)
    out
  }

  def kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeans(Lake.embeddings(spark, dir))

  /** Filtered vector search — the metadata-predicate + ANN combination a
    * retrieval system serves ("nearest docs WHERE label IN …").
    * PRE-filtering: the predicate prunes the corpus BEFORE scoring, so
    * top-k is exact over the filtered set; post-filtering k unfiltered
    * results and hoping enough survive is the classic recall bug this
    * avoids. The predicate reaches the parquet scan (pushdown), so a
    * selective filter shrinks the scan itself, not just the scoring. */
  def filteredBruteForce(corpus: DataFrame, queries: DataFrame,
                         predicate: Column, k: Int): DataFrame =
    bruteForce(corpus.filter(predicate), queries, k)

  /** LSH variant of the same: only the filtered corpus is bucketed, so
    * selective predicates shrink the index, never the recall. */
  def filteredLsh(corpus: DataFrame, queries: DataFrame, predicate: Column,
                  k: Int, dim: Int,
                  tables: Int = DefaultTables,
                  bits: Int = DefaultBitsPerTable): DataFrame =
    lsh(corpus.filter(predicate), queries, k, dim, tables, bits)

  /** Lake-bound driver form: neighbors among labels {0,1,2} only. */
  def filteredAnn(spark: SparkSession, dir: String,
                  k: Int = 5, nQueries: Int = 8): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    filteredBruteForce(emb, defaultQueries(emb, nQueries),
      col("label").isin(0, 1, 2), k)
  }

  /** IVF-style ANN: a coarse quantizer (sampled centroids) partitions the
    * corpus; queries probe their `nProbes` nearest centroids and score only
    * those cells with exact cosine. Unlike hyperplane LSH this adapts to
    * the data distribution (centroids are corpus points), and the corpus
    * shuffles once, keyed by cell id.
    *
    * Centroid choice is a deterministic stride sample — at 100 TB swap in
    * a k-means pass over a sample; the query/cell plumbing is unchanged. */
  def ivf(emb: DataFrame, queriesIn: DataFrame, k: Int,
          nCentroids: Int, nProbes: Int): DataFrame =
    ivfWithCentroids(emb, queriesIn, strideCentroids(emb, nCentroids), k, nProbes)

  /** Deterministic stride centroid sample, disjoint from the query-id
    * range; the orderBy pins WHICH stride hits survive the limit (limit
    * without sort is partitioning-dependent). Shared by the inline
    * [[ivf]] path and [[AnnIndex]]'s oracle-parity build. */
  def strideCentroids(emb: DataFrame, nCentroids: Int): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(31)) === 9)
      .orderBy(col("vec_id"))
      .limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** K-means-trained coarse quantizer: Lloyd's iterations over a bounded
    * sample, run driver-side (the sample is bounded regardless of corpus
    * size — the standard way IVF quantizers are trained), then the same
    * cell-probing plumbing as [[ivf]]. Produces tighter cells than stride
    * sampling on clustered data. */
  def ivfKmeans(emb: DataFrame, queriesIn: DataFrame, k: Int,
                nCentroids: Int, nProbes: Int,
                sampleN: Int = 2048, iters: Int = 5): DataFrame = {
    val cents = kmeansCentroids(emb, nCentroids, sampleN, iters)
    // empty corpus: degrade exactly like the stride path (empty result)
    if (cents.isEmpty) return ivf(emb, queriesIn, k, nCentroids, nProbes)
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = cents.toDF("c_id", "c_emb")
    ivfWithCentroids(emb, queriesIn, centroids, k, nProbes)
  }

  /** Lloyd's iterations over a bounded driver-side sample — the quantizer
    * training [[ivfKmeans]] runs inline and [[AnnIndex]] persists. Empty
    * corpus → empty result. */
  def kmeansCentroids(emb: DataFrame, nCentroids: Int,
                      sampleN: Int = 2048, iters: Int = 5): Seq[(Long, Array[Float])] = {
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) return Seq.empty
    val dim = sample.head.length
    // init: evenly strided sample points
    var cents = Array.tabulate(nCentroids)(i =>
      sample((i.toLong * sample.length / nCentroids).toInt).clone())
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb); if (den == 0) 0 else d / den
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCentroids)(new Array[Double](dim))
      val counts = new Array[Int](nCentroids)
      for (v <- sample) {
        var best = 0; var bestSim = Double.MinValue
        for (c <- 0 until nCentroids) {
          val s = cos(v, cents(c)); if (s > bestSim) { bestSim = s; best = c }
        }
        counts(best) += 1
        var i = 0; while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(nCentroids)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat))
    }
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
  }

  /** DISTRIBUTED quantizer training — the 100 TB path the driver-side
    * [[kmeansCentroids]] recipe documents: MLlib k-means over the FULL
    * corpus (k-means|| init, seeded), executed as Spark aggregations —
    * no bounded driver sample, no single-machine memory ceiling. Returns
    * the same (c_id, c_emb) centroid frame [[ivfWithCentroids]] and
    * [[AnnIndex.buildFromCentroids]] consume, so the cell-probing
    * plumbing and the index sidecar are identical whichever trainer ran.
    * (At oracle SF the sampled trainer is cheaper and equally good; this
    * path exists for corpora where 2048 samples no longer describe the
    * distribution.) */
  def kmeansCentroidsDistributed(emb: DataFrame, nCentroids: Int,
                                 iters: Int = 5, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    // empty corpus degrades to an empty centroid frame (downstream joins
    // then yield empty results), like the stride/sampled paths — MLlib
    // would otherwise throw out of fit()
    if (emb.isEmpty) return Seq.empty[(Long, Array[Float])].toDF("c_id", "c_emb")
    val feat = emb.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans()
      .setK(nCentroids).setMaxIter(iters).setSeed(seed)
      .fit(feat)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toArray.map(_.toFloat)) }
      .toDF("c_id", "c_emb")
  }

  /** IVF search with the distributed-trained quantizer. */
  def ivfKmeansDistributed(emb: DataFrame, queriesIn: DataFrame, k: Int,
                           nCentroids: Int, nProbes: Int,
                           iters: Int = 5, seed: Long = 42L): DataFrame =
    ivfWithCentroids(emb, queriesIn,
      kmeansCentroidsDistributed(emb, nCentroids, iters, seed), k, nProbes)

  /** Top principal component by distributed POWER ITERATION — the
    * oracle-checkable face of the PCA family ([[pcaModel]] trains the
    * full MLlib model; its eigensolver isn't replayable in SQL, this
    * is): the d×d covariance is ONE corpus aggregation (terms rounded
    * to 8 dp and decimal-summed, so the unordered reduce is exact;
    * width d² bounded, map-side combinable — the Gram-matrix pattern),
    * then `iters` fixed matrix-vector steps over the d²-row matrix with
    * every component re-rounded at 8 dp, keeping all engines bit-equal
    * at every step. Deterministic start v₀ = 1/√d; the covariance is
    * localCheckpointed so iterations never re-touch the corpus.
    *
    * Emits per-dim loadings plus the eigenvalue estimate ‖G·v‖ and its
    * share of total variance (trace) — the "how much does one axis
    * explain" diagnostic that decides whether Matryoshka-style
    * truncation is safe. Scale: one corpus pass; everything after is
    * d²-bounded. */
  def pcaPower(emb: DataFrame, iters: Int = 8): DataFrame = {
    val d8 = DecimalType(18, 8)
    // fan the narrow vector frame out to core parallelism BEFORE the
    // O(n·d²) upper-triangle explode: a one-file corpus scans as one
    // task, which made the whole Gram pass a single 3.9 s task at
    // local[32] (r14 profile); identity at scale (Par scaladoc)
    val x = Par.fanOut(
      emb.select(transform(col("embedding"), e => e.cast("double")).as("x")))
    val mu = x.select(posexplode(col("x")))
      .groupBy(col("pos").as("i"))
      .agg(round(sum(col("col").cast(d8)).cast("double") /
        count(lit(1)), 6).as("mu"))
    // double→decimal CASTS (not round()) everywhere: the cast's rounding
    // is the one cross-engine-proven primitive (labelCentroids/kmeans);
    // the iteration itself then runs in exact decimal arithmetic
    // symmetry: generate only the upper triangle j ≥ i (slice starts the
    // inner explode at i), then mirror — the explode and the decimal
    // hash-aggregate each do half the work, and the mirrored sums are
    // BIT-IDENTICAL (same terms, commutative product, same decimal adds),
    // so the oracle's full-matrix replay still hash-matches
    val upper = x.select(col("x"), posexplode(col("x")))
      .select(col("x"), col("pos").as("i"), col("col").as("xi"))
      .select(col("i"), col("xi"),
        posexplode(slice(col("x"), col("i") + 1, size(col("x")) - col("i"))))
      .select(col("i"), (col("i") + col("pos")).as("j"),
        (col("xi") * col("col")).cast(d8).as("t"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("t")).as("sxy"), count(lit(1)).as("n"))
      .localCheckpoint(true) // two consumers: itself + the mirror
    val moments = upper.unionAll(
      upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("sxy"), col("n")))
    val g = moments
      .join(mu.select(col("i"), col("mu").as("mi")), "i")
      .join(mu.select(col("i").as("j"), col("mu").as("mj")), "j")
      .select(col("i"), col("j"),
        (col("sxy").cast("double") / col("n") -
          col("mi") * col("mj")).cast(d8).as("g"))
      .localCheckpoint(true) // iterations must never re-touch the corpus
    val dd = mu.agg(count(lit(1)).cast("double").as("d"))
    val wAll = Window.partitionBy() // d-row frame: bounded single partition
    var v = mu.select(col("i")).crossJoin(broadcast(dd))
      .select(col("i"), (lit(1.0) / sqrt(col("d"))).cast(d8).as("v"),
        lit(null).cast(DecimalType(38, 8)).as("ss"))
    for (_ <- 1 to iters) {
      // product in DOUBLE space: exact-decimal products hit exact 8-dp
      // ties whose rounding mode differs across engines, while a double
      // is never exactly on a decimal tie — so the cast is unambiguous.
      // The norm rides a window over the d-row frame and the ss column
      // stays on the checkpointed vector: ONE eager materialization per
      // step (the old separate norm checkpoint doubled the per-step job
      // count, which dominated wall time — the matrices are tiny, the
      // scheduler round-trips were not). Squares in DOUBLE: decimal²
      // would overflow precision 38 with engine-specific scale loss.
      v = g.join(v.select(col("i").as("j"), col("v")), "j")
        .select(col("i"), (col("g").cast("double") * col("v").cast("double"))
          .cast(d8).as("t"))
        .groupBy(col("i")).agg(sum(col("t")).as("w"))
        .withColumn("ss",
          sum((col("w").cast("double") * col("w").cast("double"))
            .cast(d8)).over(wAll))
        .select(col("i"),
          (col("w").cast("double") / sqrt(col("ss").cast("double")))
            .cast(d8).as("v"),
          col("ss"))
    }
    val trace = g.agg(
      sum(when(col("i") === col("j"), col("g"))).cast("double").as("trace"))
    v.crossJoin(broadcast(trace))
      .select(col("i").cast("long").as("dim"),
        round(col("v"), 6).cast("double").as("loading"),
        round(sqrt(col("ss").cast("double")), 6).as("eigval"),
        round(sqrt(col("ss").cast("double")) / col("trace"), 6)
          .as("var_share"))
      .orderBy(col("dim"))
  }

  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaPower(Lake.embeddings(spark, dir))

  /** Distributed PCA trainer for embedding-dimension reduction — the
    * standard pre-ANN compression when vectors carry correlated dims:
    * MLlib PCA over the FULL corpus (covariance accumulated as Spark
    * aggregations, eigendecomposition on the driver's dim × dim matrix —
    * bounded by DIMENSION, not corpus). Pair with [[pcaProject]];
    * explained-variance-vs-k is the go/no-go metric (AnnSpec asserts a
    * planted low-rank corpus compresses 4× with ≥90% variance and intact
    * neighbors). */
  def pcaModel(emb: DataFrame,
               dims: Int): org.apache.spark.ml.feature.PCAModel = {
    import org.apache.spark.ml.functions.array_to_vector
    new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("proj").setK(dims)
      .fit(emb.select(
        array_to_vector(col("embedding").cast("array<double>")).as("features")))
  }

  /** Project embeddings through a trained [[pcaModel]] into the same
    * (vec_id, embedding) shape every ANN operator consumes — reduced
    * vectors drop into brute-force/LSH/IVF/quantization unchanged. One
    * map stage (a broadcast matrix multiply per row). */
  def pcaProject(emb: DataFrame,
                 model: org.apache.spark.ml.feature.PCAModel): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    model.transform(emb.select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("features")))
      .select(col("vec_id"),
        vector_to_array(col("proj")).cast("array<float>").as("embedding"))
  }

  /** Nearest-`probes` centroid assignment; the per-key window frame is
    * nCentroids rows (bounded), so the rank never sorts more than the
    * centroid count per vector at any scale. */
  private def assignCells(df: DataFrame, idCol: String, embCol: String,
                          centroids: DataFrame, probes: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("c_sim").desc, col("c_id"))
    df.join(broadcast(centroids))
      .withColumn("c_sim", cosineSimilarity(col(embCol), col("c_emb")))
      .withColumn("c_rank", row_number().over(w))
      .filter(col("c_rank") <= probes)
      .drop("c_emb", "c_sim", "c_rank")
  }

  private[operators] def ivfWithCentroids(emb: DataFrame, queriesIn: DataFrame,
                               centroids: DataFrame, k: Int,
                               nProbes: Int): DataFrame = {
    // Rename each side's cell id: both descend from the same broadcast
    // centroids frame, so c_id === c_id would resolve to one attribute
    // (the "trivially true predicate" self-join hazard).
    val corpusCells = assignCells(emb, "vec_id", "embedding", centroids, probes = 1)
      .withColumnRenamed("c_id", "cell")
    val queryCells = assignCells(queriesIn, "q_id", "q_emb", centroids, probes = nProbes)
      .withColumnRenamed("c_id", "q_cell")
    val cand = corpusCells.join(broadcast(queryCells),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSimilarity(col("embedding"), col("q_emb")).as("sim"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim_raw"))
    topK(cand, k)
  }

  def ivf(spark: SparkSession, dir: String,
          k: Int = 5, nQueries: Int = 8,
          nCentroids: Int = 16, nProbes: Int = 6): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    ivf(emb, defaultQueries(emb, nQueries), k, nCentroids, nProbes)
  }

  /** All within-bucket vector pairs with their exact cosine — the
    * candidate generator for embedding-based near-dedup. Self-join is
    * equi-keyed on the LSH bucket; pairs dedup across tables on the
    * scalar similarity.
    *
    * Hot-bucket guard: within-bucket pairing is quadratic IN THE BUCKET, so
    * a degenerate bucket (e.g. a corpus of near-identical boilerplate
    * vectors all hashing together) is dropped once it exceeds
    * `maxBucketSize` rows. The drop is never silent: run
    * [[oversizedBuckets]] — the audit query over the same bucketing — to
    * see exactly which buckets were skipped and how big they were.
    * Near-identical content inside a dropped hot bucket is exact-dup
    * territory; route it through hash dedup, don't pair it. */
  def bucketedPairs(emb: DataFrame, dim: Int,
                    tables: Int = DefaultTables,
                    bits: Int = DefaultBitsPerTable,
                    maxBucketSize: Int = 4096): DataFrame = {
    val capped = cappedBuckets(emb, dim, tables, bits, maxBucketSize)
    val left = capped.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("bucket")).alias("bl")
    val right = capped.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("bucket")).alias("br")
    left.join(right,
        col("bl.bucket") === col("br.bucket") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineSimilarity(col("emb_a"), col("emb_b")).as("sim"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("sim")).as("cos_sim"))
  }

  /** k-nearest-neighbor GRAPH over the corpus: every vector's top-k
    * neighbors among its LSH-bucket candidates — the all-vectors twin of
    * the query-set [[lsh]] search, and the input shape graph clustering /
    * diversity sampling / kNN-classification consume. Reuses
    * [[bucketedPairs]] (one corpus shuffle keyed by bucket, hot-bucket cap,
    * exact cosine on candidates), symmetrizes the undirected pairs, and
    * ranks per source vector — the per-key window frame is bounded by the
    * candidate count, and output is ≤ k rows per vector. Never all-pairs:
    * a vector sharing no bucket contributes nothing (and isolated vectors
    * emit no rows — kNN over LSH candidates is approximate by design;
    * recall is asserted against brute force in AnnSpec). */
  def knnGraph(emb: DataFrame, k: Int, dim: Int,
               tables: Int = DefaultTables,
               bits: Int = DefaultBitsPerTable,
               maxBucketSize: Int = 4096): DataFrame = {
    // the symmetrize-union consumes the pair subplan TWICE — persist the
    // (candidate-bounded) pair frame so bucketing + scoring runs once,
    // release it as soon as the bounded graph materializes (the
    // setSimilarityJoin cache discipline)
    val pairs = bucketedPairs(emb, dim, tables, bits, maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = knnFromPairs(pairs, k).localCheckpoint(true)
    pairs.unpersist(false)
    out
  }

  /** Rank an already-materialized candidate-pairs frame (vec_a, vec_b,
    * cos_sim) into the k-NN graph: symmetrize the undirected pairs and
    * keep each source's top k. The cheap half of [[knnGraph]], split out
    * so the shared [[sharedKnnPairs]] can feed it without re-running
    * candidate generation. */
  def knnFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    val both = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"),
        col("cos_sim").as("sim_raw"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst"),
        col("cos_sim").as("sim_raw")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim_raw").desc, col("dst"))
    both.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("src"), col("dst"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("src"), col("rnk"))
  }

  /** Shared bucketed candidate pairs (`vec_a < vec_b`, exact cosine) of
    * the embeddings table, definitionally identical to the inline
    * [[bucketedPairs]] under the same layout: one corpus shuffle keyed by
    * LSH bucket + exact cosine is the graph family's expensive piece, and
    * the pairs are its LOWEST shared form — hard negatives need the label
    * filter BEFORE ranking. */
  def sharedKnnPairs(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.shared(spark, dir, "knn_pairs", Seq("embeddings")) {
      bucketedPairs(Lake.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")), dim = 64)
    }

  /** Shared RANKED k-NN graph, derived from [[sharedKnnPairs]]: the
    * symmetrize + per-source top-k window was one ~10.7 s / 96.9 MB
    * shuffle job at sf1 repeated identically by every graph-family
    * consumer, so it is materialized once per (corpus, k). Consumers
    * that need the pre-ranking candidates keep reading the pairs. */
  def sharedKnnGraph(spark: SparkSession, dir: String,
                     k: Int = 5): DataFrame =
    ArtifactStore.shared(spark, dir, "knn_graph", Seq("embeddings"), s"k$k") {
      knnFromPairs(sharedKnnPairs(spark, dir), k)
    }

  /** Lake-bound registered form: 5-NN graph over the embeddings table,
    * ranked from [[sharedKnnPairs]] on every call — the graph is this
    * query's declared result, so it never reads [[sharedKnnGraph]]. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnFromPairs(sharedKnnPairs(spark, dir), k = 5)

  /** HNSW-class GRAPH ANN: greedy beam search NAVIGATING the kNN graph
    * instead of hashing into buckets — the third ANN family beside
    * LSH and IVF/PQ. Per query: start from `nEntries` fixed entry
    * points, then for `rounds` iterations expand the current beam along
    * the graph's out-edges, score every candidate by exact cosine, and
    * keep the best `beam` (sim DESC, id tie-break). The final answer is
    * the beam's top k. This is single-layer HNSW search semantics (the
    * hierarchy is an entry-point accelerator; fixed entries + more
    * rounds buy the same reachability on corpus-scale diameters).
    *
    * Scale shape: the beam frame is (queries × beam) rows — broadcast
    * on every expansion, so each round is one broadcast-semi pass over
    * the edge list and one over the embeddings; the corpus is never
    * shuffled and no all-pairs product exists. Rounds are a driver loop
    * of tiny jobs (the SCD2-stream discipline); per-round
    * localCheckpoint truncates the growing lineage. The navigable graph
    * itself rides the shared [[sharedKnnGraph]] — build once per
    * corpus version, search forever.
    *
    * Determinism: expansion set and beam selection derive from exact
    * ids and raw cosine with id tie-breaks — the DuckDB oracle replays
    * the identical rounds as chained CTEs and hash-matches. */
  def graphSearch(spark: SparkSession, dir: String, k: Int = 5,
                  beam: Int = 16, rounds: Int = 4, nQueries: Int = 8,
                  graphK: Int = 5, nEntries: Int = 8): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val queries = defaultQueries(emb, nQueries)
    val edges = sharedKnnGraph(spark, dir, graphK)
      .select(col("src"), col("dst"))
      .localCheckpoint(true) // every round re-reads it; materialize once
    // deterministic entry points: the nEntries smallest non-query ids
    val entries = emb.filter(col("vec_id") >= nQueries)
      .orderBy(col("vec_id")).limit(nEntries)
      .select(col("vec_id").as("cand_id"))
    var beamDf = queries.select(col("q_id")).crossJoin(broadcast(entries))
    for (_ <- 1 to rounds) {
      val expanded = edges
        .join(broadcast(beamDf.select(col("q_id"), col("cand_id"))),
          col("cand_id") === col("src"))
        .select(col("q_id"), col("dst").as("cand_id"))
        .union(beamDf.select(col("q_id"), col("cand_id")))
        .distinct()
        .filter(col("cand_id") =!= col("q_id"))
      val scored = emb
        .join(broadcast(expanded), col("vec_id") === col("cand_id"))
        .join(broadcast(queries), Seq("q_id"))
        .withColumn("sim_raw", cosineSimilarity(col("embedding"), col("q_emb")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim_raw").desc, col("cand_id"))
      beamDf = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= beam)
        .select(col("q_id"), col("cand_id"), col("sim_raw"))
        .localCheckpoint(true)
    }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_raw").desc, col("cand_id"))
    beamDf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("cand_id").as("neighbor_id"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Hard-negative mining for contrastive training: each vector's top-k
    * most similar neighbors that carry a DIFFERENT label — the pairs a
    * contrastive loss learns most from (near in embedding space, apart in
    * label space). Same bucketed candidate generation as [[knnGraph]]
    * with the label filter applied BEFORE ranking, so the k slots go to
    * cross-label neighbors, not to whatever same-label vectors crowd the
    * top. Labels ride the bucketed pairs via two bounded id→label joins. */
  def hardNegatives(emb: DataFrame, k: Int, dim: Int,
                    tables: Int = DefaultTables,
                    bits: Int = DefaultBitsPerTable,
                    maxBucketSize: Int = 4096): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val pairs = bucketedPairs(emb.select(col("vec_id"), col("embedding")),
        dim, tables, bits, maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = hardNegativesFromPairs(pairs, labels, k).localCheckpoint(true)
    pairs.unpersist(false)
    out
  }

  /** The label-filtered ranking half of [[hardNegatives]], over an
    * already-materialized pairs frame — the label filter applies to the
    * CANDIDATES (before ranking), which is why the shared artifact is
    * the pairs frame and not the ranked 5-NN graph: the graph would have
    * already discarded the cross-label neighbors this query wants. */
  def hardNegativesFromPairs(pairs: DataFrame, labels: DataFrame,
                             k: Int): DataFrame = {
    val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"),
        col("cos_sim").as("sim_raw"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst"),
        col("cos_sim").as("sim_raw")))
      .join(labels.select(col("vec_id").as("src"), col("label").as("src_label")), "src")
      .join(labels.select(col("vec_id").as("dst"), col("label").as("dst_label")), "dst")
      .filter(col("src_label") =!= col("dst_label"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim_raw").desc, col("dst"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("src"), col("src_label"), col("dst"), col("dst_label"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("src"), col("rnk"))
  }

  /** Lake-bound registered form: 3 hard negatives per vector, candidates
    * from [[sharedKnnPairs]]. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesFromPairs(sharedKnnPairs(spark, dir),
      Lake.embeddings(spark, dir).select(col("vec_id"), col("label")), k = 3)

  /** Bucketed rows with oversized buckets filtered out. The per-bucket
    * count is a window over the same (bucket) key the downstream join
    * shuffles on, so the exchange is shared — no extra corpus pass. */
  private def cappedBuckets(emb: DataFrame, dim: Int, tables: Int,
                            bits: Int, maxBucketSize: Int): DataFrame = {
    require(maxBucketSize > 1, "maxBucketSize must allow at least one pair")
    withBuckets(emb, dim, tables, bits)
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")
  }

  /** Audit query for [[bucketedPairs]]'s hot-bucket guard: every bucket
    * over `maxBucketSize` with its size — what the cap dropped and why. */
  def oversizedBuckets(emb: DataFrame, dim: Int,
                       tables: Int = DefaultTables,
                       bits: Int = DefaultBitsPerTable,
                       maxBucketSize: Int = 4096): DataFrame =
    withBuckets(emb, dim, tables, bits)
      .groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
      .orderBy(col("bucket_size").desc, col("bucket"))

  /** Per-dimension affine int8 quantization parameters: lo (= min),
    * scale = (max − min)/255, so x ≈ lo + scale·q with q ∈ [0, 255].
    * ONE pass: posexplode + per-dim min/max (64 groups — the dimension
    * count, not the corpus). At 100 TB this is the calibration scan of an
    * int8 ANN index: 4× smaller vectors, 4× more of the corpus resident
    * per executor; [[QuantizeSpec recall assertions]] bound the accuracy
    * cost. Degenerate dims (max == min) get scale 0 and dequantize to the
    * constant — guarded in [[quantize]]. */
  def quantParams(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).cast("double").as("lo"), max(col("v")).cast("double").as("hi"))
      .select(col("dim").cast("long").as("dim"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
        round((col("hi") - col("lo")) / 255.0, 8).as("scale"))
      .orderBy(col("dim"))

  def quantParams(spark: SparkSession, dir: String): DataFrame =
    quantParams(Lake.embeddings(spark, dir))

  /** Int8-quantized embeddings: per-dim affine codes from [[quantParams]].
    * The (64-row) parameter table rides along as one broadcast array
    * column zipped against each vector — no per-dim join, no driver
    * collect; the corpus streams through one map stage. Output keeps the
    * original for side-by-side evaluation; drop it in production. */
  def quantize(emb: DataFrame): DataFrame = {
    val params = quantParams(emb)
      .agg(sort_array(collect_list(struct(col("dim"), col("lo"), col("scale"))))
        .as("qp"))
    emb.join(broadcast(params))
      .select(col("vec_id"), col("embedding"),
        zip_with(col("embedding"), col("qp"), (x, p) =>
          when(p.getField("scale") === 0d, lit(0))
            .otherwise(round((x.cast("double") - p.getField("lo")) / p.getField("scale"))
              .cast("int"))).as("codes"),
        col("qp"))
  }

  /** Dequantized vectors (lo + scale·code) for accuracy evaluation. */
  def dequantize(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"),
      zip_with(col("codes"), col("qp"), (c, p) =>
        (p.getField("lo") + p.getField("scale") * c.cast("double"))
          .cast("float")).as("embedding"))

  /** ADC (asymmetric-distance) IVF search — the memory-bound 100 TB
    * serving shape: the probed corpus lives as int8 codes (4× smaller, so
    * 4× more corpus resident per executor), queries stay full-precision.
    * Probed-cell candidates are scored against the DEQUANTIZED codes
    * entirely in doubles (approximation error bounded by the quantization
    * step; all-double arithmetic so any engine reproduces the ranking
    * bit-for-bit), the top `rerank` per query are rescored with the EXACT
    * full-precision cosine from the original vectors (a bounded
    * point-lookup join — rerank × queries rows), and the final top-k
    * comes from the exact scores. Composes [[quantize]]'s calibration with
    * [[ivf]]'s cell plumbing; [[AnnIndex]] persists both artifacts. */
  def ivfAdc(emb: DataFrame, queriesIn: DataFrame, k: Int,
             nCentroids: Int, nProbes: Int, rerank: Int): DataFrame =
    ivfAdcWithArtifacts(emb,
      quantize(emb).select(col("vec_id"), col("codes"), col("qp")),
      queriesIn, strideCentroids(emb, nCentroids), k, nProbes, rerank)

  /** The search itself over PRE-BUILT artifacts (codes + calibration and
    * centroids) — [[ivfAdc]] builds them inline; [[AnnIndex.searchIvfAdc]]
    * loads them from the versioned sidecar. */
  private[operators] def ivfAdcWithArtifacts(emb: DataFrame, coded: DataFrame,
                                             queriesIn: DataFrame,
                                             centroids: DataFrame, k: Int,
                                             nProbes: Int,
                                             rerank: Int): DataFrame = {
    // cell assignment from the ORIGINAL vectors — the index-build step; at
    // serving time only the codes are resident. Dequantize per CORPUS row
    // (codes + global calibration) BEFORE the candidate join fans it out.
    val corpusDe = assignCells(emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids, probes = 1)
      .withColumnRenamed("c_id", "cell")
      .drop("embedding")
      .join(coded, "vec_id")
      .withColumn("de", zip_with(col("codes"), col("qp"), (c, p) =>
        when(p.getField("scale") === 0d, p.getField("lo"))
          .otherwise(p.getField("lo") + p.getField("scale") * c.cast("double"))))
      .select(col("vec_id"), col("cell"), col("de"))
    adcSearch(corpusDe, emb, queriesIn, centroids, k, nProbes, rerank)
  }

  /** Shared ADC tail: score probed-cell candidates against a precomputed
    * dequantized-corpus frame (vec_id, cell, de: array&lt;double&gt;) in
    * all-double arithmetic, shortlist the top `rerank` per query, rescore
    * the shortlist with the EXACT full-precision cosine, return the final
    * top-k. Serves both the global-calibration [[ivfAdcWithArtifacts]] and
    * the per-cell residual [[ivfAdcResidualWithArtifacts]]. */
  private def adcSearch(corpusDe: DataFrame, emb: DataFrame,
                        queriesIn: DataFrame, centroids: DataFrame,
                        k: Int, nProbes: Int, rerank: Int): DataFrame = {
    val queryCells = assignCells(queriesIn, "q_id", "q_emb", centroids,
        probes = nProbes)
      .withColumnRenamed("c_id", "q_cell")
    val adc = corpusDe.join(broadcast(queryCells),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("qd", col("q_emb").cast("array<double>"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qd, de, (a, b) -> a * b), 0d, (acc, x) -> acc + x)"))
      .withColumn("nq", expr(
        "aggregate(transform(qd, x -> x * x), 0d, (acc, x) -> acc + x)"))
      .withColumn("nd", expr(
        "aggregate(transform(de, x -> x * x), 0d, (acc, x) -> acc + x)"))
      .withColumn("adc_sim",
        when(col("nq") === 0d || col("nd") === 0d, lit(0d))
          .otherwise(col("dot") / (sqrt(col("nq")) * sqrt(col("nd")))))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("adc_sim")).as("adc_sim"))
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
    val shortlist = adc.withColumn("ar", row_number().over(rw))
      .filter(col("ar") <= rerank)
      .select(col("q_id"), col("vec_id"))
    // exact rescore: bounded point-lookups of the original vectors
    val rescored = shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queriesIn), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineSimilarity(col("embedding"), col("q_emb")).as("sim_raw"))
    topK(rescored, k)
  }

  /** Per-CELL residual int8 calibration — the residual-quantization step
    * of IVF-PQ: codes cover r = x − centroid(cell) instead of x, with
    * lo/scale calibrated per (cell, dim). Because each cell's per-dim
    * value range is a subset of the global range, every per-cell step is
    * ≤ the global [[quantParams]] step (asserted in AnnSpec), so the same
    * 8 bits carry strictly finer resolution — the reason FAISS-style
    * indexes quantize residuals. (Scalar per-dim codebooks rather than
    * product sub-codebooks: same memory, deterministic, and expressible
    * in the DuckDB oracle.) Output is BOUNDED: nCells × dim rows. */
  def residualQuantParams(emb: DataFrame, centroids: DataFrame): DataFrame =
    residualFrame(emb, centroids)
      .select(col("cell"), posexplode(col("res")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(min(col("v")).as("lo_raw"), max(col("v")).as("hi_raw"))
      .select(col("cell"), col("dim").cast("long").as("dim"),
        round(col("lo_raw"), 6).as("lo"), round(col("hi_raw"), 6).as("hi"),
        round((col("hi_raw") - col("lo_raw")) / 255.0, 8).as("scale"))
      .orderBy(col("cell"), col("dim"))

  /** Residuals vs the assigned (probes = 1) cell, in doubles: one corpus
    * map stage plus a broadcast of the bounded centroid frame. */
  private def residualFrame(emb: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids, probes = 1)
      .withColumnRenamed("c_id", "cell")
      .join(broadcast(centroids.select(col("c_id").as("cell"),
        col("c_emb").cast("array<double>").as("cd"))), "cell")
      .select(col("vec_id"), col("cell"), col("cd"),
        zip_with(col("embedding").cast("array<double>"), col("cd"),
          (x, c) => x - c).as("res"))

  /** IVF-PQ-shaped ADC search: per-cell residual int8 codes, full-precision
    * queries, exact top-`rerank` rescore — [[ivfAdc]] with the residual
    * quantizer in place of the global one. */
  def ivfAdcResidual(emb: DataFrame, queriesIn: DataFrame, k: Int,
                     nCentroids: Int, nProbes: Int, rerank: Int): DataFrame = {
    val centroids = strideCentroids(emb, nCentroids)
    ivfAdcResidualWithArtifacts(emb, queriesIn, centroids,
      residualQuantParams(emb, centroids), k, nProbes, rerank)
  }

  /** Residual-ADC search over PRE-BUILT artifacts (centroids + per-cell
    * calibration) — [[ivfAdcResidual]] builds them inline;
    * [[AnnIndex.searchIvfAdcResidual]] loads them from the sidecar.
    * Dequantized value = (lo + scale·code) + centroid component, per cell,
    * all in doubles and in array order — engine- and oracle-identical. */
  private[operators] def ivfAdcResidualWithArtifacts(emb: DataFrame,
      queriesIn: DataFrame, centroids: DataFrame, residualCal: DataFrame,
      k: Int, nProbes: Int, rerank: Int): DataFrame = {
    // per-cell calibration rides as one sorted struct array per cell —
    // a broadcast join on the (bounded) cell key, no per-dim join
    val rql = residualCal.groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("dim"), col("lo"), col("scale"))))
        .as("rqp"))
    val corpusDe = residualFrame(emb, centroids)
      .join(broadcast(rql), "cell")
      .withColumn("codes", zip_with(col("res"), col("rqp"), (x, p) =>
        when(p.getField("scale") === 0d, lit(0))
          .otherwise(round((x - p.getField("lo")) / p.getField("scale"))
            .cast("int"))))
      .withColumn("de_res", zip_with(col("codes"), col("rqp"), (c, p) =>
        when(p.getField("scale") === 0d, p.getField("lo"))
          .otherwise(p.getField("lo") + p.getField("scale") * c.cast("double"))))
      .withColumn("de", zip_with(col("de_res"), col("cd"), (r, c) => r + c))
      .select(col("vec_id"), col("cell"), col("de"))
    adcSearch(corpusDe, emb, queriesIn, centroids, k, nProbes, rerank)
  }

  /** Lake-bound registered-query form of [[ivfAdcResidual]]. */
  def ivfAdcResidual(spark: SparkSession, dir: String,
                     k: Int = 5, nQueries: Int = 8, nCentroids: Int = 16,
                     nProbes: Int = 6, rerank: Int = 20): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    ivfAdcResidual(emb, defaultQueries(emb, nQueries), k, nCentroids,
      nProbes, rerank)
  }

  /** Lake-bound registered-query form of [[ivfAdc]]. */
  def ivfAdc(spark: SparkSession, dir: String,
             k: Int = 5, nQueries: Int = 8, nCentroids: Int = 16,
             nProbes: Int = 6, rerank: Int = 20): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    ivfAdc(emb, defaultQueries(emb, nQueries), k, nCentroids, nProbes, rerank)
  }

  /** Collection-function battery over the embedding arrays: size, extrema,
    * slices, element tests — the array-column surface a lake user touches
    * daily, all codegen'd builtins. */
  def arrayOps(spark: SparkSession, dir: String): DataFrame =
    Lake.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(array_max(col("embedding")).cast("double"), 4).as("max_comp"),
        round(array_min(col("embedding")).cast("double"), 4).as("min_comp"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_comp"),
        round(element_at(col("embedding"), -1).cast("double"), 4).as("last_comp"),
        size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_positive"))
      .orderBy(col("vec_id"))

  /** Per-label embedding statistics: count, mean L2 norm, mean first
    * component. Norms go through decimal so the mean is order-independent
    * and oracle-exact (SURVEY.md §6). */
  def embeddingStats(emb: DataFrame): DataFrame = {
    val dec8 = DecimalType(18, 8)
    val sumSq = expr(
      "aggregate(transform(cast(embedding as array<double>), x -> x * x), " +
      "cast(0 as double), (acc, x) -> acc + x)")
    emb
      .select(col("label"),
        sqrt(sumSq).cast(dec8).as("norm"),
        element_at(col("embedding"), 1).cast("double").cast(dec8).as("dim0"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("norm")).as("sn"), sum(col("dim0")).as("sd"))
      // scale-8 decimal sums / count → exact integer half-up
      // ([[ExactRound]]); dim0 can be negative → signed form
      .withColumn("sn8", (col("sn") * 100000000L).cast("long"))
      .withColumn("sd8", (col("sd") * 100000000L).cast("long"))
      .select(col("label"), col("n_vecs"),
        (ExactRound.halfUpPos("sn8", "10000 * n_vecs")
          .cast("double") / 1e4).as("avg_norm"),
        (ExactRound.halfUp("sd8", "10000 * n_vecs")
          .cast("double") / 1e4).as("avg_dim0"))
      .orderBy(col("label"))
  }

  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    embeddingStats(Lake.embeddings(spark, dir))

  /** Embedding outlier screen: per-label centroid distance z-scores — the
    * mislabeled-vector / corrupted-row detector run before training on an
    * embedding column. Centroid means and all cross-row sums route
    * through decimals on ROUNDED terms (the labelCentroids discipline),
    * so every mean/std/z is an identical double in any engine. Shuffles
    * are keyed by (label, dim) and label — both bounded — plus one
    * vector-keyed distance aggregate; nothing is corpus-quadratic. */
  def embeddingOutliers(emb: DataFrame, zThresh: Double = 2.0): DataFrame = {
    val comps = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"),
        col("pos").cast("long").as("dim"), col("col").cast("double").as("x"))
    val cents = comps.groupBy(col("label"), col("dim"))
      .agg(round(sum(col("x").cast(DecimalType(18, 8))).cast("double")
        / count(lit(1)), 6).as("m"))
    val dists = comps.join(broadcast(cents), Seq("label", "dim"))
      .withColumn("term", round((col("x") - col("m")) * (col("x") - col("m")), 8)
        .cast(DecimalType(28, 8)))
      .groupBy(col("vec_id"), col("label"))
      .agg(round(sqrt(sum(col("term")).cast("double")), 6).as("dist"))
    val stats = dists.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        sum(col("dist").cast(DecimalType(28, 6))).cast("double").as("s1"),
        sum(round(col("dist") * col("dist"), 8).cast(DecimalType(28, 8)))
          .cast("double").as("s2"))
      .select(col("label"), (col("s1") / col("n")).as("mean_d"),
        sqrt(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n"))).as("sd_d"))
    dists.join(broadcast(stats), Seq("label"))
      // a degenerate cluster (all rows equidistant from the centroid) has
      // sd 0 and, by definition, no outliers — never a division by zero
      .withColumn("z",
        when(col("sd_d") > 0,
          round((col("dist") - col("mean_d")) / col("sd_d"), 4))
          .otherwise(lit(0.0)))
      .filter(col("z") >= zThresh)
      .select(col("vec_id"), col("label"), col("dist"), col("z"))
      .orderBy(col("label"), col("z").desc, col("vec_id"))
  }

  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    embeddingOutliers(Lake.embeddings(spark, dir))

  /** ANN recall evaluation — the harness that keeps the approximate path
    * honest: per query, recall@k of the LSH search against the exact
    * brute-force top-k (hits / k). This is the number an operator watches
    * when tuning tables/bits at corpus scale; registering it makes the
    * driver re-measure recall every round instead of trusting a one-time
    * spec assertion. Cost = one LSH search + one brute-force search over
    * the bounded query set — an EVAL query, priced accordingly. */
  def annRecall(spark: SparkSession, dir: String,
                k: Int = 5, nQueries: Int = 8): DataFrame = {
    val exact = bruteForce(spark, dir, k, nQueries)
      .select(col("q_id"), col("neighbor_id"))
    val approx = lsh(spark, dir, k, nQueries)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        // count/count → exact integer half-up ([[ExactRound]])
        (ExactRound.halfUpPos("10000 * n_hit", "k_exact")
          .cast("double") / 1e4).as("recall"))
      .orderBy(col("q_id"))
  }

  /** nDCG@k retrieval-quality harness — the GRADED complement of
    * [[annRecall]]: recall@k says whether the approximate index found
    * the exact neighbors; nDCG@k says whether a ranking surfaces
    * SEMANTICALLY relevant items (label match) early, which is the
    * number a retrieval stack is actually tuned on. Exact-cosine ranking
    * per query, gain 1/ln(rank+1) for label-relevant hits (natural log —
    * base cancels in the DCG/iDCG ratio, and ln is the engine-portable
    * choice), ideal DCG from the query label's corpus prevalence capped
    * at k.
    *
    * Determinism: each gain term rounds once to 9 dp and rides
    * DECIMAL(18,9) so the per-query sum is association-order-free (the
    * surprisal discipline — never a bare double Σ); iDCG is the same
    * literal 1..k term chain gated on n_rel, evaluated identically in
    * both engines. Shape: the bounded query set broadcasts, the corpus
    * is scanned once (the [[bruteForce]] plan) plus one label-frequency
    * broadcast — linear, no corpus shuffle. */
  def retrievalNdcg(spark: SparkSession, dir: String,
                    k: Int = 10, nQueries: Int = 8): DataFrame = {
    val dec9 = DecimalType(18, 9)
    val emb = Lake.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
    val top = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("sim_raw", cosineSimilarity(col("embedding"), col("q_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val dcg = top
      .withColumn("term", when(col("label") === col("q_label"),
          round(lit(1.0) / log(col("rnk").cast("double") + 1), 9).cast(dec9))
        .otherwise(lit(0).cast(dec9)))
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(col("term")).as("dcg_dec"))
    val prevalence = emb.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val idcg = (1 to k).map(i =>
        when(col("n_rel") >= i,
          round(lit(1.0) / log(lit(i + 1.0)), 9).cast(dec9))
          .otherwise(lit(0).cast(dec9)))
      .reduce(_ + _)
    dcg.join(broadcast(prevalence), Seq("q_label"))
      .withColumn("n_rel", col("n_label") - 1)
      .select(col("q_id"), col("q_label"), col("n_rel"),
        round(col("dcg_dec"), 6).cast("double").as("dcg"),
        round(col("dcg_dec").cast("double") / idcg.cast("double"), 6)
          .as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** Silhouette-lite clustering quality per label: for every vector,
    * a = distance to its OWN label centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a)/max(a, b) — averaged per label. The
    * embedding-space answer to "are these labels actually clusters";
    * near 0 or negative means the labeling is noise in this space.
    * (Classic silhouette uses mean pairwise distances — O(n²); the
    * centroid form is the standard scalable surrogate.)
    *
    * Determinism at scale: centroid components are decimal(18,8) sums ÷
    * counts (the label-centroid convention); each distance is ONE
    * sequential codegen'd `aggregate` fold over the zipped arrays (never
    * a row-sum across dims, whose order floats); per-vector s rounds
    * once to 6 dp and decimal-sums per label. The centroid side is
    * bounded by the label universe and broadcasts — the vector×centroid
    * product is n·L with L small, the intended linear plan. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val emb = Lake.embeddings(spark, dir)
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast(dec8)).cast("double") / count(lit(1)))
        .as("comp"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cvec"))
      .withColumnRenamed("label", "clabel")
    val dists = emb
      .crossJoin(broadcast(cent))
      .withColumn("dist", sqrt(expr(
        """aggregate(zip_with(embedding, cvec,
          |  (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
          |  0D, (acc, v) -> acc + v)""".stripMargin)))
    dists
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .withColumn("s",
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("s")).as("ss"))
      // signed 6-dp decimal sum / count → exact integer half-up
      .withColumn("ss6", (col("ss") * 1000000).cast("long"))
      .select(col("label"), col("n_vectors"),
        (ExactRound.halfUp("ss6", "100 * n_vectors")
          .cast("double") / 1e4).as("silhouette"))
      .orderBy(col("label"))
  }

  /** Embedding isotropy proxy — ‖mean vector‖²/mean‖v‖² ∈ [0,1]: a
    * healthy embedding space is roughly centered (ratio → 0); a
    * collapsed one points everywhere the same way (ratio → 1) and
    * cosine retrieval over it degenerates — the one-number space-health
    * gate to run before trusting any ANN recall figure. Per-dim sums
    * and per-vector norm² are exact scale-8 decimal sums, so the ratio
    * Σ_d S_d²/(n·Q) is ONE terminating integer ratio through
    * decimal(38,0). One corpus pass (posexplode), one d-row reduce. */
  def embeddingIsotropy(spark: SparkSession, dir: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(28, 8)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val emb = Lake.embeddings(spark, dir)
    val dims = emb.select(posexplode(col("embedding")))
      .groupBy(col("pos"))
      .agg(sum(col("col").cast("double").cast(dec8)).as("s_d"))
      .agg(sum((((col("s_d") * 100000000L).cast(d38)) *
        ((col("s_d") * 100000000L).cast(d38))).cast(d38)).as("ss2"),
        count(lit(1)).as("d"))
    val norms = emb.select(expr(
      """CAST(aggregate(transform(cast(embedding as array<double>),
        |  x -> x * x), cast(0 as double), (acc, x) -> acc + x)
        |  AS DECIMAL(28,8))""".stripMargin).as("n2"))
      .agg(count(lit(1)).as("n"), sum(col("n2")).as("q"))
    dims.crossJoin(broadcast(norms))
      .withColumn("q8", (col("q") * 100000000L).cast(d38))
      .withColumn("inum", (col("ss2") * 1000000).cast(d38))
      .withColumn("iden",
        (col("q8") * col("n") * 100000000L).cast(d38))
      .select(col("n").as("n_vectors"), col("d").as("n_dims"),
        (ExactRound.halfUpPos("q8", "100 * n")
          .cast("double") / 1e6).as("mean_norm_sq"),
        (ExactRound.halfUpPos("inum", "iden").cast("double") / 1e6)
          .as("isotropy_ratio"))
  }

  /** Davies–Bouldin clustering-quality index over the embedding labels
    * — the ratio-form complement of [[silhouette]] (DB penalizes pairs
    * of clusters that are individually loose AND mutually close; lower
    * is better): s_i = mean distance to own centroid (per-vector
    * distances 6-dp-pinned into decimal, mean by exact integer
    * half-up), d_ij = centroid–centroid distance, DB = mean_i max_{j≠i}
    * (s_i+s_j)/d_ij. Same decimal-centroid + codegen'd zip_with fold
    * machinery as [[silhouette]]; everything after the per-vector pass
    * lives on the L×L label grid. Emits per-label s_i with its worst
    * neighbor ratio and the table-wide DB on every row. */
  def daviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val emb = Lake.embeddings(spark, dir)
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast(org.apache.spark.sql.types
        .DecimalType(18, 8))).cast("double") / count(lit(1))).as("comp"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cvec"))
      .localCheckpoint(true) // label-bounded; feeds own-dist + pair grid
    val own = emb
      .join(broadcast(cent), emb("label") === cent("label"))
      .withColumn("dist", sqrt(expr(
        """aggregate(zip_with(embedding, cvec,
          |  (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
          |  0D, (acc, v) -> acc + v)""".stripMargin)))
      .select(emb("label").as("lbl"),
        round(col("dist"), 6).cast(dec6).as("d6"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d6")).as("sd"))
      .withColumn("s6", (col("sd") * 1000000).cast("long"))
      .select(col("lbl"), col("n_vecs"),
        (ExactRound.halfUpPos("s6", "n_vecs").cast("double") / 1e6)
          .as("s_i"))
    val pairs = cent.select(col("label").as("la"), col("cvec").as("va"))
      .crossJoin(broadcast(cent.select(col("label").as("lb"),
        col("cvec").as("vb"))))
      .filter(col("la") =!= col("lb"))
      .withColumn("d_ij", sqrt(expr(
        """aggregate(zip_with(va, vb,
          |  (x, c) -> (x - c) * (x - c)),
          |  0D, (acc, v) -> acc + v)""".stripMargin)))
      .select(col("la"), col("lb"), col("d_ij"))
    val ratios = pairs
      .join(own.select(col("lbl").as("la"), col("s_i").as("s_a")), Seq("la"))
      .join(own.select(col("lbl").as("lb"), col("s_i").as("s_b")), Seq("lb"))
      .withColumn("r", (col("s_a") + col("s_b")) / col("d_ij"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    ratios.groupBy(col("la"))
      .agg(max(col("s_a")).as("s_i"),
        max(round(col("r"), 6).cast(dec6)).as("worst_r"))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("swr", sum(col("worst_r")).over(wAll))
      .withColumn("w6", (col("swr") * 1000000).cast("long"))
      .select(col("la").as("label"), round(col("s_i"), 6).as("s_i"),
        col("worst_r").cast("double").as("worst_neighbor_ratio"),
        (ExactRound.halfUpPos("w6", "100 * k").cast("double") / 1e4)
          .as("davies_bouldin"))
      .orderBy(col("label"))
  }

  /** Matryoshka (truncated-dimension) retrieval eval: top-k recall of
    * brute-force search over the FIRST `keepDims` embedding dimensions
    * against full-dimension ground truth — the measurement behind the
    * matryoshka-representation trick of serving a prefix of each vector
    * (half the bytes scanned, half the dot-product FLOPs) and accepting
    * a measured recall haircut. Same harness shape as [[annRecall]]:
    * the quality of the cheap path is a REGISTERED, driver-re-measured
    * number, not a code comment. Truncation is a codegen'd `slice` on
    * the scan projection, so the truncated leg never materializes full
    * vectors. */
  def matryoshkaRecall(spark: SparkSession, dir: String, keepDims: Int = 32,
                       k: Int = 5, nQueries: Int = 8): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
    val exact = bruteForce(emb, defaultQueries(emb, nQueries), k)
      .select(col("q_id"), col("neighbor_id"))
    val trunc = emb.select(col("vec_id"),
      slice(col("embedding"), 1, keepDims).as("embedding"))
    val approx = bruteForce(trunc, defaultQueries(trunc, nQueries), k)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        // count/count → exact integer half-up ([[ExactRound]])
        (ExactRound.halfUpPos("10000 * n_hit", "k_exact")
          .cast("double") / 1e4).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Leave-one-out kNN label classification over the shared 5-NN graph —
    * the EVAL the (kNN graph × label column) pair invites, and the
    * standard label-quality / annotation-noise screen for a training
    * corpus: each vector's label is predicted by majority vote among its
    * graph neighbors (vote count DESC, label ASC on ties) and scored
    * against its own label. Reported per TRUE label with coverage —
    * vectors isolated under the LSH bucketing (no candidates anywhere)
    * are counted in `n_vecs` but cast no vote, so a silent recall hole
    * shows up as coverage < 1, never as inflated accuracy.
    *
    * Scale: the graph rides the shared [[sharedKnnGraph]] (built
    * once per corpus version); the vote is one aggregate over its ≤ k·n
    * rows, labels attach by broadcast of the node-sized (id, label)
    * projection, and accuracy/coverage are count/count quotients →
    * exact integer half-up ([[ExactRound]], 4 dp). */
  def knnLabelEval(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Lake.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val edges = sharedKnnGraph(spark, dir, k)
      .select(col("src"), col("dst"))
    val votes = edges
      .join(broadcast(emb.select(col("vec_id").as("dst"),
        col("label").as("nb_label"))), "dst")
      .groupBy(col("src"), col("nb_label"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("v").desc, col("nb_label"))
    val pred = votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("src").as("vec_id"), col("nb_label").as("pred"))
    emb.join(pred, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pred").isNotNull, 1L).otherwise(0L)).as("n_voted"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_voted"), col("n_correct"),
        // accuracy over VOTED vectors; an all-isolated label reads 0/0 →
        // pinned to 0 by the greatest(·,1) guard in both engines
        (ExactRound.halfUpPos("10000 * n_correct", "greatest(n_voted, 1)")
          .cast("double") / 1e4).as("acc_voted"),
        (ExactRound.halfUpPos("10000 * n_voted", "n_vecs")
          .cast("double") / 1e4).as("coverage"))
      .orderBy(col("label"))
  }

  /** Label homophily (categorical assortativity) of the 5-NN embedding
    * graph — Newman's mixing coefficient for the TRUE labels over the
    * learned neighborhood structure: r = (Σ e_ii − Σ a_i²)/(1 − Σ a_i²),
    * the embedding-space-coherence signal the numeric degree
    * assortativity (trade graph) cannot give. r ≈ 1 means neighbors
    * share labels far beyond chance (healthy space for label-aware
    * sampling / kNN classification); r ≈ 0 means the kNN structure is
    * label-blind. Clears to one SIGNED exact integer ratio:
    * r = (4m·same − Σt_i²) / (4m² − Σt_i²) with m undirected edges,
    * `same` the same-label edge count and t_i the per-label endpoint
    * counts — staged decimal(38,0), pinned 6 dp ([[ExactRound]]); a
    * single-label graph clamps the denominator to 1 (r reads 0, the
    * honest "no mixing to measure").
    *
    * Shape: the canonical edge distinct over the shared
    * [[sharedKnnGraph]], two broadcast label attaches, one endpoint
    * reduce; output is ONE row. */
  def labelHomophily(spark: SparkSession, dir: String,
                     k: Int = 5): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val emb = Lake.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val cnn = sharedKnnGraph(spark, dir, k)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .join(broadcast(emb.select(col("vec_id").as("a"),
        col("label").as("la"))), "a")
      .join(broadcast(emb.select(col("vec_id").as("b"),
        col("label").as("lb"))), "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = cnn.agg(count(lit(1)).as("m"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_same"))
    val tSq = cnn.select(col("la").as("l"))
      .unionByName(cnn.select(col("lb").as("l")))
      .groupBy(col("l")).agg(count(lit(1)).as("t"))
      .agg(sum((col("t").cast(dec38) * col("t")).cast(dec38)).as("t2"))
    val out = base.crossJoin(broadcast(tSq))
      .withColumn("rn",
        ((col("n_same").cast(dec38) * col("m") * 4
          - col("t2")) * 1000000).cast(dec38))
      .withColumn("rd",
        greatest((col("m").cast(dec38) * col("m") * 4 - col("t2"))
          .cast(dec38), lit(1L).cast(dec38)))
      .select(col("m").as("n_edges"), col("n_same"),
        (ExactRound.halfUpPos("10000 * n_same", "m")
          .cast("double") / 1e4).as("same_share"),
        (ExactRound.halfUp("rn", "rd").cast("double") / 1e6)
          .as("assortativity_r"))
      .localCheckpoint(true)
    cnn.unpersist(false)
    out
  }

  /** Two-NN intrinsic dimensionality (Facco et al. 2017) of the
    * embedding corpus — the curse-of-dimensionality diagnostic that
    * pairs with [[hubness]] and [[embeddingIsotropy]]: data on a
    * d-dimensional manifold has nearest/second-nearest distance ratios
    * μ = r₂/r₁ distributed Pareto(d), so E[ln μ] = 1/d and the MLE is
    * ID = 1 / mean(ln μ) (the ln 2 numerator belongs to the MEDIAN
    * variant, ln 2 / median(ln μ) — pairing it with the mean biases ID
    * low by ×0.693; fixed per r12 ADVICE). Ambient dimension is 64; a
    * much smaller ID says the corpus lives on a thin manifold and
    * aggressive compression/quantization is safe.
    *
    * Mechanics: each vector's two nearest EUCLIDEAN neighbors among its
    * LSH candidates (approximate-neighborhood convention of the whole
    * kNN family), d² = |a|² + |b|² − 2·cos·|a||b| assembled from the
    * shared pairs artifact's exact cosine plus codegen'd norms —
    * orientation-safe because IEEE +/× are commutative. Per-vector
    * ln-ratio terms ride 6-dp decimals (order-independent sums);
    * vectors with r₁ = 0 (exact duplicates) or fewer than two
    * candidates drop out, counted in the readout.
    *
    * Shape: candidate-bounded pair frame from the persisted artifact,
    * one per-vector top-2 window, one reduce; one-row output. */
  def intrinsicDim(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotProductF
    val emb = Lake.embeddings(spark, dir)
      .select(col("vec_id"),
        dotProductF(col("embedding"), col("embedding")).as("n2"))
    val pairs = sharedKnnPairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
    val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"),
        col("cos_sim").as("s"))
      .unionByName(pairs.select(col("vec_b").as("src"),
        col("vec_a").as("dst"), col("cos_sim").as("s")))
      .join(broadcast(emb.select(col("vec_id").as("src"),
        col("n2").as("na"))), "src")
      .join(broadcast(emb.select(col("vec_id").as("dst"),
        col("n2").as("nb"))), "dst")
      .withColumn("d2",
        col("na") + col("nb")
          - lit(2.0) * col("s") * sqrt(col("na")) * sqrt(col("nb")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("d2").asc, col("dst"))
    val top2 = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("src"))
      .agg(max(when(col("rn") === 1, col("d2"))).as("d1"),
        max(when(col("rn") === 2, col("d2"))).as("dd2"))
      .filter(col("d1") > 0 && col("dd2").isNotNull)
      .select(col("src"),
        round(lit(0.5) * log(col("dd2") / col("d1")), 6)
          .cast(DecimalType(18, 6)).as("t6"))
    top2.agg(count(lit(1)).as("n_used"), sum(col("t6")).as("s6"))
      .withColumn("s6i", (col("s6") * 1000000).cast("long"))
      .select(col("n_used"),
        (ExactRound.halfUpPos("s6i", "n_used").cast("double") / 1e6)
          .as("mean_log_ratio"),
        round(lit(1.0) /
          (col("s6").cast("double") / col("n_used")), 4)
          .as("intrinsic_dim"))
  }

  /** Greedy k-center (farthest-point) coreset selection over the
    * embedding corpus — the classic 2-approximation to the k-center
    * cover, and the standard diversity-sampling primitive for curating
    * a maximally-spread training subset: seed at the smallest vec_id,
    * then `k`−1 times add the vector farthest (squared L2, larger
    * d² wins, vec_id breaks ties) from the chosen set. Reports each
    * center with its assigned-population size and coverage radius.
    *
    * Fully declarative — NO driver collect: each selection round is
    * emb ⨯ broadcast(centers) (the ≤k-row center frame is the bounded
    * side of an intentional product join) → per-vector min-d² → one
    * TakeOrderedAndProject argmax appended to the center frame, eagerly
    * materialized (1 row) to keep the loop's lineage flat. d² expands
    * to ⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩ over the codegen'd [[graft.functions
    * .VectorExpressions]] float dot — the same sequential accumulation
    * DuckDB's list_dot_product replays, so the doubles match
    * bit-for-bit and the argmax/assignment order over them is exact.
    *
    * Scale: k passes over the corpus, each one broadcast product + one
    * vec-keyed aggregate; nothing quadratic, nothing collected. */
  def kCenter(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    require(k >= 1, "kCenter needs k >= 1")
    import graft.functions.VectorFunctions.dotProductF
    val emb = Lake.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def d2: Column =
      dotProductF(col("embedding"), col("embedding")) -
        lit(2.0) * dotProductF(col("embedding"), col("cvec")) +
        dotProductF(col("cvec"), col("cvec"))
    def minD2(centers: DataFrame): DataFrame =
      emb.crossJoin(broadcast(centers))
        .withColumn("dd", d2)
        .groupBy(col("vec_id"), col("embedding"))
        .agg(min(struct(col("dd"), col("cidx"))).as("m"))
        .select(col("vec_id"), col("embedding"),
          col("m.dd").as("mind2"), col("m.cidx").as("cidx"))
    var centers = emb.orderBy(col("vec_id")).limit(1)
      .select(lit(1).as("cidx"), col("vec_id").as("cid"),
        col("embedding").as("cvec"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val next = minD2(centers)
        .orderBy(col("mind2").desc, col("vec_id"))
        .limit(1)
        .select(lit(step).as("cidx"), col("vec_id").as("cid"),
          col("embedding").as("cvec"))
      centers = centers.unionByName(next).localCheckpoint(true)
    }
    val out = minD2(centers)
      .groupBy(col("cidx"))
      .agg(count(lit(1)).as("n_assigned"),
        max(col("mind2")).as("r2"))
      .join(broadcast(centers.select(col("cidx"), col("cid"))), "cidx")
      .select(col("cidx").cast("long").as("center_idx"),
        col("cid").as("center_vec_id"), col("n_assigned"),
        round(col("r2"), 6).as("radius2"))
      .orderBy(col("center_idx"))
      .localCheckpoint(true)
    emb.unpersist(false)
    out
  }
}
