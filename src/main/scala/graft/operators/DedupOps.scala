package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Lake

/** Deduplication over the `documents` table (SURVEY.md §2 items 15–18):
  * exact content-hash dedup, MinHash + banded-LSH near-dedup with exact
  * n-gram-Jaccard verification, and 64-bit SimHash.
  *
  * Scale design: nothing here is all-pairs. Candidate generation is a
  * self-equi-join keyed by (band, band_hash) — a hash-partitioned shuffle
  * whose per-bucket pair count is bounded by the banding parameters, never a
  * CartesianProduct (asserted by DedupSpec against the executed plan).
  * MinHash signatures are a shuffle-free map stage (per-doc shingle arrays
  * hashed in place); at 100 TB everything scales linearly with corpus size.
  */
object DedupOps extends org.apache.spark.internal.Logging {

  /** Default MinHash parameters: 64 permutations in 32 bands of 2 rows.
    * Detection probability at jaccard j is 1-(1-j^2)^32: ≥ 0.9999 for
    * j ≥ 0.5 — pairs at the 0.6 verify threshold are found essentially
    * always, so the probabilistic candidate stage cannot disagree with the
    * exact brute-force oracle at the thresholds we report.
    *
    * Tradeoff: short bands admit more low-similarity candidate pairs into
    * the exact-verify stage (p ≈ 0.27 at ambient j=0.1), which is the
    * right default when missed duplicates cost more than verify compute.
    * For corpora where ambient similarity is high or verify cost
    * dominates, widen the bands (e.g. 16×4 ⇒ detect ≥ 0.5 w.p. ~0.9)
    * by changing these constants. */
  val NumPerms = 64
  val Bands = 32
  val RowsPerBand: Int = NumPerms / Bands

  /** Exact dedup: group by sha256(text); keeper = lowest doc_id of each
    * content group. Output is every distinct content with its copy count —
    * the kept corpus after exact dedup. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("content_hash"), col("n_copies"))
      .orderBy(col("keeper"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExact(Lake.documents(spark, dir))

  /** Distinct (doc_id, word-n-gram shingle) pairs. Dedup happens per-doc
    * with array_distinct BEFORE the explode — a map-side operation — so no
    * corpus-wide distinct shuffle is ever needed. */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shinglesOf(col("__toks"), n)))
          .as("shingle"))

  def shingled(spark: SparkSession, dir: String): DataFrame =
    shingled(Lake.documents(spark, dir))

  /** Map-side MinHash signatures: (doc_id, sig array<long> of `NumPerms`
    * per-permutation mins), computed by the codegen'd
    * [[graft.functions.MinhashSig]] expression — each distinct shingle
    * hashed once, all permutation minima folded in one tight loop.
    *
    * NO shuffle: shingles are already per-doc arrays, so signatures are a
    * pure map stage over the corpus scan. (An earlier version exploded
    * shingles and ran a 64-column min group-by — a full corpus shuffle
    * plus a 64-buffer hash aggregate that bought nothing; at 100 TB it was
    * the dedup pipeline's dominant shuffle.) */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        graft.functions.MinhashSig.signature(
          array_distinct(TextOps.shinglesOf(col("__toks"), n)), NumPerms)
          .as("sig"))

  /** LSH banding: one row per (doc, band) with the band's combined hash —
    * all band hashes from one codegen'd [[graft.functions.MinhashBands]]
    * pass (a 32-wide literal hash tree here measurably dominated the
    * pipeline's per-plan Janino compile time). */
  def bandedBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(
      graft.functions.MinhashBands.bands(col("sig"), Bands, RowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** Near-duplicate pairs: banded-LSH candidates, then exact word-3-gram
    * Jaccard verification at `threshold`. The self-join is equi-keyed on
    * (band, band_hash); candidate pairs are deduped across bands before the
    * (exact, per-pair) verify.
    *
    * Shuffle discipline: the signature pass carries ONLY the 64 minhash
    * longs — never the shingle arrays. The verify stage re-shingles JUST
    * the candidate docs (a left-semi prune on candidate ids), so full
    * shingle sets ship for the handful of docs that LSH actually paired,
    * not the whole corpus. The candidate pairs feed FOUR consumers (the
    * id-union prune and both verify joins), so they are persisted —
    * relying on ReuseExchange proved fragile (round-3 bench showed the
    * minhash pipeline re-running); an explicit MEMORY_AND_DISK cache of
    * the tiny pair set guarantees the heavy signature+join subplan
    * executes once, and BOTH caches are explicitly released after the
    * verified result materializes (localCheckpoint) — a registered cache
    * fragment would otherwise be substituted into any later
    * same-canonical-plan query, serving pre-rewrite rows after an
    * in-session erasure or compaction.
    *
    * Hot-bucket guard: a (band, band_hash) bucket bigger than
    * `maxBucketSize` docs — boilerplate-heavy corpora: memes, license
    * headers, identical templates — would make the within-bucket join
    * quadratic, so it is dropped from candidate generation. Never silent:
    * [[oversizedBands]] is the audit query listing what the cap skipped.
    * Content that hot is exact-dup / template territory (route through
    * [[dedupExact]]); pairing it is the wrong tool at any scale. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.6,
                   maxBucketSize: Int = 1024): DataFrame = {
    require(maxBucketSize > 1, "maxBucketSize must allow at least one pair")
    val sigs = minhashSignatures(docs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val capped = bandedBuckets(sigs)
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")
    val candidates = capped.as("x")
      .join(capped.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // second, pruned shingle pass: sets only for docs LSH actually paired
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    // persisted too: both verify joins read it, and without the cache each
    // would redo the pruned shingle pass (and through it the corpus scan)
    val sets = shingled(docs)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the bounded verified-pair report and RELEASE both
    // caches before returning (the simhashPairs discipline). Leaving them
    // registered is not just cache pressure: CacheManager substitutes a
    // registered fragment into any LATER plan that canonicalizes equal —
    // so after an in-session lake rewrite (erasure, compaction) a fresh
    // nearDupPairs over the same path would silently reuse PRE-REWRITE
    // candidates/shingles. GovernanceSpec's erasure→artifact test pins
    // this.
    val out = candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
        size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    candidates.unpersist(false)
    sets.unpersist(false)
    out
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * [[nearDupPairs]] graph, one row per clustered doc with its cluster's
    * keeper (= the component's smallest doc_id). This closes the loop from
    * "similarity report" to "training corpus": transitive chains A~B~C
    * collapse into ONE cluster even when A and C share no n-grams, which
    * pair lists alone cannot express.
    *
    * Adaptive execution: the verified pair graph is orders of magnitude
    * smaller than the corpus (near-dup graphs are sparse by construction),
    * so when it fits in bounded driver memory (`maxDriverEdges`, ~16 B/
    * edge) a driver-side union-find resolves components in one pass — the
    * same bounded-collect precedent as the IVF k-means sample. A
    * million-edge graph costs ~16 MB; the distributed min-label loop below
    * it costs ~4 Spark jobs per round in scheduling + codegen alone, which
    * dominates end-to-end time whenever the graph is small. Both paths
    * produce identical (doc_id, keeper=component min) output and both are
    * test-covered; corpora whose pair graph exceeds the cap take the
    * distributed path automatically.
    *
    * Distributed path: min-label propagation with pointer jumping — each
    * round every node takes the min of its own label, its neighbors'
    * labels, AND its current label's label (path compression), so
    * convergence is O(log diameter) rounds, not O(diameter): a 20-link
    * variant chain resolves in ~5 rounds. No external graph dependency;
    * each round is two equi-joins + one partial-agg group-by over the
    * PAIR graph, so the driver-side loop orchestrates tiny jobs, not data
    * movement.
    *
    * Iterative-DataFrame discipline: every round ends in an EAGER
    * `localCheckpoint`, truncating the logical plan to the materialized
    * partitions. Without it the self-referential lineage doubles each
    * round and Catalyst analysis time grows exponentially — caching alone
    * does not help, because cache substitution happens *after* the
    * ever-growing plan is analyzed. (On a multi-node cluster prefer
    * `checkpoint()` with a reliable dir: localCheckpoint trades executor-
    * loss recovery for speed.) `maxIters` bounds adversarial topologies. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.6,
                      maxIters: Int = 20,
                      maxDriverEdges: Long = 4L << 20): DataFrame =
    clustersFromPairs(
      nearDupPairs(docs, threshold).select(col("doc_a"), col("doc_b")),
      maxIters, maxDriverEdges)

  /** Connected components over ANY (doc_a, doc_b) pair graph — the
    * engine [[nearDupClusters]] feeds the lexical MinHash pairs and
    * [[semanticClusters]] the embedding-cosine pairs; same adaptive
    * driver-union-find / distributed-min-label machinery either way. */
  def clustersFromPairs(pairsIn: DataFrame, maxIters: Int = 20,
                        maxDriverEdges: Long = 4L << 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
      .persist(MEMORY_AND_DISK)
    if (pairs.count() <= maxDriverEdges) {
      val out = driverUnionFind(pairsIn.sparkSession, pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
      pairs.unpersist()
      return out
    }
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .persist(MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("keeper", col("doc_id"))
      .localCheckpoint(true)
    // Labels are monotone non-increasing under min-propagation, so the
    // fixpoint is reached exactly when sum(keeper) stops changing — one
    // single-frame aggregate per round instead of a join-based diff.
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("keeper"))).first().getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("src"), col("keeper")), "src")
        .groupBy(col("dst")).agg(min(col("keeper")).as("nbr_min"))
        .select(col("dst").as("doc_id"), col("nbr_min"))
      // NOT checkpointed: its lineage is one round deep (rooted at the
      // checkpointed labels), and recomputing it for the pointer-jump
      // join's two sides inside ONE job is cheaper than scheduling a
      // separate materialization job per round for a tiny frame.
      val oneHop = labels.as("l")
        .join(nbrMin.as("p"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keeper"), coalesce(col("nbr_min"), col("keeper"))).as("keeper"))
      // pointer jump: keeper := min(keeper, keeper's keeper). Every label
      // IS a node id, so the lookup join always matches.
      val next = oneHop.as("a")
        .join(oneHop.select(col("doc_id").as("k"), col("keeper").as("kk")).as("b"),
          col("a.keeper") === col("k"))
        .select(col("doc_id"), least(col("keeper"), col("kk")).as("keeper"))
        .localCheckpoint(true)
      val s = labelSum(next)
      labels = next
      done = s == prevSum
      prevSum = s
      iter += 1
    }
    if (!done) logWarning(
      s"nearDupClusters stopped after $maxIters rounds without converging " +
        "— an adversarial chain topology; keepers may split one component")
    edges.unpersist()
    pairs.unpersist()
    labels.orderBy(col("doc_id"))
  }

  /** Shared verified near-dup pairs (`doc_a`, `doc_b`, `jaccard`) of the
    * raw document corpus, one family dir per threshold: the signature +
    * banding + exact-verify pipeline is the dedup family's expensive
    * piece, read by the pair report, the clusters, the leakage-safe split
    * and the recall audit. Consumers that dedup a DERIVED corpus keep
    * their inline pipeline — pairs over a subset are not the raw-corpus
    * pairs restricted. */
  def sharedNearDups(spark: SparkSession, dir: String,
                     threshold: Double = 0.6): DataFrame =
    ArtifactStore.shared(spark, dir, "neardup", Seq("documents"),
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(threshold))) {
      nearDupPairs(Lake.documents(spark, dir), threshold)
    }

  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(sharedNearDups(spark, dir)
      .select(col("doc_a"), col("doc_b")))

  /** Quality-aware near-dup survivorship — the POLICY layer over
    * [[nearDupClusters]]: min-doc-id keepers are reproducible but
    * arbitrary, and a production dedup keeps the BEST copy (highest
    * quality score, doc_id breaking exact ties deterministically) — a
    * cluster of a pristine article and its ad-riddled scrape should keep
    * the article regardless of crawl order. One row per clustered doc:
    * its cluster (the component-min label, kept as the stable cluster
    * identity), the quality-argmax keeper, the doc's own quality, and
    * the keep verdict.
    *
    * Shape: the shared pair-graph components + the quality frame join on
    * doc_id; best-of-cluster is ONE cluster-partitioned window over the
    * clustered-docs frame (near-dup clusters are sparse — this frame is
    * orders below corpus size). */
  def nearDupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val members = nearDupClusters(spark, dir)
      .withColumnRenamed("keeper", "cluster_min")
      .join(TextOps.docQuality(spark, dir)
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_min"))
      .orderBy(col("quality").desc, col("doc_id"))
    val best = members
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cluster_min"), col("doc_id").as("best_id"))
    members.join(best, Seq("cluster_min"))
      .select(col("doc_id"), col("cluster_min"), col("best_id"),
        col("quality"), (col("doc_id") === col("best_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Small-graph path of [[nearDupClusters]]: union-find with path halving
    * over a bounded, already-collected edge list; keeper = component min
    * falls out of union-by-smaller-root. LongMap keeps the table unboxed
    * (~16 B/edge). Output contract matches the distributed loop exactly. */
  private[operators] def driverUnionFind(spark: SparkSession,
                                         edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x)); parent(x) = gp; x = gp
      }
      x
    }
    for ((a, b) <- edges) {
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    import spark.implicits._
    rows.toDF("doc_id", "keeper").orderBy(col("doc_id"))
  }

  /** The kept corpus after near-dedup: every doc except non-keeper cluster
    * members — [[nearDupClusters]] distilled to the filter a training
    * pipeline actually applies. A left-anti join against the (tiny) loser
    * set; the corpus itself streams through unshuffled. */
  def dedupNear(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val losers = nearDupClusters(docs, threshold)
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Audit query for [[nearDupPairs]]'s hot-bucket guard: every
    * (band, band_hash) bucket over `maxBucketSize` with its size. */
  def oversizedBands(docs: DataFrame, maxBucketSize: Int = 1024): DataFrame =
    bandedBuckets(minhashSignatures(docs))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
      .orderBy(col("bucket_size").desc, col("band"), col("band_hash"))

  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    // lake-bound form reads the shared verified-pairs artifact (built on
    // first use this session); re-apply the report ordering on read
    sharedNearDups(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** SimHash bit width and banding layout: 60 bits ([[TextOps
    * .portableHash60]] md5-slice token hashes — oracle-reproducible in any
    * engine, unlike xxhash64) split into 4 bands of 15 bits; any pair
    * within hamming distance 3 leaves at least one band intact
    * (pigeonhole), so the banded equi-join is lossless at maxHamming 3. */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands

  /** 60-bit SimHash per document: bit j of the signature is the sign of
    * sum over tokens of (term frequency × ±1 by bit j of the portable
    * token hash). Computed as 60 conditional sums in one group-by pass. */
  def simhash(docs: DataFrame): DataFrame = {
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", TextOps.portableHash60(col("token")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j")
    }
    val wide = tf.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { j =>
      shiftleft(when(col(s"b$j") > 0, 1L).otherwise(0L), j)
    }.reduce(_.bitwiseOR(_))
    wide.select(col("doc_id"), sig.as("simhash")).orderBy(col("doc_id"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(Lake.documents(spark, dir))

  /** SimHash near-dup candidates: [[SimhashBands]] bands of
    * [[SimhashBandBits]] bits each (any pair within hamming distance 3
    * shares at least one intact band), verified with bit_count(xor) ≤
    * maxHamming. Same bucketed-join shape as MinHash-LSH. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // REPRESENTATIVE-level banding (the guide-§8 proxy rule: decide on
    // small rows, expand heavy fan-out once): docs are first grouped by
    // their full 60-bit signature, the banded self-join runs over the
    // DISTINCT signatures only, and member lists expand AFTER the
    // Hamming screen. Clone-heavy corpora (the ScaleUp ×k verbatim
    // replicas; real crawl snapshots) turn each band bucket into a
    // clique — the doc-level join explodes (m·k)²/2 per bucket (378 s
    // at sf10) while the signature-level join pays k²/2 and the member
    // cross-products are OUTPUT-sized. Same-signature docs (Hamming 0)
    // never enter the join at all: their pairs come straight off the
    // member array. Identical result set: two docs share a band iff
    // their signatures do, and Hamming distance is a function of the
    // signature pair.
    val groups = simhash(docs)
      .groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandMask = (1L << SimhashBandBits) - 1
    val repBands = groups.select(col("simhash"),
      posexplode(array((0 until SimhashBands).map(b =>
        shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(bandMask)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // cross-signature candidates: banded equi-join over distinct sigs,
    // Hamming screen map-side, dedup at signature-pair granularity
    val candSig = repBands.as("x").join(repBands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = candSig
      .join(groups.select(col("simhash").as("sa"), col("members").as("ma")), "sa")
      .join(groups.select(col("simhash").as("sb"), col("members").as("mb")), "sb")
      .select(explode(col("ma")).as("da"), col("mb"), col("hamming"))
      .select(col("da"), explode(col("mb")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // within-signature pairs: every ordered pair of a clone clique,
    // Hamming 0 by construction (members are sorted, so a < b holds)
    val within = groups.filter(size(col("members")) >= 2)
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        lit(0).cast("integer").as("hamming"))
    // materialize the bounded pair result and release the group cache
    // immediately (surprisal discipline) — long-lived sessions must not
    // accumulate per-call caches until the ContextCleaner runs
    val out = cross.unionByName(within)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    groups.unpersist(false)
    out
  }

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Lake.documents(spark, dir))

  /** Embedding-cosine near-duplicates: vector pairs whose cosine exceeds
    * `threshold`, found through the multi-table hyperplane-LSH buckets of
    * [[AnnOps]] — candidates only ever form inside a shared bucket, then
    * exact cosine verifies. The semantic-dedup companion to the lexical
    * (MinHash/SimHash) paths: catches paraphrases that share no n-grams. */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        dim: Int = 64,
                        tables: Int = AnnOps.DefaultTables,
                        bits: Int = AnnOps.DefaultBitsPerTable,
                        maxBucketSize: Int = 4096): DataFrame =
    nearDupsFromPairs(
      AnnOps.bucketedPairs(emb, dim, tables, bits, maxBucketSize), threshold)

  /** Threshold screen over an already-materialized candidate-pairs frame
    * — lets the lake-bound form ride the shared
    * [[AnnOps.sharedKnnPairs]] instead of re-bucketing. */
  private def nearDupsFromPairs(pairs: DataFrame,
                                threshold: Double): DataFrame =
    pairs.filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** Lake-bound form; 0.4 suits the near-uniform synthetic vectors (real
    * embedding spaces use 0.85–0.95). Candidates come from the shared
    * pairs artifact — same layout parameters, definitionally identical. */
  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame =
    nearDupsFromPairs(AnnOps.sharedKnnPairs(spark, dir),
      threshold = 0.4)

  /** SEMANTIC near-dup clusters: connected components over the
    * embedding-cosine pair graph ([[embeddingNearDups]]) — the
    * paraphrase-level twin of the lexical [[nearDupClusters]]: two docs
    * sharing no n-gram still cluster when their embeddings agree.
    * keeper = lowest vec_id per component, same convention as the
    * lexical path, so downstream keep/drop joins are interchangeable. */
  def semanticClusters(emb: DataFrame, threshold: Double = 0.4): DataFrame =
    clustersFromPairs(embeddingNearDups(emb, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("keeper"))

  def semanticClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(embeddingNearDups(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("keeper"))

  /** EXACT set-similarity self-join (AllPairs/PPJoin prefix filter): every
    * doc pair whose word-`n`-gram shingle-set Jaccard ≥ `threshold` — the
    * deterministic complement to the probabilistic MinHash path
    * ([[nearDupPairs]]): no banding parameters, no recall argument, every
    * qualifying pair found by construction. (Shingle sets, not unigram
    * sets: over a small vocabulary unigram Jaccard saturates — nearly all
    * pairs qualify — while n-grams keep sets discriminative.)
    *
    * Never all-pairs. Prefix-filtering principle (Chaudhuri et al.
    * SSJoin / Xiao et al. PPJoin): order every token set by a global
    * total order and keep only the first `|x| − ⌈t·|x|⌉ + 1` tokens as
    * its prefix; two sets with Jaccard ≥ t MUST share a prefix token, so
    * the equi-join on prefix tokens is a lossless candidate generator.
    * The global order is (df asc, token asc) — RAREST FIRST — which is
    * also the skew defense: prefixes are dominated by rare tokens, so
    * the join key fan-out stays small ("the" never lands in a prefix of
    * a doc with any rare token). Candidates then verify with the exact
    * intersection; the ≥ t test is one double division from integer
    * sizes, identical in any engine.
    *
    * Shape: one token shuffle (df counts), one doc shuffle (set
    * assembly), the prefix equi-join, and a bounded re-join of candidate
    * ids to token arrays. Scales linearly in corpus + output size. */
  def setSimilarityJoin(docs: DataFrame, threshold: Double = 0.5,
                        n: Int = 3): DataFrame = {
    // TEXT-REPRESENTATIVE collapse (guide §8 proxy rule, the r15
    // simhashPairs discipline): verbatim-duplicate docs have identical
    // shingle sets, so the whole AllPairs pipeline — shingling, df
    // counts, prefix join, exact verify — runs over ONE representative
    // per distinct text, and member lists expand output-side. A clone
    // clique of m copies cost m²/2 verified candidates before (the
    // sf10 "70 GB scratch" exclusion; 105 s at sf1 ×10 replication),
    // and 1 rep row after. Exactness: identical text ⇒ identical set ⇒
    // within-group Jaccard exactly 1.0 (emitted iff the set is
    // non-empty AND 1.0 ≥ t — matching the old per-doc path, where
    // shingle-less docs never entered the join); a cross-group pair's
    // Jaccard depends only on the two sets, so the rep pair's verified
    // value is every member pair's value. df counts shift from
    // doc-multiplicity to distinct-text counts, which only REORDERS the
    // global rarity order — prefix filtering is lossless under any
    // total order, and the exact verify pins the output.
    val textGroups = docs.filter(col("text").isNotNull)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repDocs = textGroups.select(col("rep_id").as("doc_id"), col("text"))
    // two consumers (df counts, the ordered-set assembly join) — persist so
    // the tokenize+shingle explode runs once; released as soon as `ordered`
    // materializes below
    val docSh = shingled(repDocs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfCounts = docSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per-doc shingle list in global (df, shingle) order + its prefix.
    // Persisted: BOTH the candidate path (prefix explode) and the verify
    // path (set re-join) consume it — unpersisted, the shingle+df+sort
    // subplan runs twice (ReuseExchange is not reliable across the two
    // shapes). Explicitly released after the result materializes below.
    val ordered = docSh.join(dfCounts, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("by_rarity"))
      .select(col("doc_id"),
        expr("transform(by_rarity, s -> s.shingle)").as("tokens"),
        size(col("by_rarity")).as("sz"))
      // 1e-9 slack mirrors minOverlap: when t*size lands exactly on an
      // integer but its double product rounds a hair ABOVE it (t=0.1,
      // size=70 → 7.000000000000001), an unslacked ceil would shorten the
      // prefix below the lossless bound and silently drop boundary pairs.
      // Slack only ever lengthens the prefix → extra candidates, never loss.
      .withColumn("prefix", expr(
        s"slice(tokens, 1, size(tokens) - CAST(ceil($threshold * size(tokens) - 1e-9) AS INT) + 1)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // force the cache NOW (one O(docs) job) so the shingle frame can be
    // dropped before the join fan-out starts — both downstream consumers
    // then read the cached token arrays, never the raw corpus
    ordered.count()
    docSh.unpersist(false)
    // prefix positions ride along for PPJoin's POSITION filter below
    val pref = ordered.select(col("doc_id"), col("sz"),
      posexplode(col("prefix")).as(Seq("pos0", "token")))
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    val pa = pref.select(col("token"), col("doc_id").as("doc_a"),
      col("sz").as("sa"), col("pos").as("pos_a"))
    val pb = pref.select(col("token"), col("doc_id").as("doc_b"),
      col("sz").as("sb"), col("pos").as("pos_b"))
    // PPJoin position filter: a shared prefix token at (1-based) positions
    // (i, j) caps the overlap at min(|x|−i, |y|−j) + 1 — if that cap is
    // below the Jaccard-implied overlap floor ⌈t/(1+t)·(|x|+|y|)⌉ the
    // pair cannot qualify THROUGH THIS TOKEN. Exact (PPJoin, Xiao et
    // al.); the 1e-9 slack only loosens the floor when the float product
    // sits on an integer, so the filter can never become lossy. The
    // ScalaCheck brute-force-equality property guards this claim.
    val minOverlap =
      ceil(lit(threshold / (1 + threshold)) * (col("sa") + col("sb")) - lit(1e-9))
    val cand = pa.join(pb, "token")
      .filter(col("doc_a") < col("doc_b") &&
        // same 1e-9 slack as the prefix: |a|=7 vs |b|=70 at t=0.1 has
        // Jaccard exactly 0.1 but 0.1*70 rounds above 7.0 — the unslacked
        // filter would prune a qualifying boundary pair. Verify below
        // enforces the exact threshold, so slack only admits candidates.
        least(col("sa"), col("sb")) >=
          lit(threshold) * greatest(col("sa"), col("sb")) - lit(1e-9) &&
        least(col("sa") - col("pos_a"), col("sb") - col("pos_b")) + 1 >= minOverlap)
      .select(col("doc_a"), col("doc_b")).distinct()
    val sets = ordered.select(col("doc_id"), col("tokens"), col("sz"))
    val verifiedReps = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("tokens").as("ta"),
        col("sz").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("tokens").as("tb"),
        col("sz").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        col("inter") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    // expand rep pairs to member pairs (output-sized; each unordered doc
    // pair appears exactly once — text groups are disjoint)
    val mem = textGroups.select(col("rep_id"), col("members"))
    val cross = verifiedReps
      .join(mem.select(col("rep_id").as("doc_a"), col("members").as("ma")),
        "doc_a")
      .join(mem.select(col("rep_id").as("doc_b"), col("members").as("mb")),
        "doc_b")
      .select(explode(col("ma")).as("da"), col("mb"), col("jaccard"))
      .select(col("da"), explode(col("mb")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    // within-group pairs: identical sets, Jaccard exactly 1.0 — eligible
    // only when the rep produced a non-empty shingle set (presence in
    // `ordered`, the old path's implicit gate) and 1.0 clears t
    val within = mem.filter(size(col("members")) >= 2 &&
        lit(1.0) >= lit(threshold))
      .join(ordered.select(col("doc_id").as("rep_id")), Seq("rep_id"),
        "left_semi")
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(1.0).as("jaccard"))
    // materialize the pair result (O(output), tiny next to the token-array
    // cache) and release the caches NOW — in a long-lived session repeated
    // calls must not strand corpus-sized MEMORY_AND_DISK frames until the
    // ContextCleaner runs (the surprisal/cleanCorpus discipline)
    val out = cross.unionByName(within)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    ordered.unpersist(false)
    textGroups.unpersist(false)
    out
  }

  def setSimilarityJoin(spark: SparkSession, dir: String): DataFrame =
    setSimilarityJoin(Lake.documents(spark, dir), threshold = 0.5, n = 3)

  /** Audit for [[setSimilarityJoin]]'s candidate stage — the
    * [[oversizedBands]] analogue: per-token PREFIX document frequency,
    * i.e. the equi-join key fan-out. Candidate pairs generated THROUGH a
    * token grow as C(prefix_df, 2), so verify-stage pressure at a larger
    * SF is observable here BEFORE it hurts: a token whose prefix-df blows
    * up is where the rarest-first global order has run out of rare
    * shingles (boilerplate-heavy corpora). Report is bounded by the
    * number of tokens that ever enter a prefix; `minPrefixDf` trims the
    * df-1 tail (tokens that can generate no pair at all). */
  def prefixPressure(docs: DataFrame, threshold: Double = 0.5, n: Int = 3,
                     minPrefixDf: Int = 2): DataFrame = {
    // rank formulation of the same prefix definition as [[orderedSets]]
    // (first |x| − ⌈t·|x|⌉ + 1 shingles in (df, shingle) order): a window
    // over the per-doc frame (bounded by shingles-per-doc) counts prefix
    // membership without materializing the sorted token arrays the join
    // itself needs — the audit is ~3× cheaper than the operator it audits
    val docSh = shingled(docs, n)
    val dfCounts = docSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = docSh.join(dfCounts, "shingle")
      .withColumn("rn", row_number().over(
        byDoc.orderBy(col("df"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
    ranked.groupBy(col("shingle").as("token"))
      .agg(count(lit(1)).as("prefix_df"))
      .filter(col("prefix_df") >= minPrefixDf)
      .select(col("token"), col("prefix_df"),
        (col("prefix_df") * (col("prefix_df") - 1) / lit(2)).cast("long")
          .as("cand_pairs"))
      .orderBy(col("cand_pairs").desc, col("token"))
  }

  def prefixPressure(spark: SparkSession, dir: String): DataFrame =
    prefixPressure(Lake.documents(spark, dir))

  /** Incremental near-dup screen: a NEW batch checked against the
    * EXISTING corpus — the decision table behind "which freshly-crawled
    * docs are paraphrases of something we already hold". LSH buckets are
    * built on both sides and candidates come ONLY from base×fresh bucket
    * collisions: no fresh×fresh pairing (that is intra-batch dedup's
    * job) and, critically, no base×base pairing — the 100 TB base side
    * contributes one signature pass and one bucket shuffle, never a
    * self-join. Each fresh doc reports its BEST base match (highest
    * verified Jaccard, lowest base id on ties) or null = kept.
    *
    * Hot buckets are capped on the BASE side (boilerplate buckets there
    * would fan every fresh doc out quadratically; route such content
    * through [[dedupExact]]). Verify is exact n-gram Jaccard, so the
    * probabilistic stage only proposes — precision is exact.
    *
    * Cache discipline: candidates and pruned shingle sets are consumed
    * by multiple joins; both persist and both are RELEASED once the
    * batch-sized result is materialized (the setSimilarityJoin rule). */
  def incrementalNearDups(base: DataFrame, fresh: DataFrame,
                          threshold: Double = 0.6,
                          maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val baseBk = bandedBuckets(minhashSignatures(base))
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucketSize)
      .select(col("doc_id").as("__base_id"), col("band"), col("band_hash"))
    val freshBk = bandedBuckets(minhashSignatures(fresh))
    val candidates = freshBk.join(baseBk, Seq("band", "band_hash"))
      .select(col("doc_id"), col("__base_id"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val baseSets = shingled(base)
      .join(candidates.select(col("__base_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh"))
      .select(col("doc_id").as("__base_id"), col("sh").as("sh_b"))
    val freshSets = shingled(fresh)
      .join(candidates.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh_f"))
      .persist(MEMORY_AND_DISK)
    val best = candidates
      .join(freshSets, "doc_id")
      .join(baseSets, "__base_id")
      .withColumn("j",
        size(array_intersect(col("sh_f"), col("sh_b"))) /
        size(array_union(col("sh_f"), col("sh_b"))))
      .filter(col("j") >= threshold)
      // best match = lexicographic max of (jaccard, -base_id): exact
      // integer-ratio doubles compare identically on any engine
      .groupBy(col("doc_id"))
      .agg(max(struct(col("j"), (-col("__base_id")).as("neg"))).as("__m"))
      .select(col("doc_id"), (-col("__m.neg")).as("dup_of"),
        round(col("__m.j"), 4).as("jaccard"))
    val out = fresh.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    candidates.unpersist(false)
    freshSets.unpersist(false)
    out
  }

  /** Driver split: every fifth doc plays the "new batch", the rest the
    * standing corpus. */
  def incrementalNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.documents(spark, dir)
    incrementalNearDups(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(5)) === 0))
  }

  /** Paragraph-granularity dedup with document reconstruction: segment
    * each doc, keep only the globally FIRST occurrence of every distinct
    * paragraph (first = lowest (doc_id, para_idx)), and reassemble what
    * survives in original order — the sub-document screen whole-doc dedup
    * misses (boilerplate headers, licence blocks, syndicated passages
    * repeated across otherwise-distinct pages). Docs whose every
    * paragraph appeared earlier vanish from the output entirely.
    *
    * The lake's documents carry no newlines, so segmentation here is
    * fixed `blockWords`-word blocks; the machinery is
    * segmentation-agnostic (swap the block transform for a split on
    * "\n\n" on real corpora).
    *
    * Scale shape: first-occurrence selection is a `min(struct(doc_id,
    * para_idx))` AGGREGATE keyed by paragraph — partial-aggregable, so a
    * boilerplate paragraph repeated in 100M docs combines map-side
    * instead of sorting 100M rows in one window partition (the
    * row_number formulation has no partial). One paragraph-keyed
    * aggregate + one paragraph-keyed join back + one doc-keyed rebuild:
    * three shuffles, all on high-cardinality keys, corpus-linear. */
  def paragraphDedup(docs: DataFrame, blockWords: Int = 16): DataFrame = {
    require(blockWords >= 1, "paragraph block must be at least one word")
    // the segmentation feeds BOTH the first-occurrence aggregate and the
    // join back; ReuseExchange does not unify the two shapes (measured:
    // two parquet scans in the executed plan), so persist the segmented
    // frame for the query's lifetime and release it eagerly once the
    // result is materialized (the nearDupPairs discipline) — at corpus
    // scale a second segmentation pass is a second full read
    val paras = segmented(docs, blockWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = paras.groupBy(col("para"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("__first"))
    val out = paras.join(firsts, "para")
      .filter(col("doc_id") === col("__first.doc_id") &&
        col("para_idx") === col("__first.para_idx"))
      .groupBy(col("doc_id"), col("n_paras"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("para_idx"), col("para")))),
          p => p.getField("para")), " ").as("text_clean"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"), col("text_clean"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    paras.unpersist(false)
    out
  }

  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedup(Lake.documents(spark, dir))

  /** One row per `blockWords`-word paragraph: (doc_id, n_paras,
    * para_idx, para) — the shared segmentation under [[paragraphDedup]]
    * and [[dupRates]]. */
  private def segmented(docs: DataFrame, blockWords: Int): DataFrame = {
    val b = lit(blockWords)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        floor((size(col("__toks")) + b - 1) / b).cast("long").as("n_paras"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("__toks")) + b - 1) / b).cast("int") - 1),
          i => array_join(slice(col("__toks"), i * b + 1, b), " "))))
      .withColumnRenamed("pos", "para_idx")
      .withColumnRenamed("col", "para")
  }

  /** Per-source duplication report — the health dashboard a corpus
    * curator reads before deciding which crawls to keep: exact-copy rate
    * (distinct texts vs docs) and paragraph-level duplication rate
    * (non-first paragraph occurrences against the GLOBAL corpus, same
    * segmentation and first-occurrence rule as [[paragraphDedup]]) per
    * source. A source can be exact-clean yet paragraph-dirty — syndicated
    * passages — which is exactly the gap between the two columns.
    *
    * Scale: the exact layer is one partial-aggregable group-by; the
    * paragraph layer reuses the min-struct first-occurrence aggregate
    * (map-side combinable, no window) + one join back, both keyed on the
    * high-cardinality paragraph. */
  def dupRates(docs: DataFrame, blockWords: Int = 16): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
    val exact = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_uniq_texts"))
    // same double consumption as paragraphDedup: persist the segmented
    // frame, materialize the bounded per-source report, release eagerly
    val paras = segmented(d, blockWords)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = paras.groupBy(col("para"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("__first"))
    val paraStats = paras.join(firsts, "para")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("doc_id") =!= col("__first.doc_id") ||
          col("para_idx") =!= col("__first.para_idx"), lit(1L))
          .otherwise(lit(0L))).as("n_dup_paras"))
    val out = exact.join(paraStats, "source")
      // count/count → exact integer half-up ([[ExactRound]])
      .select(col("source"), col("n_docs"), col("n_uniq_texts"),
        (ExactRound.halfUpPos("10000 * (n_docs - n_uniq_texts)",
          "n_docs").cast("double") / 1e4).as("exact_dup_rate"),
        col("n_paras"), col("n_dup_paras"),
        (ExactRound.halfUpPos("10000 * n_dup_paras", "n_paras")
          .cast("double") / 1e4).as("para_dup_rate"))
      .orderBy(col("source"))
      .localCheckpoint(true)
    paras.unpersist(false)
    out
  }

  def dupRates(spark: SparkSession, dir: String): DataFrame =
    dupRates(Lake.documents(spark, dir))

  /** Record-linkage / entity-resolution over a string-keyed dimension
    * column: candidate pairs come from the DISTINCT value dictionary only
    * (NDV-bounded — never row × row), blocked on the first whitespace
    * token so the quadratic term is per-block, then verified with exact
    * edit distance. Row multiplicities ride on each side so the caller
    * can size the merge a match implies. At 100 TB the names frame is the
    * column's NDV — dictionary-sized — so the blocked self-join stays a
    * broadcast; the only corpus-wide work is the one counting group-by. */
  def entityMatch(rows: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    val names = rows.filter(col(nameCol).isNotNull)
      .groupBy(col(nameCol).as("name")).agg(count(lit(1)).as("n"))
    val a = names.select(col("name").as("name_a"), col("n").as("n_a"),
      split(col("name"), " ").getItem(0).as("block_a"))
    val b = names.select(col("name").as("name_b"), col("n").as("n_b"),
      split(col("name"), " ").getItem(0).as("block_b"))
    a.join(b, col("block_a") === col("block_b") && col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"), col("dist"))
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  /** Driver binding: near-identical part names at edit distance ≤ 3. */
  def entityMatchQuery(spark: SparkSession, dir: String): DataFrame =
    entityMatch(Lake.part(spark, dir), "p_name", 3)

  /** Fellegi–Sunter agreement weights — the SCORING layer the
    * rule-based [[entityMatch]] threshold stops short of: for each
    * comparison attribute, m = P(agree | matched pair) estimated from
    * the verified name-match pairs, u = P(agree | random pair) in the
    * frequency-based closed form Σf(f−1)/(N(N−1)) — no random-pair
    * sampling, the exact expectation over the value distribution — and
    * the log₂ agreement / disagreement weights a probabilistic linker
    * sums per candidate. Attribute values ride per NAME (deterministic
    * min per name, since the dictionary — not the row set — defines the
    * pair universe). Everything after the NDV-bounded match join is
    * tiny-frame arithmetic: per-attribute value-frequency aggregates
    * and one-row broadcasts; counts stay BIGINT until the m/u divides,
    * and degenerate weights (m ∈ {0,1} or u = 0 — log of zero) surface
    * as NULL, never ±∞. */
  def fsWeights(spark: SparkSession, dir: String): DataFrame =
    fsWeights(Lake.part(spark, dir))

  def fsWeights(parts: DataFrame): DataFrame = {
    val dict = parts.groupBy(col("p_name").as("name"))
      .agg(min(col("p_brand")).as("brand"),
        min(col("p_type")).as("ptype"),
        min(col("p_size")).as("size"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = entityMatch(parts, "p_name", 3)
      .select(col("name_a"), col("name_b"))
      .join(broadcast(dict.select(col("name").as("name_a"),
        col("brand").as("brand_a"), col("ptype").as("ptype_a"),
        col("size").as("size_a"))), "name_a")
      .join(broadcast(dict.select(col("name").as("name_b"),
        col("brand").as("brand_b"), col("ptype").as("ptype_b"),
        col("size").as("size_b"))), "name_b")
    val mrow = pairs.agg(count(lit(1)).as("n_pairs"),
      sum((col("brand_a") === col("brand_b")).cast("long")).as("m_brand"),
      sum((col("ptype_a") === col("ptype_b")).cast("long")).as("m_type"),
      sum((col("size_a") === col("size_b")).cast("long")).as("m_size"))
    def uRow(c: String, alias: String): DataFrame =
      dict.groupBy(col(c)).agg(count(lit(1)).as("f"))
        .agg(coalesce(sum(col("f") * (col("f") - 1)), lit(0L))
          .as(s"u_num_$alias"))
    val nRow = dict.agg(count(lit(1)).as("n_recs"))
    val one = mrow.crossJoin(broadcast(uRow("brand", "brand")))
      .crossJoin(broadcast(uRow("ptype", "ptype")))
      .crossJoin(broadcast(uRow("size", "size")))
      .crossJoin(broadcast(nRow))
    val rows = one.select(explode(array(
        struct(lit("p_brand").as("attribute"), col("n_pairs"),
          col("m_brand").as("m_cnt"), col("u_num_brand").as("u_num"),
          col("n_recs")),
        struct(lit("p_type").as("attribute"), col("n_pairs"),
          col("m_type").as("m_cnt"), col("u_num_ptype").as("u_num"),
          col("n_recs")),
        struct(lit("p_size").as("attribute"), col("n_pairs"),
          col("m_size").as("m_cnt"), col("u_num_size").as("u_num"),
          col("n_recs")))).as("r"))
      .select(col("r.*"))
      .withColumn("m", col("m_cnt").cast("double") / col("n_pairs"))
      .withColumn("u", col("u_num").cast("double") /
        (col("n_recs").cast("double") * (col("n_recs") - 1)))
    val out = rows.select(col("attribute"), col("n_pairs"),
        round(col("m"), 6).as("m"), round(col("u"), 6).as("u"),
        when(col("m") > 0 && col("u") > 0,
          round(log2(col("m") / col("u")), 4)).as("w_agree"),
        when(col("m") < 1 && col("u") < 1,
          round(log2((lit(1.0) - col("m")) / (lit(1.0) - col("u"))), 4))
          .as("w_disagree"))
      .orderBy(col("attribute"))
      .localCheckpoint(true)
    dict.unpersist(false)
    out
  }

  /** Golden-record survivorship — the merge step [[entityMatch]] stops
    * short of: matched-name pairs close transitively into entity
    * clusters (A~B, B~C ⇒ one entity even when A≁C), and each cluster
    * emits ONE master row with per-attribute survivorship: most-frequent
    * value for categoricals (smallest value breaks ties —
    * deterministic), min/max for bounds-like numerics. The entity key is
    * the cluster's lexicographically smallest name, so output identity
    * never depends on internal cluster labels.
    *
    * Shape: pairs are NDV-bounded (the [[entityMatch]] argument);
    * components ride the shared [[clustersFromPairs]] machinery over
    * 64-bit name hashes (labels never surface — the canonical name is
    * recomputed as min(name) per component, so a hash collision could
    * only ever merge two clusters, never corrupt the key); the one
    * corpus-wide action is the rows→entity equi join on the name
    * dictionary, then bounded per-entity aggregates. Mode selection is a
    * per-entity-partitioned window over the (entity, value) counts —
    * never a global sort. Blocking confines chains to a block, so
    * components stay dictionary-local. */
  def goldenRecord(rows: DataFrame, nameCol: String, maxDist: Int,
                   modeCol: String, minCol: String,
                   maxCol: String): DataFrame = {
    val pairs = entityMatch(rows, nameCol, maxDist)
      .select(xxhash64(col("name_a")).as("doc_a"),
        xxhash64(col("name_b")).as("doc_b"))
    val comp = clustersFromPairs(pairs)
    val dict = rows.filter(col(nameCol).isNotNull)
      .select(col(nameCol).as("name")).distinct()
      .withColumn("h", xxhash64(col("name")))
      .join(comp.select(col("doc_id").as("h"), col("keeper")), Seq("h"), "left")
      .withColumn("cl", coalesce(col("keeper"), col("h")))
    val entities = dict.groupBy(col("cl"))
      .agg(min(col("name")).as("entity"),
        count(lit(1)).as("n_names"))
    val tagged = rows.filter(col(nameCol).isNotNull)
      .join(dict.select(col("name").as(nameCol), col("cl")), Seq(nameCol))
      .join(entities, Seq("cl"))
    val bounds = tagged.groupBy(col("entity"))
      .agg(max(col("n_names")).as("n_names"),
        count(lit(1)).as("n_rows"),
        min(col(minCol).cast(DecimalType(18, 2))).as("__min"),
        max(col(maxCol)).as("__max"))
    val mode = tagged.groupBy(col("entity"), col(modeCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("entity"))
          .orderBy(col("__c").desc, col(modeCol))))
      .filter(col("__rk") === 1)
      .select(col("entity"), col(modeCol).as("mode_value"))
    bounds.join(mode, Seq("entity"))
      .select(col("entity"), col("n_names"), col("n_rows"),
        col("mode_value"),
        round(col("__min").cast("double"), 2).as("min_value"),
        col("__max").as("max_value"))
      .orderBy(col("entity"))
  }

  /** Driver binding: master parts — near-identical names merged, brand
    * by frequency, the tightest price and the widest size surviving. */
  def goldenRecordQuery(spark: SparkSession, dir: String): DataFrame =
    goldenRecord(Lake.part(spark, dir), "p_name", 3,
      modeCol = "p_brand", minCol = "p_retailprice", maxCol = "p_size")

  /** Containment (asymmetric-Jaccard) join: directed pairs where at
    * least `threshold` of the INNER doc's shingles appear in the outer
    * doc — the quotation/subset screen symmetric Jaccard is blind to (a
    * paragraph quoted inside a long page has Jaccard ≈ |A|/|B| ≈ 0 but
    * containment 1). Prefix filter on the inner side ONLY (rarest-first
    * order, length |A| − ⌈t·|A|⌉ + 1, the setSimilarityJoin slack): a
    * qualifying pair must share an inner-prefix shingle with the outer
    * doc's FULL set, so candidates come from one prefix⋈index equi join
    * — the classic containment-join shape, whose price is the outer side
    * indexing every shingle (bounded by shingle df, never all-pairs).
    * Exact intersect verifies; output is directed (both directions
    * appear for exact dups). */
  def containmentJoin(docs: DataFrame, threshold: Double = 0.9,
                      n: Int = 3,
                      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(maxShingleDf >= 2, "maxShingleDf must allow at least one pair")
    // TEXT-REPRESENTATIVE collapse (the r15 setSimilarityJoin
    // discipline): containment C(in→out) depends only on the two
    // texts, so shingling, the prefix⋈index join and the exact verify
    // run over ONE representative per distinct text (71 s → the
    // representative cost at sf1 ×10 replication), and member lists
    // expand output-side — identical-text pairs emit both directions
    // at containment 1 straight off the member array, exactly the old
    // doc-level rows. Shingle dfs stay DOC-multiplicity counts
    // (each rep's shingles weighted by its member count), so the
    // rarity order, the `maxShingleDf` cap, and therefore the exact
    // candidate set are unchanged — only the join's row count shrinks.
    val textGroups = docs.filter(col("text").isNotNull)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repDocs = textGroups.select(col("rep_id").as("doc_id"), col("text"))
    val docSh = shingled(repDocs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repW = textGroups.select(col("rep_id").as("doc_id"),
      size(col("members")).cast("long").as("__w"))
    val dfCounts = docSh.join(repW, "doc_id")
      .groupBy(col("shingle")).agg(sum(col("__w")).as("df"))
    val ordered = docSh.join(dfCounts, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("by_rarity"))
      .select(col("doc_id"),
        expr("transform(by_rarity, s -> s.shingle)").as("tokens"),
        // index-side tokens: the hot-shingle cap drops saturated
        // stop-shingles from the OUTER index only (df-many fan-out each;
        // see [[containmentPressure]] for the audit) — verify still runs
        // on FULL sets, so surviving pairs stay exact; pairs whose ONLY
        // shared inner-prefix shingle is hot may be missed (the
        // hot-bucket-cap tradeoff, never silent)
        expr(s"transform(filter(by_rarity, s -> s.df <= $maxShingleDf)," +
          " s -> s.shingle)").as("idx_tokens"),
        size(col("by_rarity")).as("sz"))
      .withColumn("prefix", expr(
        s"slice(tokens, 1, size(tokens) - CAST(ceil($threshold * size(tokens) - 1e-9) AS INT) + 1)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ordered.count()
    docSh.unpersist(false)
    val pa = ordered.select(col("doc_id").as("doc_in"), col("sz").as("s_in"),
      explode(col("prefix")).as("token"))
    val pb = ordered.select(col("doc_id").as("doc_out"),
      explode(col("idx_tokens")).as("token"))
    val cand = pa.join(pb, "token")
      .filter(col("doc_in") =!= col("doc_out"))
      .select(col("doc_in"), col("doc_out"), col("s_in")).distinct()
    val sets = ordered.select(col("doc_id"), col("tokens"))
    val verifiedReps = cand
      .join(sets.select(col("doc_id").as("doc_in"),
        col("tokens").as("t_in")), Seq("doc_in"))
      .join(sets.select(col("doc_id").as("doc_out"),
        col("tokens").as("t_out")), Seq("doc_out"))
      .withColumn("inter",
        size(array_intersect(col("t_in"), col("t_out"))))
      .filter(col("inter").cast("double") / col("s_in") >= threshold)
      .select(col("doc_in"), col("doc_out"), col("s_in"), col("inter"))
    // expand rep pairs to DIRECTED member pairs (output-sized; text
    // groups are disjoint, so every ordered doc pair appears once)
    val mem = textGroups.select(col("rep_id"), col("members"))
    val cross = verifiedReps
      .join(mem.select(col("rep_id").as("doc_in"), col("members").as("m_in")),
        "doc_in")
      .join(mem.select(col("rep_id").as("doc_out"), col("members").as("m_out")),
        "doc_out")
      .select(explode(col("m_in")).as("x"), col("m_out"), col("s_in"),
        col("inter"))
      .select(col("x"), explode(col("m_out")).as("y"), col("s_in"),
        col("inter"))
      .select(col("x").as("doc_in"), col("y").as("doc_out"), col("s_in"),
        col("inter"))
    // identical-text pairs: containment exactly 1 in BOTH directions
    // (inter = s_in = sz) — eligible only when 1 clears t AND the old
    // candidate machinery would have found the pair: at least one
    // prefix shingle must SURVIVE the hot-shingle cap in the outer
    // index (prefix ∩ idx_tokens non-empty; with the default unbounded
    // cap this is just "the shingle set is non-empty"), so a capped
    // run still generates nothing for saturated clone cliques, exactly
    // as before
    val within = mem.filter(size(col("members")) >= 2 &&
        lit(1.0) >= lit(threshold))
      .join(ordered.select(col("doc_id").as("rep_id"), col("sz"),
        (size(array_intersect(col("prefix"), col("idx_tokens"))) > 0)
          .as("__cap_ok")), "rep_id")
      .filter(col("__cap_ok"))
      .select(explode(col("members")).as("x"), col("members"), col("sz"))
      .select(col("x"), explode(col("members")).as("y"), col("sz"))
      .filter(col("x") =!= col("y"))
      .select(col("x").as("doc_in"), col("y").as("doc_out"),
        col("sz").as("s_in"), col("sz").as("inter"))
    // count/count → exact integer half-up ([[ExactRound]]); the
    // threshold filter above keeps its double compare (same tree)
    val out = cross.unionByName(within)
      .select(col("doc_in"), col("doc_out"),
        col("s_in").cast("long").as("s_in"),
        col("inter").cast("long").as("inter"),
        (ExactRound.halfUpPos("1000000 * CAST(inter AS BIGINT)",
          "CAST(s_in AS BIGINT)").cast("double") / 1e6)
          .as("containment"))
      .orderBy(col("doc_in"), col("doc_out"))
      .localCheckpoint(true)
    ordered.unpersist(false)
    textGroups.unpersist(false)
    out
  }

  def containmentJoin(spark: SparkSession, dir: String): DataFrame =
    containmentJoin(Lake.documents(spark, dir))

  /** Audit for [[containmentJoin]]'s candidate stage — the
    * [[prefixPressure]] analogue for the DIRECTED join: the outer side
    * inverts EVERY shingle, so candidates generated through a shingle
    * grow as prefix_df × (df − 1) (each inner prefix occurrence pairs
    * with every OTHER doc holding the shingle), not C(prefix_df, 2).
    * One saturated stop-shingle at 100 TB fans out df-many candidate
    * rows per quoting doc — this report makes that observable BEFORE it
    * hurts, and is the instrument that justifies flipping
    * [[containmentJoin]]'s `maxShingleDf` cap on. Bounded by the number
    * of shingles that ever enter an inner prefix. */
  def containmentPressure(docs: DataFrame, threshold: Double = 0.9,
                          n: Int = 3): DataFrame = {
    val docSh = shingled(docs, n)
    val dfCounts = docSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = docSh.join(dfCounts, "shingle")
      .withColumn("rn", row_number().over(
        byDoc.orderBy(col("df"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
    ranked.groupBy(col("shingle").as("token"), col("df"))
      .agg(count(lit(1)).as("prefix_df"))
      .select(col("token"), col("prefix_df"), col("df"),
        (col("prefix_df") * (col("df") - 1)).as("cand_pairs"))
      .filter(col("cand_pairs") >= 1)
      .orderBy(col("cand_pairs").desc, col("token"))
  }

  def containmentPressure(spark: SparkSession, dir: String): DataFrame =
    containmentPressure(Lake.documents(spark, dir))

  /** Cross-TABLE record linkage — the A×B form of [[entityMatch]]: link
    * one catalog's name dictionary against another's (vendor master vs
    * purchase feed, crawl domain list vs blocklist). Same NDV-dictionary
    * + first-token blocking + exact edit distance; no `a < b` constraint
    * because the sides are distinct relations. */
  def entityLink(left: DataFrame, right: DataFrame, nameCol: String,
                 maxDist: Int): DataFrame = {
    def dict(df: DataFrame, side: String) =
      df.filter(col(nameCol).isNotNull)
        .groupBy(col(nameCol).as(s"name_$side"))
        .agg(count(lit(1)).as(s"n_$side"))
        .withColumn(s"block_$side",
          split(col(s"name_$side"), " ").getItem(0))
    dict(left, "a").join(dict(right, "b"),
        col("block_a") === col("block_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"), col("dist"))
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  /** Sampled dedup-recall audit: does banded-LSH candidate generation
    * actually find the true near-duplicate pairs? Ground truth cannot be
    * all-pairs at scale, so the audit samples docs by the portable
    * Lehmer bucket and computes their TRUE near-dup partners exactly via
    * the inverted shingle index (sampled shingles ⋈ corpus shingles —
    * bounded by the sampled side times shingle df, the containmentJoin
    * shape, never corpus × corpus). The found side is the production
    * [[nearDupPairs]] pipeline restricted to pairs touching a sampled
    * doc. Exact verification makes found ⊆ true, so the single recall
    * number is the banding loss — THE metric to watch when retuning
    * bands/rows at a new corpus scale. */
  def dedupRecall(docs: DataFrame, threshold: Double = 0.6,
                  sampleBuckets: Int = 2000): DataFrame =
    dedupRecall(docs, nearDupPairs(docs, threshold), threshold, sampleBuckets)

  /** Core with the found-pairs frame supplied — the lake-bound form
    * passes [[sharedNearDups]] so the audit never re-runs
    * the production pipeline it is auditing. */
  def dedupRecall(docs: DataFrame, foundPairs: DataFrame, threshold: Double,
                  sampleBuckets: Int): DataFrame = {
    // TEXT-REPRESENTATIVE collapse (the r15 setSimilarityJoin
    // discipline): the ground-truth Jaccard between two docs depends
    // only on their texts, so the shingle self-join — the audit's
    // whole cost, and quadratic in clone multiplicity through the
    // shared-shingle fan-out (28.7 s at sf1 ×10 replication) — runs
    // over ONE representative per distinct text. Member lists (with
    // their per-doc sample flags: sampleBucket is a pure doc_id
    // function) expand AFTER the Jaccard screen, output-sized. An
    // unordered doc pair enters the truth iff EITHER endpoint is
    // sampled — exactly the old directed-join-then-least/greatest
    // semantics; within-group pairs (identical text, Jaccard 1) carry
    // the old path's implicit gates: a non-empty shingle set and
    // 1.0 ≥ t.
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        (CorpusOps.sampleBucket < sampleBuckets).as("is_s"))
    val textGroups = base.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        sort_array(collect_list(when(col("is_s"), col("doc_id"))))
          .as("smembers"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repDocs = textGroups.select(col("rep_id").as("doc_id"), col("text"))
    val sh = shingled(repDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val sReps = textGroups.filter(size(col("smembers")) > 0)
      .select(col("rep_id").as("doc_id"))
    val sShingle = sh.join(sReps, Seq("doc_id"), "left_semi")
    val shared = sShingle.as("s")
      .join(sh.as("o"), col("s.shingle") === col("o.shingle") &&
        col("s.doc_id") =!= col("o.doc_id"))
      .groupBy(col("s.doc_id").as("sd"), col("o.doc_id").as("od"))
      .agg(count(lit(1)).as("shared"))
    val repPairs = shared
      .join(broadcast(sizes.select(col("doc_id").as("sd"), col("sz").as("sz_a"))), "sd")
      .join(broadcast(sizes.select(col("doc_id").as("od"), col("sz").as("sz_b"))), "od")
      .filter(col("shared") /
        (col("sz_a") + col("sz_b") - col("shared")) >= threshold)
      .select(least(col("sd"), col("od")).as("ra"),
        greatest(col("sd"), col("od")).as("rb"))
      .distinct()
    val g = textGroups.select(col("rep_id"), col("members"), col("smembers"))
    val cross = repPairs
      .join(g.select(col("rep_id").as("ra"), col("members").as("ma"),
        col("smembers").as("sma")), "ra")
      .join(g.select(col("rep_id").as("rb"), col("members").as("mb"),
        col("smembers").as("smb")), "rb")
      .select(explode(col("ma")).as("x"), col("mb"), col("sma"), col("smb"))
      .select(col("x"), explode(col("mb")).as("y"), col("sma"), col("smb"))
      .filter(array_contains(col("sma"), col("x")) ||
        array_contains(col("smb"), col("y")))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
    val within = g.filter(size(col("members")) >= 2 &&
        size(col("smembers")) > 0 && lit(1.0) >= lit(threshold))
      .join(sh.select(col("doc_id").as("rep_id")), Seq("rep_id"), "left_semi")
      .select(col("smembers"), explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .filter(array_contains(col("smembers"), col("p.doc_a")) ||
        array_contains(col("smembers"), col("p.doc_b")))
      .select(col("p.doc_a"), col("p.doc_b"))
    val truePairs = cross.unionByName(within)
      .localCheckpoint(true)
    sh.unpersist(false)
    textGroups.unpersist(false)
    val found = foundPairs
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truePairs
      .join(found, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(col("n_true"), col("n_found"),
        // an empty ground truth yields NULL, not 0/0
        when(col("n_true") > 0,
          round(col("n_found") / col("n_true"), 4)).as("recall"))
  }

  def dedupRecall(spark: SparkSession, dir: String): DataFrame =
    dedupRecall(Lake.documents(spark, dir),
      sharedNearDups(spark, dir), threshold = 0.6,
      sampleBuckets = 2000)

  /** Dedup savings forecast per source: the bytes (chars) that dropping
    * near-dup cluster LOSERS would remove — the number that justifies
    * (or kills) a dedup budget before anyone runs it. Shared pairs
    * artifact → clusters → losers (non-keeper members), one left join
    * onto the doc frame, bounded per-source aggregate. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val losers = nearDupClusters(spark, dir)
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id")).withColumn("is_loser", lit(1L))
    Lake.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(losers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(coalesce(col("is_loser"), lit(0L))).as("n_losers"),
        sum(when(col("is_loser") === 1L, col("n_chars")).otherwise(0L))
          .as("loser_chars"))
      // count/count → exact integer half-up ([[ExactRound]])
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("n_losers"), col("loser_chars"),
        (ExactRound.halfUpPos("1000000 * loser_chars", "total_chars")
          .cast("double") / 1e6).as("savings_share"))
      .orderBy(col("source"))
  }

  /** Reliability diagram: quality score vs near-dup membership — does
    * the quality heuristic actually PREDICT duplication? Each 0.1-wide
    * quality bucket reports its docs and the share that belong to some
    * verified near-dup pair (from the SHARED artifact). A flat curve
    * means the score carries no dedup signal; a monotone one justifies
    * quality-gated dedup budgets. One corpus scoring pass + one bounded
    * membership frame, left-joined; bucket boundaries evaluate the SAME
    * floor(quality·10) doubles in both engines. */
  def qualityDupCalibration(spark: SparkSession, dir: String): DataFrame = {
    val members = sharedNearDups(spark, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    TextOps.docQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(members, Seq("doc_id"), "left")
      .groupBy(floor(col("quality") * 10).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      // count/count → exact integer half-up ([[ExactRound]])
      .select(col("bucket"), col("n_docs"), col("n_dup"),
        (ExactRound.halfUpPos("10000 * n_dup", "n_docs")
          .cast("double") / 1e4).as("dup_share"))
      .orderBy(col("bucket"))
  }

  /** Isotonic (antitonic) calibration of the reliability diagram — the
    * monotone-corrected duplicate-risk curve the raw
    * [[qualityDupCalibration]] deciles only suggest: fit the best
    * NONINCREASING rate (weighted least squares) under the hypothesis
    * "higher quality → less duplication", so downstream dedup budgets
    * read a noise-free risk per quality band. The sequential PAV pooling
    * is replaced by its closed-form minimax characterization
    * ŷᵢ = min_{j≤i} max_{k≥i} wmean(j..k) — each interval mean an exact
    * integer ratio (Σdup/Σdocs off two cumulative sums) divided once —
    * which is order-free and therefore both distributable and
    * DuckDB-replayable, unlike the pooling loop. Everything runs on the
    * ≤10-row decile frame: the (i, j, k) triple enumeration is two
    * broadcast range-joins over it, bounded by construction. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val base = qualityDupCalibration(spark, dir)
      .select(col("bucket"), col("n_docs"), col("n_dup"), col("dup_share"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("cum_n", sum(col("n_docs")).over(wCum))
      .withColumn("cum_k", sum(col("n_dup")).over(wCum))
      .withColumn("cumb_n", col("cum_n") - col("n_docs"))
      .withColumn("cumb_k", col("cum_k") - col("n_dup"))
      .localCheckpoint(true)
    val intervals = cum.select(col("bucket").as("bj"), col("cumb_n"),
        col("cumb_k"))
      .join(broadcast(cum.select(col("bucket").as("bk"), col("cum_n"),
        col("cum_k"))), col("bj") <= col("bk"))
      .select(col("bj"), col("bk"),
        (col("cum_k") - col("cumb_k")).cast("double")
          ./((col("cum_n") - col("cumb_n")).cast("double")).as("imean"))
    val fitted = cum.select(col("bucket"))
      .join(broadcast(intervals),
        col("bj") <= col("bucket") && col("bucket") <= col("bk"))
      .groupBy(col("bucket"), col("bj"))
      .agg(max(col("imean")).as("gmax"))
      .groupBy(col("bucket"))
      .agg(min(col("gmax")).as("iso"))
    base.join(fitted, Seq("bucket"))
      .select(col("bucket"), col("n_docs"), col("n_dup"), col("dup_share"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy(col("bucket"))
  }

  /** Near-dup cluster SIZE distribution — the release metric behind any
    * dedup decision: how much of the corpus sits in big duplicate
    * families (one giant cluster means boilerplate or a crawler loop;
    * a long size-1 tail means dedup will barely shrink the corpus).
    * Singletons are REAL size-1 clusters here, not noise — the histogram
    * covers every non-null doc. Reads the SHARED verified-pairs artifact
    * through [[nearDupClusters]]; one left join + two bounded aggregates
    * (cluster frame, then the ≤max-cluster-size histogram).
    * `n_docs = cluster_size · n_clusters` by construction, carried so
    * the duplication mass per size band reads directly off the row. */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cl = nearDupClusters(spark, dir)
      .select(col("doc_id"), col("keeper"))
    Lake.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(coalesce(col("keeper"), col("doc_id")).as("keeper"))
      .groupBy(col("keeper"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }
}
