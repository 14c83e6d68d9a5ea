package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.Lake

/** Graph analytics over lake-derived graphs (SURVEY.md §2 item 150).
  *
  * The connected-components machinery lives with dedup
  * ([[DedupOps.clustersFromPairs]]); this module holds the
  * rank/propagation family. Everything is edge-frame-shaped: a graph is
  * just a DataFrame of (src, dst) rows, so any join/aggregate source —
  * trade relationships, kNN neighborhoods, session transitions — drops
  * in. */
object GraphOps {

  private val dec12 = DecimalType(38, 12)

  /** PageRank by power iteration over an arbitrary symmetric edge frame:
    * rank flows along edges, `damping` of it recycled each round plus the
    * uniform teleport share. A FIXED iteration count (default 3) keeps
    * the result closed-form enough for an exact oracle while showing the
    * real distributed shape: each iteration is one edge⋈rank join + one
    * aggregation — rank and degree frames are node-sized, edges stay
    * distributed, the node count is a one-row broadcast. With symmetric
    * edges every node has out-degree ≥ 1, so no dangling-mass correction
    * is needed.
    *
    * Determinism discipline: per-edge contributions are one double
    * division rounded to 12 decimals and summed as DECIMAL(38,12) —
    * addition-order-independent — and each new rank is one fixed double
    * expression of that exact sum, re-rounded to 12. Any engine replaying
    * the same expressions over the same integers agrees bit-for-bit.
    *
    * The edge frame is persisted for the life of the loop (consumed
    * `iters`+1 times) and released as soon as the bounded result is
    * materialized — the setSimilarityJoin cache discipline. */
  def pageRank(edges0: DataFrame, iters: Int = 3, damping: Double = 0.85,
               k: Int = 20, maxBroadcastNodes: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val edges = edges0.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node count probed once driver-side (a bounded one-row aggregate,
    // the autoJoin precedent) — it feeds the teleport constant as a
    // literal AND picks the join strategy below
    val n = deg.count()
    // the contributing node's OUT-degree rides on the edge row itself, so
    // each iteration is ONE edge⋈rank join + one aggregate — no per-round
    // degree re-join. With symmetric edges every node receives at least
    // one contribution (each neighbor has out-degree ≥ 1), so the
    // aggregate's key set IS the node set and no outer join is needed.
    // same adaptive rule for the one-time degree attach: node-sized
    // frames broadcast to the edges, so the edge side is never shuffled
    val degAsSrc = deg.select(col("node").as("src"), col("deg"))
    val ewd = edges
      .join(if (n <= maxBroadcastNodes) broadcast(degAsSrc) else degAsSrc, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the whole iteration runs in scale-12 LONG space with exact
    // integer half-up ([[ExactRound]]): 1/n, pr/deg, and the damping
    // update ((100−d2)·10¹² + d2·m12·n)/(100n) are all terminating
    // quotients; the update numerator exceeds int64 at node scale, so
    // it stages through decimal(38,0)
    val d2 = math.round(damping * 100)
    var pr = deg.select(col("node"),
      lit((2L * 1000000000000L + n) / (2L * n)).as("pr12"))
    for (_ <- 1 to iters) {
      // rank frames are node-sized: when they fit the broadcast budget,
      // ship ranks to the edges (the persisted edge side is never
      // re-shuffled or re-sorted — profiled ~2× on the trade graph);
      // beyond the cap, fall back to the shuffle join, the web-scale
      // shape where neither side broadcasts
      val prSide = if (n <= maxBroadcastNodes) broadcast(pr) else pr
      pr = ewd
        .join(prSide, ewd("src") === pr("node"))
        .select(col("dst"), ExactRound.halfUpPos("pr12", "deg").as("c12"))
        .groupBy(col("dst")).agg(sum(col("c12")).as("m12"))
        .withColumn("num",
          (col("m12").cast(DecimalType(38, 0)) * d2 * n
            + lit(100L - d2) * lit(1000000000000L))
            .cast(DecimalType(38, 0)))
        .select(col("dst").as("node"),
          ExactRound.halfUpPos("num", s"${100L * n}").as("pr12"))
    }
    val out = pr
      .join(deg, "node") // reattach degree for the report only
      .select(col("node"), col("deg"), col("pr12"),
        (ExactRound.halfUpPos("pr12", "1000000").cast("double") / 1e6)
          .as("pagerank"))
      .orderBy(col("pr12").desc, col("node"))
      .limit(k)
      .drop("pr12")
      .localCheckpoint(true)
    ewd.unpersist(false)
    deg.unpersist(false)
    edges.unpersist(false)
    out
  }

  /** The lake's trade graph: customer `c<key>` ↔ supplier `s<key>` with
    * an edge per DISTINCT trading pair (orders ⋈ lineitem), symmetric so
    * rank flows both ways. High-cardinality keys, no hot node beyond a
    * genuinely popular supplier — which is exactly what the rank should
    * surface. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Lake.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** Degree-attached directed edges straight from the BIPARTITE pair
    * frame: for customer↔supplier pairs, out-degree(c) = #pairs with
    * that c and out-degree(s) = #pairs with that s, both computable from
    * the distinct pair frame BEFORE mirroring — so the doubled edge list
    * is two projections of ONE pair⋈degree join instead of a shuffle
    * aggregate + join over the mirrored frame. Degree frames are
    * node-sided and broadcast. Feeds [[pageRank]]'s pre-degreed fast
    * path; produces exactly the (src, dst, deg) rows the generic
    * edges→deg→ewd chain would. */
  def tradeEdgesWithDeg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE linear plan — scan ⋈ scan → distinct → two count-windows →
    // map-only explode mirror — so nothing is consumed twice and nothing
    // needs a persist: both degrees ride each pair row, and the doubled
    // edge list is an explode, not a union of two subplan copies
    Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Lake.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
      .distinct()
      .withColumn("cdeg", count(lit(1)).over(Window.partitionBy(col("c"))))
      .withColumn("sdeg", count(lit(1)).over(Window.partitionBy(col("s"))))
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst"), col("cdeg").as("deg")),
        struct(col("s").as("src"), col("c").as("dst"), col("sdeg").as("deg"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.deg").as("deg"))
  }

  /** [[pageRank]] fast path for callers that already hold degree-attached
    * (src, dst, deg) edges (e.g. [[tradeEdgesWithDeg]]): skips the
    * generic degree aggregate + attach join entirely. Identical
    * arithmetic, identical output. */
  def pageRankPreDegreed(ewd0: DataFrame, iters: Int = 3,
                         damping: Double = 0.85, k: Int = 20,
                         maxBroadcastNodes: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val ewd = ewd0.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = ewd.select(col("src").as("node"), col("deg")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count()
    // the whole iteration runs in scale-12 LONG space with exact
    // integer half-up ([[ExactRound]]): 1/n, pr/deg, and the damping
    // update ((100−d2)·10¹² + d2·m12·n)/(100n) are all terminating
    // quotients; the update numerator exceeds int64 at node scale, so
    // it stages through decimal(38,0)
    val d2 = math.round(damping * 100)
    var pr = deg.select(col("node"),
      lit((2L * 1000000000000L + n) / (2L * n)).as("pr12"))
    for (_ <- 1 to iters) {
      val prSide = if (n <= maxBroadcastNodes) broadcast(pr) else pr
      pr = ewd
        .join(prSide, ewd("src") === pr("node"))
        .select(col("dst"), ExactRound.halfUpPos("pr12", "deg").as("c12"))
        .groupBy(col("dst")).agg(sum(col("c12")).as("m12"))
        .withColumn("num",
          (col("m12").cast(DecimalType(38, 0)) * d2 * n
            + lit(100L - d2) * lit(1000000000000L))
            .cast(DecimalType(38, 0)))
        .select(col("dst").as("node"),
          ExactRound.halfUpPos("num", s"${100L * n}").as("pr12"))
    }
    val out = pr
      .join(deg, "node")
      .select(col("node"), col("deg"), col("pr12"),
        (ExactRound.halfUpPos("pr12", "1000000").cast("double") / 1e6)
          .as("pagerank"))
      .orderBy(col("pr12").desc, col("node"))
      .limit(k)
      .drop("pr12")
      .localCheckpoint(true)
    deg.unpersist(false)
    ewd.unpersist(false)
    out
  }

  /** Shared degree-attached trade edges ([[tradeEdgesWithDeg]]) read by
    * every trade-graph consumer: the edge build (fact⋈fact join +
    * distinct + two degree windows) is ≈ 3 s of PageRank's 4.5 s, while
    * the iterations over it are cheap joins. */
  def sharedTradeEdges(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.shared(spark, dir, "trade", Seq("lineitem", "orders")) {
      tradeEdgesWithDeg(spark, dir)
    }

  /** Registered query: top-20 PageRank nodes of the trade graph (the
    * pre-degreed construction — same output as the generic path,
    * spec-asserted). */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame =
    pageRankPreDegreed(sharedTradeEdges(spark, dir))

  /** Per-node triangle participation over an arbitrary edge frame — the
    * local-clustering signal (tight communities vs hub-and-spoke) that
    * rank and components cannot see. Edges are canonicalized to a < b, so
    * each triangle a<b<c is found EXACTLY once: wedge join on the middle
    * node (e1=(a,b) ⋈ e2=(b,c)), closed by a LEFT-SEMI probe for (a,c) —
    * the classic two-equi-join formulation, never an all-pairs product.
    *
    * Scale: wedge fan-out is Σ_b deg(b)² — linear for bounded-degree
    * graphs (the kNN graph registered below has out-degree ≤ k and
    * LSH-capped in-degree). For skewed graphs, cap or sample high-degree
    * middles first (the oversizedBands pattern); the semi-join probe is
    * edge-keyed and never expands. The canonical edge set is consumed
    * three times, so it persists and is released once the node-bounded
    * report materializes. */
  def triangles(edges: DataFrame, k: Int = 20): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = und.as("e1")
      .join(und.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
    val tri = wedges
      .join(und.select(col("a").as("ca"), col("b").as("cb")),
        col("a") === col("ca") && col("c") === col("cb"), "left_semi")
    val out = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(k)
      .localCheckpoint(true)
    und.unpersist(false)
    out
  }

  /** Registered query: triangle hot-spots of the 5-NN embedding graph
    * (the trade graph is bipartite, hence triangle-free by parity). */
  def trianglesQuery(spark: SparkSession, dir: String): DataFrame =
    triangles(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** Adamic–Adar link prediction: for every 2-hop pair NOT already
    * linked, score = Σ_z 1/ln(deg z) over the common neighbors z — the
    * classic "who should be connected" feature (rare shared neighbors
    * weigh more than hubs). Wedge join bounded by degree (the triangles
    * machinery); a wedge center always has degree ≥ 2, so ln never
    * vanishes. Each term rounds to 8 digits and decimal-sums, so the
    * pair score is aggregation-order-exact; existing edges drop via one
    * anti join. Top-k by score. */
  def linkPredict(edges: DataFrame, k: Int = 20): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = und.select(col("a").as("n"), col("b").as("m"))
      .unionByName(und.select(col("b").as("n"), col("a").as("m")))
    val deg = sym.groupBy(col("n").as("z")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("n").as("z"), col("m").as("x")).as("e1")
      .join(sym.select(col("n").as("z"), col("m").as("y")).as("e2"), Seq("z"))
      .filter(col("x") < col("y"))
    val out = wedges
      .join(deg, Seq("z"))
      .withColumn("term",
        round(lit(1.0) / log(col("deg").cast("double")), 8)
          .cast(org.apache.spark.sql.types.DecimalType(28, 8)))
      .join(und, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .groupBy(col("x").as("node_a"), col("y").as("node_b"))
      // round the exact 8-dp decimal sum in DECIMAL space then cast: an
      // aa_score whose 7th-8th digits are exactly "50" routed through a
      // double first splits the engines by 1 ulp of the 6th decimal
      // (the q_nb_classify tie class)
      .agg(count(lit(1)).as("n_common"),
        round(sum(col("term")), 6).cast("double").as("aa_score"))
      .orderBy(col("aa_score").desc, col("node_a"), col("node_b"))
      .limit(k)
      .localCheckpoint(true)
    und.unpersist(false)
    out
  }

  /** Registered query: link prediction over the 5-NN embedding graph. */
  def linkPredictQuery(spark: SparkSession, dir: String): DataFrame =
    linkPredict(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** 2-hop reach per node over a directed edge frame: how many DISTINCT
    * nodes are exactly two hops away (reachable via a neighbor, not a
    * direct neighbor, not the node itself) — the local-expansion
    * diagnostic that separates tight clusters (2-hop ≈ 1-hop, neighbors
    * share neighbors) from tree-like sprawl. One wedge self-join bounded
    * by the graph's out-degree (≤ k² candidates per node on a k-NN
    * graph), a distinct, and one anti-join to strip direct edges — no
    * all-pairs anywhere. */
  def twoHopReach(edges0: DataFrame): DataFrame = {
    // wedge join consumes edges three times (two legs + the anti side) —
    // persist the bounded edge list once, release after materializing
    val edges = edges0.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val direct = edges.groupBy(col("src"))
      .agg(countDistinct(col("dst")).as("n_direct"))
    val hop2 = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("two"))
      .filter(col("src") =!= col("two"))
      .distinct()
      .join(edges.select(col("src"), col("dst").as("two")),
        Seq("src", "two"), "left_anti")
      .groupBy(col("src")).agg(count(lit(1)).as("n_two_hop"))
    val out = direct.join(hop2, Seq("src"), "left")
      .na.fill(0L, Seq("n_two_hop"))
      .orderBy(col("src"))
      .localCheckpoint(true)
    edges.unpersist(false)
    out
  }

  /** Registered query: 2-hop reach over the 5-NN embedding graph (the
    * shared [[AnnOps.sharedKnnGraph]], so the sweep builds candidates
    * once across the whole graph family). */
  def twoHopQuery(spark: SparkSession, dir: String): DataFrame =
    twoHopReach(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** Hubness diagnostic of a k-NN graph: IN-degree per node — how many
    * other vectors list this one among their k nearest. High-hubness
    * points are the curse-of-dimensionality symptom that silently skews
    * ANN recall and kNN-classifier votes (they show up in "everyone's"
    * neighbor list); the top-hub report is the thing to eyeball before
    * trusting any kNN-derived artifact. One group-by over the bounded
    * k·N-edge graph. */
  def hubness(edges: DataFrame, topK: Int = 20): DataFrame =
    edges.groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
      .orderBy(col("in_degree").desc, col("vec_id"))
      .limit(topK)

  /** Registered query: top in-degree hubs of the 5-NN embedding graph. */
  def hubnessQuery(spark: SparkSession, dir: String): DataFrame =
    hubness(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** Synchronous label propagation (community detection): every node
    * starts as its own community, and each round adopts the most frequent
    * label among its neighbors (ties → smallest label — fully
    * deterministic, no RNG, so results are retry-stable and
    * oracle-verifiable by unrolling the rounds). A fixed small round
    * count is the honest scale choice: each round is one equi-join + one
    * group-by + one per-node rank over the EDGE frame, and communities on
    * bounded-degree graphs stabilize in a handful of rounds. Iterative
    * frames follow the nearDupClusters discipline — every round ends in
    * an eager localCheckpoint so lineage stays flat. Output: community
    * sizes, largest first. */
  /** The propagation loop itself, exposed so quality metrics
    * ([[modularity]]) can score the SAME assignment the size report
    * summarizes: (node, label) after `iters` synchronous rounds, each
    * round eagerly checkpointed (flat lineage, the loop discipline). */
  def labelAssignments(edges0: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one propagation round")
    val und = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = und.unionByName(
        und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("c").desc, col("label"))
    for (_ <- 1 to iters) {
      labels = edges
        .join(labels, edges("dst") === labels("node"))
        .select(col("src"), col("label"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
        .localCheckpoint(true)
    }
    edges.unpersist(false)
    labels
  }

  def labelPropagation(edges0: DataFrame, iters: Int = 3,
                       topK: Int = 20): DataFrame =
    labelAssignments(edges0, iters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)
      .localCheckpoint(true)

  /** Newman modularity of the [[labelAssignments]] communities — the
    * QUALITY metric the detection row invites (a size histogram says
    * nothing about whether the partition beats chance): per community
    * c with e_c internal edges and total degree d_c over m undirected
    * edges, contribution e_c/m − (d_c/2m)², summing to Q. Everything
    * clears to integers: contribution = (4m·e_c − d_c²)/(4m²) and
    * Q = (4m·Σe_c − Σd_c²)/(4m²) — SIGNED exact half-up at 6 dp from
    * EXACT totals (never a sum of rounded per-community terms), staged
    * through decimal(38,0) (d_c² passes int64 at web-scale degree
    * mass). Emits the top-`topK` communities by size with their exact
    * e_c/d_c and contribution, the table-wide Q on every row.
    *
    * Shape: one canonical-edge distinct (persisted — three consumers),
    * the propagation loop, two label-attach joins keyed by node, one
    * community reduce; the edge count is one bounded driver action
    * (the kcore precedent) feeding the ratio constants. */
  def modularity(edges0: DataFrame, iters: Int = 3,
                 topK: Int = 20): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val cnn = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = cnn.count()
    require(m > 0, "modularity needs at least one edge — an empty " +
      "kNN-pair frame usually means every LSH bucket exceeded the " +
      "hot-bucket cap (a saturated/duplicated corpus: the sf10 ScaleUp " +
      "lake, where every vector has ~100 near-identical clones, empties " +
      "the artifact this way); near-dedup the corpus first, or rebuild " +
      "the artifact with a larger maxBucketSize")
    val assign = labelAssignments(edges0, iters) // checkpointed
    val eIn = cnn
      .join(assign.select(col("node").as("a"), col("label").as("la")), "a")
      .join(assign.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val dTot = cnn.select(col("a").as("node"))
      .unionByName(cnn.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .join(assign, "node")
      .groupBy(col("label").as("community"))
      .agg(sum(col("d")).as("d_tot"), count(lit(1)).as("n_nodes"))
    val per = dTot.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("d_tot"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .withColumn("cn",
        ((col("e_in").cast(dec38) * (4L * m)
          - col("d_tot").cast(dec38) * col("d_tot")) * 1000000).cast(dec38))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = per.agg(sum(col("cn")).cast(dec38).as("qn"))
    // 2·den must stay inside int64 inside the half-up form: fine to
    // m ≈ 10⁹ undirected edges; beyond that, stage den through
    // decimal(38,0) like the numerators (site note, not reachable on
    // any k-NN graph this engine builds: m ≤ k·n with k = 5)
    val den = s"${4L * m * m}"
    val out = per.crossJoin(broadcast(q))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_tot"),
        (ExactRound.halfUp("cn", den).cast("double") / 1e6)
          .as("contribution"),
        (ExactRound.halfUp("qn", den).cast("double") / 1e6)
          .as("modularity"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)
      .localCheckpoint(true)
    per.unpersist(false)
    cnn.unpersist(false)
    out
  }

  /** Registered query: modularity of the 5-NN label-prop partition. */
  def modularityQuery(spark: SparkSession, dir: String): DataFrame =
    modularity(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** Registered query: 3-round label propagation over the 5-NN graph. */
  def labelPropQuery(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** Bounded k-core peel over the 5-NN similarity graph: `rounds`
    * iterations of "drop every node with fewer than `k` undirected
    * neighbors, then re-count" — the classic densest-region screen
    * (nodes that survive are in cohesive clusters; the periphery peels
    * off first). A FIXED round count keeps the result closed-form for
    * the oracle while showing the real distributed shape — full k-core
    * runs the same loop to fixpoint, and each round is one degree
    * aggregate + two semi-joins over the current edge frame (never a
    * product). The kNN edges come from the SHARED candidate-pairs
    * artifact; the undirected edge set is the canonical least/greatest
    * distinct. Per-round survivor counts are bounded driver actions (one
    * count pair per round, `rounds` is a constant). */
  def kcoreQuery(spark: SparkSession, dir: String, k: Int = 3,
                 rounds: Int = 3): DataFrame = {
    import spark.implicits._
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    var edges = AnnOps.sharedKnnGraph(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val stats = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = edges.select(col("a").as("node"))
        .unionByName(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val kept = deg.filter(col("dg") >= k).select(col("node"))
        .localCheckpoint(true)
      edges = edges
        .join(kept.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(kept.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      stats += ((r, kept.count(), edges.count()))
    }
    stats.result()
      .toDF("round", "n_nodes", "n_edges")
      .orderBy(col("round"))
  }

  /** Degree distribution of the customer↔supplier trade graph: nodes per
    * degree, split by node side — the first thing anyone plots about a
    * graph, and the input to every power-law / hub argument. Reads the
    * SHARED degree-attached edge artifact (build-once discipline), so
    * the whole query is a distinct over (node, deg) + one bounded
    * aggregate: no join, no window, nothing quadratic. */
  def degreeDistQuery(spark: SparkSession, dir: String): DataFrame =
    sharedTradeEdges(spark, dir)
      .select(col("src"), col("deg")).distinct()
      .groupBy(substring(col("src"), 1, 1).as("side"),
        col("deg").cast("long").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("side"), col("degree"))

  /** Degree assortativity of the trade graph: the Pearson correlation of
    * endpoint degrees across (directed-mirror) edges — negative in
    * hub-and-spoke commerce graphs (high-degree customers buy from
    * low-degree suppliers and vice versa), positive in social graphs.
    * The standard Newman formulation over the mirrored edge list IS the
    * undirected definition (each edge contributes both orientations).
    *
    * Exactness: the artifact carries the SOURCE endpoint's degree on
    * every edge row; one equi-join against the distinct (node, deg)
    * frame attaches the destination degree (node frame is bounded by the
    * entity universe, edges stay distributed). All five moment sums
    * accumulate in decimal(38,0) — E·Σxy products overflow BIGINT at
    * fact scale — then one double evaluation of the closed form,
    * rounded to 6. */
  def assortativityQuery(spark: SparkSession, dir: String): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val edges = sharedTradeEdges(spark, dir)
    val nodeDeg = edges.select(col("src").as("node"), col("deg").as("ddeg"))
      .distinct()
    edges
      .join(nodeDeg, col("dst") === col("node"))
      .select(col("deg").cast(dec0).as("x"), col("ddeg").cast(dec0).as("y"))
      .agg(count(lit(1)).cast(dec0).as("e"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("e").cast("long").as("n_edges"),
        round((col("e") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("e") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("e") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("assortativity"))
  }

  /** Global clustering readout of an undirected simple graph — the
    * one-row summary [[triangles]]'s hot-spot list can't give:
    * transitivity = 3T/W (closed wedges over all wedges, W = ΣC(d,2))
    * and the Watts–Strogatz AVERAGE LOCAL coefficient mean over nodes
    * with degree ≥ 2 of 2tᵥ/(dᵥ(dᵥ−1)) — the two diverge exactly when
    * clustering concentrates on hubs, which is the diagnostic. Same
    * canonical-edge wedge machinery as [[triangles]] (never an all-pairs
    * product); T, W and every degree are exact BIGINTs; both
    * terminating summary ratios round by exact integer half-up, the
    * per-node coefficients 8-round into a decimal mean. */
  def clusteringCoef(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(d * (d - 1)) div 2")).as("w"))
    val tri = und.as("e1")
      .join(und.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .join(und.select(col("a").as("ca"), col("b").as("cb")),
        col("a") === col("ca") && col("c") === col("cb"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tCnt = tri.agg(count(lit(1)).as("t"))
    val tv = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tv"))
    val localAvg = deg.filter(col("d") >= 2)
      .join(tv, Seq("node"), "left")
      // per-node 2·tv/(d(d−1)) is a terminating integer ratio → exact
      // integer half-up ([[ExactRound]])
      .select((ExactRound.halfUpPos(
        "100000000 * 2 * coalesce(tv, 0)", "d * (d - 1)")
        .cast("double") / 1e8).cast(DecimalType(18, 8)).as("c"))
      .agg(count(lit(1)).as("n2"), sum(col("c")).as("sc"))
    val nEdges = und.agg(count(lit(1)).as("m"))
    val out = wedges.crossJoin(broadcast(tCnt))
      .crossJoin(broadcast(localAvg)).crossJoin(broadcast(nEdges))
      .withColumn("s8", (col("sc") * lit(100000000L)).cast("long"))
      .select(col("n_nodes"), col("m").as("n_edges"), col("w").as("n_wedges"),
        col("t").as("n_triangles"),
        (expr("(2 * 3 * t * 1000000 + w) div (2 * w)").cast("double") /
          1000000.0).as("transitivity"),
        (expr("(2 * s8 + 100 * n2) div (200 * n2)").cast("double") /
          1000000.0).as("avg_local_cc"))
      .localCheckpoint(true)
    tri.unpersist(false)
    deg.unpersist(false)
    und.unpersist(false)
    out
  }

  /** Registered query: global clustering of the 5-NN embedding graph. */
  def clusteringCoefQuery(spark: SparkSession, dir: String): DataFrame =
    clusteringCoef(AnnOps.sharedKnnGraph(spark, dir).select(col("src"), col("dst")))

  /** HITS (hubs & authorities) over the DIRECTED bipartite trade graph —
    * customers point at the suppliers they buy from, so the hub score
    * ranks well-connected buyers and the authority score ranks suppliers
    * favored by strong buyers: the asymmetric rank pair [[pageRank]]'s
    * symmetric random walk cannot separate. Power iteration with L1
    * normalization (staying on the sum-1 simplex keeps every update a
    * terminating quotient — the textbook L2 norm would drag a √ into the
    * loop): a ← Mᵀh/‖Mᵀh‖₁ then h ← Ma/‖Ma‖₁, `iters` rounds from the
    * uniform hub start, top-`k` rows per side.
    *
    * Exactness: scores ride as scale-12 longs; each normalization
    * numerator raw·10¹² exceeds int64 so it stages through
    * decimal(38,0), pinned by exact integer half-up ([[ExactRound]]) —
    * the quotient is ≤ 10¹² by construction (raw ≤ the L1 total). The
    * oracle replays the rounds as chained CTEs over the same integers.
    *
    * Overflow audit: after normalization Σ score ≈ 10¹², so a raw sum is
    * ≤ max-degree·10¹² ≈ 10¹⁶ (long-safe) and its scaled numerator
    * ≤ 10²⁸ (decimal(38,0)-safe) at any corpus scale.
    *
    * Scale: the directed edge half comes from the shared
    * [[sharedTradeEdges]]; each half-round is one edge⋈score join
    * (score frames are node-sized → broadcast under the cap, shuffle
    * join beyond it — the [[pageRank]] rule) + one aggregate; L1 totals
    * are one-row broadcasts. The edge frame is persisted for the loop
    * and released once the bounded top-k materializes. */
  def hits(spark: SparkSession, dir: String, iters: Int = 2, k: Int = 10,
           maxBroadcastNodes: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val edges = sharedTradeEdges(spark, dir)
      .filter(col("src").startsWith("c"))
      .select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hubs0 = edges.select(col("src")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // hub count probed once driver-side (bounded one-row aggregate — the
    // pageRank precedent): seeds the uniform start and picks join sides
    val nC = hubs0.count()
    val dec38 = DecimalType(38, 0)
    // each normalization consumes its raw-sum frame twice (L1 total +
    // quotient) and feeds the NEXT round's join — persist the node-sized
    // raw while both consumers run, eagerly materialize the normalized
    // scores (truncating the loop's lineage: a lazy score frame would
    // re-execute the whole prior round per consumer), release raw
    def l1Normalize(raw0: DataFrame): DataFrame = {
      val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
      val tot = raw.agg(sum(col("raw")).as("t"))
      val out = raw.crossJoin(broadcast(tot))
        .withColumn("num",
          (col("raw").cast(dec38) * lit(1000000000000L)).cast(dec38))
        .select(col("node"), ExactRound.halfUpPos("num", "t").as("s12"))
        .localCheckpoint(true)
      raw.unpersist(false)
      out
    }
    def side(df: DataFrame): DataFrame =
      if (nC <= maxBroadcastNodes) broadcast(df) else df
    var h = hubs0.select(col("src").as("node"),
      lit((2L * 1000000000000L + nC) / (2L * nC)).as("s12"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = l1Normalize(edges
        .join(side(h.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst")).agg(sum(col("s12")).as("raw"))
        .withColumnRenamed("dst", "node"))
      h = l1Normalize(edges
        .join(side(a.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src")).agg(sum(col("s12")).as("raw"))
        .withColumnRenamed("src", "node"))
    }
    def top(df: DataFrame, which: String): DataFrame =
      df.orderBy(col("s12").desc, col("node")).limit(k)
        .select(lit(which).as("side"), col("node"),
          (ExactRound.halfUpPos("s12", "1000000").cast("double") / 1e6)
            .as("score"))
    val out = top(a, "authority").unionByName(top(h, "hub"))
      .orderBy(col("side"), col("score").desc, col("node"))
      .localCheckpoint(true)
    hubs0.unpersist(false)
    edges.unpersist(false)
    out
  }
}
