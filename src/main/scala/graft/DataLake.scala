package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators._

/** The cohesive user-facing handle over one lake directory — the facade a
  * caller of a data-lake/catalog API actually holds, delegating to the
  * operator modules so the library surface reads as one API:
  *
  * {{{
  * val lake = DataLake(spark, "s3://bucket/lake")
  * lake.tables.show()
  * lake.profile("lineitem", Seq("l_quantity"))
  * lake.nearDupPairs().show()
  * val clean = lake.cleanCorpus()   // dedup → decontaminate → quality
  * }}}
  *
  * Every method returns a plain DataFrame (or a version number for
  * write-side calls), so results compose with arbitrary Spark code.
  */
final case class DataLake(spark: SparkSession, dir: String) {

  // ---- string-SQL surface ----
  /** Run an ANSI SQL string against the lake — the query-string API a
    * lake service exposes beside the DataFrame one. Every lake table is
    * (re-)registered as a session temp view named after its file
    * (`region` … `embeddings`), then the string planes through
    * `spark.sql`. The views are lazy logical plans over the parquet
    * scans, so Catalyst applies the same pushdown/pruning as the
    * DataFrame twin (DataLakeSqlSpec asserts a Q3-shaped string query
    * is plan- and result-equivalent to the DataFrame form).
    *
    * Registration is per-call `createOrReplaceTempView` (idempotent,
    * metadata-only): two DataLake handles over different dirs in one
    * session each see their own tables as long as calls don't
    * interleave mid-query — the same last-writer-wins contract any
    * session-scoped catalog has. */
  def sql(query: String): DataFrame = {
    Lake.tableNames.foreach { t =>
      Lake.table(spark, dir, t).createOrReplaceTempView(t)
    }
    spark.sql(query)
  }

  // ---- catalog ----
  def tables: DataFrame = CatalogOps.catalogTables(spark, dir)
  def schema: DataFrame = CatalogOps.catalogSchema(spark, dir)
  def profile(table: String, columns: Seq[String], exactNdv: Boolean = true): DataFrame =
    CatalogOps.profile(spark, dir, table, columns, exactNdv)
  def quantiles(table: String, columns: Seq[String], exact: Boolean = true): DataFrame =
    CatalogOps.quantiles(spark, dir, table, columns, exact)
  def fileMetadata: DataFrame = CatalogOps.fileMetadata(spark, dir)
  def correlations(table: String, pairs: Seq[(String, String)]): DataFrame =
    CatalogOps.correlations(spark, dir, table, pairs)
  def outliers(table: String, valueCol: String, groupCol: String): DataFrame =
    CatalogOps.iqrOutliers(spark, dir, table, valueCol, groupCol)
  def fkCandidates(candidates: Seq[((String, String), (String, String))]): DataFrame =
    CatalogOps.inclusionDependencies(spark, dir, candidates)
  def drift(table: String, valueCol: String, sliceA: Column, sliceB: Column,
            binWidth: Double): DataFrame =
    CatalogOps.distributionDrift(spark, dir, table, valueCol, sliceA, sliceB, binWidth)
  def anomalies(baseline: Int = 24, zThreshold: Double = 3.0): DataFrame =
    EventOps.anomalies(spark, dir, baseline, zThreshold)

  // ---- raw tables ----
  def table(name: String): DataFrame = Lake.table(spark, dir, name)
  def documents: DataFrame = Lake.documents(spark, dir)
  def embeddings: DataFrame = Lake.embeddings(spark, dir)

  // ---- dedup / similarity ----
  def dedupExact(): DataFrame = DedupOps.dedupExact(spark, dir)
  def nearDupPairs(threshold: Double = 0.6): DataFrame =
    DedupOps.nearDupPairs(documents, threshold)
  def nearDupClusters(threshold: Double = 0.6): DataFrame =
    DedupOps.nearDupClusters(documents, threshold)
  def dedupNear(threshold: Double = 0.6): DataFrame =
    DedupOps.dedupNear(documents, threshold)
  def setSimPairs(threshold: Double = 0.5, n: Int = 3): DataFrame =
    DedupOps.setSimilarityJoin(documents, threshold, n)
  def semanticClusters(threshold: Double = 0.4): DataFrame =
    DedupOps.semanticClusters(embeddings, threshold)
  def annSearch(k: Int = 5): DataFrame = AnnOps.lsh(spark, dir, k = k)
  def buildAnnIndex(indexDir: String, nCentroids: Int = 16): Long =
    AnnIndex.build(spark, indexDir, embeddings, nCentroids = nCentroids)
  def refreshAnnIndex(indexDir: String,
                      sourceVersion: Option[Long] = None): Option[Long] =
    AnnIndex.refresh(spark, indexDir, embeddings, sourceVersion = sourceVersion)
  def annSearchIndexed(indexDir: String, queries: DataFrame,
                       k: Int = 5, nProbes: Int = 6): DataFrame =
    AnnIndex.searchIvf(spark, indexDir, embeddings, queries, k, nProbes)

  // ---- corpus preparation ----
  def decontaminate(bench: DataFrame, minShared: Int = 1): DataFrame =
    CorpusOps.decontaminate(documents, bench, minShared)
  def chunk(chunkSize: Int = 32, overlap: Int = 8): DataFrame =
    CorpusOps.chunk(documents, chunkSize, overlap)
  def withSplit(trainPct: Int = 90, valPct: Int = 5): DataFrame =
    CorpusOps.withSplit(documents, trainPct, valPct)
  def stratifiedSample(rates: Map[String, Double]): DataFrame =
    CorpusOps.stratifiedSample(documents, rates)
  def qualityRules(): DataFrame = TextOps.qualityRules(documents)
  def surprisal(): DataFrame = TextOps.unigramSurprisal(documents)
  def normalize(): DataFrame = TextOps.normalize(documents)
  def piiScan(): DataFrame = TextOps.piiScan(documents)
  def redact(patterns: Seq[(String, String)] = TextOps.PiiPatterns): DataFrame =
    TextOps.redact(documents, patterns)
  def vocabCoverage(vocabSize: Int = 30): DataFrame =
    TextOps.vocabCoverage(documents, vocabSize)
  def boilerplate(n: Int = 3, topK: Int = 10, minDf: Int = 2): DataFrame =
    TextOps.boilerplateNgrams(documents, n, topK, minDf)
  def boilerplateDensity(n: Int = 3, topK: Int = 10, minDf: Int = 2): DataFrame =
    TextOps.boilerplateDensity(documents, n, topK, minDf)
  def scrubBoilerplate(phrases: Seq[String]): DataFrame =
    TextOps.scrubBoilerplate(documents, phrases)
  def zipf(fitTerms: Int = 1000): DataFrame = TextOps.zipfFit(documents, fitTerms)
  def mixPlan(targets: Map[String, Double], tokenBudget: Long): DataFrame =
    CorpusOps.mixPlan(documents, targets, tokenBudget)
  /** Max-min fair token allocation at a waterfill level (target-free). */
  def tokenWaterfill(tokenBudget: Long): DataFrame =
    CorpusOps.tokenWaterfill(documents, tokenBudget)
  def tokenWaterfillFrac(frac: Double = 0.96): DataFrame =
    CorpusOps.tokenWaterfillFrac(documents, frac)
  /** BH-FDR-corrected per-segment A/B readout over the events table. */
  def fdrReadout(alpha: Double = 0.05): DataFrame =
    EventOps.fdrBh(Lake.events(spark, dir), alpha)
  /** Anytime-valid (mSPRT) day-by-day experiment monitor. */
  def msprtReadout(tau: Double = 5.0, alpha: Double = 0.05): DataFrame =
    EventOps.msprtReadout(Lake.events(spark, dir), tau, alpha)
  /** Frequent behavioral event trigrams (sequential patterns). */
  def eventNgrams(minUsers: Long = 5): DataFrame =
    EventOps.eventNgrams(spark, dir, minUsers)
  /** 2×2 difference-in-differences readout with parallel-trends gap. */
  def didReadout(): DataFrame = EventOps.didReadout(Lake.events(spark, dir))
  /** Inter-event-gap regularity screen for scripted/bot actors. */
  def botScreen(minGaps: Long = 30, cvThreshold: Double = 0.5): DataFrame =
    EventOps.botScreen(Lake.events(spark, dir), minGaps, cvThreshold)
  def fixedSample(n: Int): DataFrame = CorpusOps.fixedSample(documents, n)
  def pseudonymize(table: String, cols: Seq[String], salt: String): DataFrame =
    Governance.pseudonymize(Lake.table(spark, dir, table), cols, salt)
  /** Graph-navigating ANN over the persisted kNN artifact. */
  def annSearchGraph(k: Int = 5): DataFrame =
    AnnOps.graphSearch(spark, dir, k = k)
  /** nDCG@k of the exact-cosine ranking against label relevance. */
  def retrievalNdcg(k: Int = 10, nQueries: Int = 8): DataFrame =
    AnnOps.retrievalNdcg(spark, dir, k, nQueries)
  /** Per-label centroid-cosine + norm drift between two corpus slices. */
  def embeddingDrift(refSlice: Column, curSlice: Column): DataFrame =
    AnnOps.embeddingDrift(embeddings, refSlice, curSlice)
  /** Held-out LM quality scores: REF slice trains, CUR slice is scored. */
  def heldoutPerplexity(refSlice: Column, curSlice: Column): DataFrame =
    TextOps.heldoutPerplexity(documents, refSlice, curSlice)

  /** The end-to-end corpus cleaning a training pipeline runs: exact-dup
    * removal (keepers only) → near-dup cluster removal → quality-rule
    * filter. Each stage is a left-anti/semi join against a SMALL id set,
    * so the corpus streams through once per stage with no wide shuffle. */
  def cleanCorpus(threshold: Double = 0.6): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = documents.filter(col("text").isNotNull)
    val exactKeepers = DedupOps.dedupExact(docs)
      .select(col("keeper").as("doc_id"))
    // each working corpus feeds several downstream scans (signature pass,
    // verify pass, quality metrics, the final anti join) — persist so the
    // sha256 group-by / cluster loop run once, not per consumer
    val afterExact = docs.join(exactKeepers, Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    // near-dedup of the exact-deduped subset reuses the RAW-corpus
    // verified pairs artifact restricted to surviving docs: exact-dup
    // removal does not change any survivor's shingle set, so the induced
    // subgraph of the raw pair graph IS the subset's pair graph (the one
    // divergence is the hot-bucket cap, which sees smaller buckets after
    // exact dedup — but content that hot is exactly what exact dedup
    // just collapsed). One signature+verify pass per corpus version,
    // shared with the whole dedup family, instead of a private rerun.
    val keptPairs = DedupOps.sharedNearDups(spark, dir, threshold)
      .join(afterExact.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(afterExact.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
    val nearLosers = DedupOps.clustersFromPairs(keptPairs)
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    val afterNear = afterExact.join(nearLosers, Seq("doc_id"), "left_anti")
      .persist(MEMORY_AND_DISK)
    val lowQuality = TextOps.qualityRules(afterNear)
      .filter(!col("keep")).select(col("doc_id"))
    // materialize the final frame (localCheckpoint truncates the lineage to
    // the computed partitions), then release the two corpus-sized caches —
    // repeated facade calls in a long-lived session must not accumulate
    // cached frames until the ContextCleaner happens to collect them
    val cleaned = afterNear.join(lowQuality, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    afterNear.unpersist(false)
    afterExact.unpersist(false)
    cleaned
  }

  // --- corpus diagnostics (the curator dashboard surface) ---
  def collocations(minCount: Long = 5, topK: Int = 20): DataFrame =
    TextOps.collocations(documents, minCount, topK)
  def docKeywords(k: Int = 3): DataFrame = TextOps.docKeywords(documents, k)
  def ngramDiversity(n: Int = 3): DataFrame =
    TextOps.ngramDiversity(documents, n)
  def heaps(steps: Int = 10, n: Int = 3): DataFrame =
    TextOps.heapsCurve(documents, steps, n)
  def sourceJsd(vocabCap: Int = 10000): DataFrame =
    TextOps.sourceJsd(documents, vocabCap)

  // --- structured-record and basket mining ---
  def entityMatch(table: String, nameCol: String, maxDist: Int = 2): DataFrame =
    DedupOps.entityMatch(Lake.table(spark, dir, table), nameCol, maxDist)
  /** Quality-argmax keeper per near-dup cluster (keep the best copy). */
  def nearDupKeepBest(): DataFrame = DedupOps.nearDupKeepBest(spark, dir)
  /** One master row per transitively-matched entity cluster. */
  def goldenRecord(table: String, nameCol: String, maxDist: Int,
                   modeCol: String, minCol: String, maxCol: String): DataFrame =
    DedupOps.goldenRecord(Lake.table(spark, dir, table), nameCol, maxDist,
      modeCol, minCol, maxCol)
  def copurchase(minOrders: Long = 2, topK: Int = 20): DataFrame =
    graft.operators.Relational.copurchase(spark, dir, minOrders, topK)

  // --- monitoring ---
  def ksDrift(table: String, valueCol: String, sliceA: Column,
              sliceB: Column, binWidth: Double): DataFrame =
    CatalogOps.ksDrift(spark, dir, table, valueCol, sliceA, sliceB, binWidth)
  def seasonalAnomalies(zThreshold: Double = 3.0): DataFrame =
    graft.operators.EventOps.seasonalAnomalies(spark, dir, zThreshold)
  def dailyUsers(): DataFrame = graft.operators.EventOps.dailyUsers(spark, dir)

  // --- embeddings and images ---
  def embeddingOutliers(zThresh: Double = 2.0): DataFrame =
    AnnOps.embeddingOutliers(embeddings, zThresh)
  def imageHash(): DataFrame = MultimodalOps.imageHash(spark, dir)
  def imageNearDups(maxHamming: Int = 2): DataFrame =
    MultimodalOps.imageNearDups(spark, dir, maxHamming)

  /** Right-to-be-forgotten over snapshot tables (dir → key column). */
  def forget(tables: Seq[(String, String)],
             subjectIds: Seq[Any]): Seq[(String, String, Long)] =
    Governance.forget(spark, tables, subjectIds)

  def autoHistogram(table: String, valueCol: String): DataFrame =
    Relational.autoHistogram(spark, dir, table, valueCol)
  def retentionWeekly(): DataFrame = EventOps.retentionWeekly(spark, dir)
  def timeToConvert(from: String = "view", to: String = "purchase"): DataFrame =
    EventOps.timeToConvert(spark, dir, from, to)
  def scd2(keyCol: String = "user_id",
           attrCol: String = "event_type"): DataFrame =
    EventOps.scd2(Lake.events(spark, dir), keyCol, attrCol)
  def entityLink(leftTable: String, rightTable: String, nameCol: String,
                 maxDist: Int = 2): DataFrame =
    DedupOps.entityLink(Lake.table(spark, dir, leftTable),
      Lake.table(spark, dir, rightTable), nameCol, maxDist)
  def compressionRatio(): DataFrame = TextOps.compressionRatio(documents)
  def scoreNormalize(): DataFrame = TextOps.scoreNormalize(documents)
  def dpCounts(table: String, groupCols: Seq[String], eps: Double): DataFrame =
    Governance.dpCounts(Lake.table(spark, dir, table), groupCols, eps)
  def dpSums(table: String, groupCols: Seq[String], valueCol: String,
             clip: Double, eps: Double): DataFrame =
    Governance.dpSums(Lake.table(spark, dir, table), groupCols, valueCol,
      clip, eps)

  def assocRules(minOrders: Long = 2, topK: Int = 20): DataFrame =
    Relational.assocRules(spark, dir, minOrders, topK)
  def linkPredict(k: Int = 20): DataFrame =
    GraphOps.linkPredict(AnnOps.knnGraph(spark, dir)
      .select(org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.col("dst")), k)
  def sessionStats(): DataFrame = EventOps.sessionStats(spark, dir)
  def cohortLtv(): DataFrame = EventOps.cohortLtv(spark, dir)

  /** Language-ID eval loop: the heuristic's confusion matrix against the
    * corpus's own `lang` labels, and the trained NB upgrade. */
  def langConfusion(): DataFrame = TextOps.langConfusion(spark, dir)
  def nbLangClassify(): DataFrame = TextOps.nbLangClassify(spark, dir)
  def nbConfusion(): DataFrame = TextOps.nbConfusion(spark, dir)
  /** Closed-form model fits: per-source multi-feature OLS (one exact
    * Gram aggregation) and the top principal component (power iteration
    * over the one-pass covariance). */
  def olsMulti(): DataFrame = TextOps.olsMulti(documents)
  def pcaTop(iters: Int = 8): DataFrame =
    AnnOps.pcaPower(Lake.embeddings(spark, dir), iters)
  /** Fully-distributed Lloyd's k-means over the embedding corpus. */
  def kmeans(k: Int = 4, iters: Int = 2): DataFrame =
    AnnOps.kmeans(Lake.embeddings(spark, dir), k, iters)
  /** MMR-diversified retrieval: relevant AND novel context selection. */
  def mmrRerank(queryVecId: Long = 0L, k: Int = 5, poolK: Int = 20,
                lambda: Double = 0.7): DataFrame =
    TextOps.mmrRerank(Lake.embeddings(spark, dir), queryVecId, k, poolK,
      lambda)
  /** Item-kNN CF serving table (the oracle-checkable neighborhood twin
    * of the ALS factorizer). */
  def recommend(minOrders: Long = 2, topN: Int = 3): DataFrame =
    Relational.itemKnnRecommend(spark, dir, minOrders, topN)
  /** Value-checked HLL NDV per event type (normalize() is already on the
    * facade at line 82). */
  def hllNdv(): DataFrame = IncrementalTableStats.hllNdv(spark, dir)
  /** Rank-metric eval (AUC/Gini/KS) of the trained logistic scores. */
  def logisticEval(): DataFrame = TextOps.logisticEval(spark, dir)
  /** k-fold cross-validated ridge sweep over per-fold Gram matrices. */
  def ridgeCv(k: Int = 4,
              lambdas: Seq[Double] = Seq(0.0, 100.0, 10000.0)): DataFrame =
    TextOps.ridgeCv(documents, k, lambdas)
  /** Histogram-method Gini decision stump on the stopword ratio. */
  def giniStump(): DataFrame = TextOps.giniStump(spark, dir)
  /** Exact Shapley channel attribution over the coalition lattice. */
  def shapleyAttribution(): DataFrame =
    EventOps.shapleyAttribution(spark, dir)
  /** Theil–Sen robust trend + Mann–Kendall test over daily counts. */
  def theilSen(): DataFrame = EventOps.theilSen(spark, dir)
  /** Spearman/Kendall rank correlation between two daily series. */
  def rankCorrelation(typeA: String = "view",
                      typeB: String = "purchase"): DataFrame =
    EventOps.rankCorrelation(Lake.events(spark, dir), typeA, typeB)
  /** Antitonic calibration of the quality→dup reliability curve. */
  def isotonicCalibration(): DataFrame =
    graft.operators.DedupOps.isotonicCalibration(spark, dir)
  /** Per-event-type MDE / sample-size power planner. */
  def mdePlanner(): DataFrame = EventOps.mdePlanner(spark, dir)
  /** Depth-2 CART grown level-wise over two quantized text features. */
  def giniTree2(): DataFrame = TextOps.giniTree2(spark, dir)
  /** Fellegi–Sunter m/u agreement weights over matched-name pairs. */
  def fsWeights(): DataFrame =
    graft.operators.DedupOps.fsWeights(spark, dir)
  /** In-engine PPMI word embedding: top co-occurrence eigenvector. */
  def ppmiVector(vocabSize: Int = 32, window: Int = 2,
                 iters: Int = 6): DataFrame =
    TextOps.ppmiVector(documents, vocabSize, window, iters)
  /** Binary-segmentation changepoint over the daily event series. */
  def changepoint(): DataFrame = EventOps.changepoint(spark, dir)
  /** Two AdaBoost rounds of weighted stumps on the stopword ratio. */
  def adaBoost2(): DataFrame = TextOps.adaBoost2(spark, dir)
  /** Huber robust regression by two replayable IRLS steps. */
  def huberFit(): DataFrame = TextOps.huberFit(spark, dir)
  /** Cumulative gains / lift table of the logistic scores. */
  def logisticGains(): DataFrame = TextOps.logisticGains(spark, dir)
  /** Scalar classifier readout: accuracy, macro-P/R/F1, Cohen's κ. */
  def nbMetrics(): DataFrame = TextOps.nbMetrics(spark, dir)
  /** Leave-last-out CF eval: hit-rate@k + MRR on a no-leak retrain.
    * `minPairSupport` gates pair co-occurrence support in the retrained
    * similarity model; the ≥2-orders eval-population threshold is fixed
    * (leave-LAST-out needs at least one training order left). */
  def cfHitRate(minPairSupport: Long = 2, k: Int = 5): DataFrame =
    graft.operators.Relational.cfHitRate(spark, dir, minPairSupport, k)
  /** Catalog coverage + popularity bias of the CF serving table. */
  def recCoverage(): DataFrame =
    graft.operators.Relational.recCoverage(spark, dir)
  /** Cox PH one-step churn readout (Breslow risk sets). */
  def coxChurn(horizonDays: Int = 90): DataFrame =
    graft.operators.Relational.coxChurn(spark, dir, horizonDays)
  /** Bradley–Terry supplier strength from per-part price duels. */
  def btSuppliers(topN: Int = 20): DataFrame =
    graft.operators.Relational.btSuppliers(spark, dir, topN)
  /** 1-NN caliper matching ATT on lifetime spend. */
  def psmAtt(caliper: Double = 100.0): DataFrame =
    graft.operators.Relational.psmAtt(spark, dir, caliper)
  /** Poisson GLM of order counts on balance (2 IRLS steps). */
  def poissonOrders(): DataFrame =
    graft.operators.Relational.poissonOrders(spark, dir)
  /** Pearson overdispersion diagnostic of the Poisson fit. */
  def poissonDispersion(): DataFrame =
    graft.operators.Relational.poissonDispersion(spark, dir)
  /** Calibration table + ECE + Brier of the logistic scores. */
  def logisticCalibration(): DataFrame =
    TextOps.logisticCalibration(spark, dir)
  /** Two rounds of L2 gradient boosting with shrunk stumps. */
  def gbt2(): DataFrame = TextOps.gbt2(spark, dir)
  /** Baron–Kenny mediation (balance → orders → spend) + Sobel z. */
  def mediationSpend(): DataFrame =
    graft.operators.Relational.mediationSpend(spark, dir)
  /** Kendall τ-b between the daily count and value series. */
  def kendallDaily(): DataFrame = EventOps.kendallDaily(spark, dir)
  /** HHI + CR4 supplier-revenue concentration per nation. */
  def hhiSuppliers(): DataFrame =
    graft.operators.Relational.hhiSuppliers(spark, dir)
  /** Log-log price elasticity of demand over order lines. */
  def priceElasticity(): DataFrame =
    graft.operators.Relational.priceElasticity(spark, dir)
  /** AR(2) Yule–Walker fit + one-step backtest vs the naive baseline. */
  def ar2Forecast(): DataFrame = EventOps.ar2Forecast(spark, dir)
  /** Partial autocorrelation (lags 1..3) by Durbin–Levinson. */
  def pacf(): DataFrame = EventOps.pacfQuery(spark, dir)
  /** Daily-count periodogram over the 2..14-day period grid. */
  def periodogram(): DataFrame = EventOps.periodogram(spark, dir)
  /** Stratified (CEM-style) observational ATT with the naive contrast. */
  def attStratified(): DataFrame = EventOps.attStratified(spark, dir)
  /** CMH stratified 2×2 test + Mantel–Haenszel pooled odds ratio. */
  def cmhTest(): DataFrame = EventOps.cmhTest(spark, dir)
  /** IPW ATE on stratum propensities with per-arm ESS diagnostics. */
  def ipwAte(): DataFrame = EventOps.ipwAte(spark, dir)
  /** Two-group log-rank churn test over right-censored lifetimes. */
  def logrank(censorDays: Int = 14): DataFrame =
    EventOps.logrank(spark, dir, censorDays)
  /** Mann–Whitney U rank-sum test between two daily count series. */
  def mannWhitney(typeA: String = "view",
                  typeB: String = "purchase"): DataFrame =
    EventOps.mannWhitney(spark, dir, typeA, typeB)
  /** Markov entropy rate: conditional vs marginal next-event entropy. */
  def entropyRate(): DataFrame = EventOps.entropyRate(spark, dir)
  /** Within-user inter-arrival spectrum in power-of-two buckets. */
  def interarrival(): DataFrame = EventOps.interarrival(spark, dir)
  /** Chao1 unseen-vocabulary estimate + Good–Turing coverage. */
  def chao1Richness(): DataFrame = TextOps.chao1Richness(spark, dir)
  /** Yule's K lexical concentration + Simpson repeat-rate. */
  def yuleK(): DataFrame = TextOps.yuleK(spark, dir)
  /** Good–Turing adjusted-count table over unigram frequencies. */
  def goodTuring(maxR: Int = 8): DataFrame =
    TextOps.goodTuring(spark, dir, maxR)
  /** Dunning G² token keyness of a focus doc slice vs the rest. */
  def keyness(focus: Column, minCount: Long = 20L): DataFrame =
    TextOps.keyness(Lake.documents(spark, dir), focus, minCount)
  /** Cohen's κ + McNemar panel between two boolean doc classifiers. */
  def raterAgreement(raterA: Column, raterB: Column): DataFrame =
    TextOps.raterAgreement(Lake.documents(spark, dir), raterA, raterB)
  /** Cramér's V association effect size between two categoricals. */
  def cramersV(table: String, colA: String, colB: String): DataFrame =
    CatalogOps.cramersV(Lake.table(spark, dir, table), colA, colB)
  /** Mutual information (nats) + NMI between two categoricals. */
  def mutualInfo(table: String, colA: String, colB: String): DataFrame =
    CatalogOps.mutualInfo(Lake.table(spark, dir, table), colA, colB)
  /** Theil T inequality of customer revenue, within/between segments. */
  def theilIndex(): DataFrame = Relational.theilIndex(spark, dir)
  /** Exact audience Jaccard/overlap matrix between event types. */
  def audienceOverlap(): DataFrame = EventOps.audienceOverlap(spark, dir)
  /** Gumbel block-maxima fit + return levels over weekly peak days. */
  def gumbelExtremes(): DataFrame = EventOps.gumbelExtremes(spark, dir)
  /** Lo–MacKinlay variance-ratio random-walk test of daily counts. */
  def varianceRatio(): DataFrame = EventOps.varianceRatio(spark, dir)
  /** Truncated rank-biased overlap between yearly top-d part lists. */
  def rboParts(depth: Int = 50, p: Double = 0.9): DataFrame =
    Relational.rboParts(spark, dir, depth, p)
  /** Partial correlation of daily views/purchases controlling errors. */
  def partialCorr(): DataFrame = EventOps.partialCorr(spark, dir)
  /** Cronbach's alpha over per-user event-type count items. */
  def cronbachAlpha(): DataFrame = EventOps.cronbachAlpha(spark, dir)
  /** Durbin–Watson screen on the daily-trend residuals per type. */
  def durbinWatson(): DataFrame = EventOps.durbinWatson(spark, dir)
  /** Character-class composition (encoding screen) per source. */
  def scriptMix(): DataFrame = TextOps.scriptMix(spark, dir)
  /** Circular time-of-day statistics per event type. */
  def circadian(): DataFrame = EventOps.circadian(spark, dir)
  /** Wald–Wolfowitz runs test on daily series vs their own mean. */
  def runsTest(): DataFrame = EventOps.runsTest(spark, dir)
  /** Church–Gale term burstiness / Poisson clumpiness profile. */
  def termBurstiness(minDf: Long = 20L): DataFrame =
    TextOps.termBurstiness(spark, dir, minDf)
  /** Global transitivity + average local clustering of the 5-NN graph. */
  def clusteringCoef(): DataFrame = GraphOps.clusteringCoefQuery(spark, dir)
  /** Laspeyres/Paasche/Fisher price indices between two ship years. */
  def priceIndex(baseYr: Int = 1996, curYr: Int = 1997): DataFrame =
    Relational.priceIndex(spark, dir, baseYr, curYr)
  /** Cohen's d / Hedges' g effect-size panel on the welch cohorts. */
  def cohensD(): DataFrame = CatalogOps.cohensDQuery(spark, dir)
  /** Hill tail-index of customer revenue over top-k order statistics. */
  def hillTailIndex(k: Int = 100): DataFrame =
    Relational.hillTailIndex(spark, dir, k)
  /** Deterministic permutation test for the A/B conversion lift. */
  def permutationTest(convertAt: Long = 15, nPerms: Int = 64): DataFrame =
    EventOps.permutationTest(spark, dir, convertAt, nPerms)
  /** Bowley skew + Moors kurtosis from octiles per market segment. */
  def robustMoments(): DataFrame = Relational.robustMoments(spark, dir)
  /** Friedman rank test across event types with days as blocks. */
  def friedman(): DataFrame = EventOps.friedman(spark, dir)
  /** Negative-binomial moment fit of daily counts per event type. */
  def negBinFit(): DataFrame = EventOps.negBinFit(spark, dir)
  /** Wasserstein-1 (EMD) drift between two cohorts of a binned column. */
  def emdDrift(table: String, valueCol: String, sliceA: Column,
               sliceB: Column, binWidth: Double): DataFrame =
    CatalogOps.emdDrift(spark, dir, table, valueCol, sliceA, sliceB, binWidth)
  /** One-way ANOVA F + eta² of order value across market segments. */
  def anovaF(): DataFrame = CatalogOps.anovaFQuery(spark, dir)
  /** Kruskal–Wallis rank one-way ANOVA across market segments. */
  def kruskalWallis(): DataFrame = StatTests.kruskalWallis(spark, dir)
  /** Brown–Forsythe (median-Levene) variance-homogeneity test. */
  def brownForsythe(): DataFrame = StatTests.brownForsythe(spark, dir)
  /** Jarque–Bera normality screen of daily counts per event type. */
  def jarqueBera(): DataFrame = StatTests.jarqueBera(spark, dir)
  /** Tukey HSD post-hoc pairwise panel over the market segments. */
  def tukeyHsd(qCrit: Double = 3.858): DataFrame =
    StatTests.tukeyHsd(spark, dir, qCrit)
  /** Kendall's W concordance of event types over day blocks. */
  def kendallW(): DataFrame = StatTests.kendallW(spark, dir)
  /** Attribute p-chart over the daily error share. */
  def pChart(): DataFrame = StatTests.pChart(spark, dir)
  /** Inter-purchase gap profile per market segment. */
  def purchaseGaps(repeatDays: Int = 30): DataFrame =
    StatTests.purchaseGaps(spark, dir, repeatDays)
  /** Hellinger + total-variation distances between source unigrams. */
  def sourceDistance(vocabCap: Int = 10000): DataFrame =
    TextOps.sourceDistance(documents, vocabCap)
  /** Gunning fog readability index per source. */
  def gunningFog(): DataFrame = TextOps.gunningFog(documents)
  /** Session-depth histogram (engagement count-of-counts). */
  def sessionDepths(): DataFrame = EventOps.sessionDepths(spark, dir)
  /** Forward retention by lifecycle state (new/retained/resurrected). */
  def stateRetention(): DataFrame = EventOps.stateRetention(spark, dir)
  /** Top-1% customer revenue share per nation. */
  def topPctShare(): DataFrame = Relational.topPctShare(spark, dir)
  /** Novelty readout of the CF serving table vs the catalog baseline. */
  def recNovelty(): DataFrame = Relational.recNovelty(spark, dir)
  /** Davies–Bouldin clustering-quality index over embedding labels. */
  def daviesBouldin(): DataFrame = AnnOps.daviesBouldin(spark, dir)
  /** 2×2 risk/odds/risk-difference panel with Wald CIs over the arms. */
  def riskPanel(): DataFrame = StatTests.riskPanel(spark, dir)
  /** Exponential fit + exact KS distance of the inter-purchase gaps. */
  def expFit(): DataFrame = StatTests.expFit(spark, dir)
  /** Gamma moment fit of order value per market segment. */
  def gammaFit(): DataFrame = StatTests.gammaFit(spark, dir)
  /** Embedding isotropy proxy (mean-vector mass over mean norm²). */
  def embeddingIsotropy(): DataFrame = AnnOps.embeddingIsotropy(spark, dir)
  /** Shannon-entropy profile of listed categorical columns. */
  def columnEntropy(targets: Seq[(String, String)]): DataFrame =
    CatalogOps.columnEntropy(spark, dir, targets)
  /** HITS hubs & authorities over the directed bipartite trade graph. */
  def hits(iters: Int = 2, k: Int = 10): DataFrame =
    GraphOps.hits(spark, dir, iters, k)
  /** Leave-one-out kNN label-vote eval over the shared 5-NN graph. */
  def knnLabelEval(k: Int = 5): DataFrame =
    AnnOps.knnLabelEval(spark, dir, k)
  /** Approximate functional dependencies (Kivinen–Mannila g₃ error). */
  def approxFds(candidates: Seq[(String, String, String)] =
      CatalogOps.DefaultAfdCandidates): DataFrame =
    CatalogOps.approxFds(spark, dir, candidates)
  /** Hurst exponent of the daily series (aggregated-variance method). */
  def hurst(blockSizes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    EventOps.hurst(spark, dir, blockSizes)
  /** Uplift (Qini) quintile readout of the A/B experiment. */
  def upliftQuintiles(convertAt: Long = 15): DataFrame =
    EventOps.upliftQuintiles(spark, dir, convertAt)
  /** Greedy k-center (farthest-point) coreset over the embeddings. */
  def kCenter(k: Int = 4): DataFrame = AnnOps.kCenter(spark, dir, k)
  /** Held-out interpolated Kneser–Ney bigram scoring. */
  def knHeldoutScore(): DataFrame = TextOps.knHeldoutScore(spark, dir)
  /** Register a SUM/COUNT aggregate view over a lake table: builds the
    * view parquet AND installs the automatic query-rewrite rule, so any
    * matching aggregate (exact keys or distributive roll-up, group-key
    * filters) reads the view instead of the fact table. */
  def registerAggView(name: String, table: String, groupCols: Seq[String],
                      valueCol: String, castTo: Option[String],
                      mvPath: String): graft.plans.MvRewrite.MvDef =
    graft.plans.MvRewrite.register(spark, name, s"$dir/$table.parquet",
      groupCols, valueCol, castTo, mvPath)
  /** Drop a registered aggregate view's rewrite. */
  def deregisterAggView(table: String): Unit =
    graft.plans.MvRewrite.deregister(spark, s"$dir/$table.parquet")
  /** Documents as real multi-frame GIF89a payloads (LZW codec). */
  def gifPayloads(batchSize: Int = 64): DataFrame =
    GifCodec.gifPayloads(spark, dir, batchSize)
  /** Scene cuts demuxed from the real GIF container. */
  def gifSceneCuts(threshold: Double = 4.0): DataFrame =
    GifCodec.gifSceneCuts(spark, dir, threshold)
  /** Ljung–Box portmanteau whiteness test per event type. */
  def ljungBox(maxLag: Int = 7): DataFrame =
    EventOps.ljungBox(spark, dir, maxLag)
  /** Key-candidate discovery (exact NDV == row count, no nulls). */
  def keyDiscovery(candidates: Seq[(String, Seq[String])] =
      CatalogOps.DefaultKeyCandidates): DataFrame =
    CatalogOps.keyDiscovery(spark, dir, candidates)
  /** Newman modularity of the label-prop partition on the 5-NN graph. */
  def modularity(): DataFrame = GraphOps.modularityQuery(spark, dir)
  /** Label homophily (categorical assortativity) of the 5-NN graph. */
  def labelHomophily(k: Int = 5): DataFrame =
    AnnOps.labelHomophily(spark, dir, k)
  /** Two-NN intrinsic dimensionality of the embedding corpus. */
  def intrinsicDim(): DataFrame = AnnOps.intrinsicDim(spark, dir)
  /** Read a snapshot table through the V2 reader facade:
    * `format("graft-snapshot")` with optional version/tag time travel. */
  def readSnapshot(tableDir: String, version: Option[Long] = None,
                   tag: Option[String] = None): DataFrame = {
    var r = spark.read.format("graft-snapshot")
    version.foreach(v => r = r.option("version", v))
    tag.foreach(t => r = r.option("tag", t))
    r.load(tableDir)
  }
  /** Incrementally refresh (or first-touch define) a sum/count view of
    * a snapshot table from its CDC feed — the batch poll of
    * [[graft.streaming.CdcRefreshStream]]; `attach` streams it. */
  def refreshSnapshotView(srcDir: String, key: String, groupCol: String,
                          valueCol: String, mvDir: String)
      : Option[(Long, Long)] =
    graft.streaming.CdcRefreshStream.catchUp(
      spark, srcDir, key, groupCol, valueCol, mvDir)
  /** Cross-table atomic publish: every listed table's staged branch
    * head promotes together, or none does (journaled two-phase; see
    * [[graft.sources.SnapshotTable.publishAtomic]]). */
  def publishSnapshotsAtomic(heads: Seq[(String, String)]): Map[String, Long] =
    graft.sources.SnapshotTable.publishAtomic(spark, heads)
  /** Roll crashed cross-table publishes forward and clear stale locks. */
  def recoverSnapshotTxn(coordinatorDir: String): Seq[String] =
    graft.sources.SnapshotTable.recoverTxn(spark, coordinatorDir)
  /** Change-data feed of a snapshot table through the V2 reader facade:
    * one row per changed `key` between the two committed versions, with
    * change_type ∈ added|removed|updated and old/new payload structs.
    * Materialized once per immutable version pair. */
  def readSnapshotChanges(tableDir: String, vOld: Long, vNew: Long,
                          key: String): DataFrame =
    spark.read.format("graft-snapshot")
      .option("changes", s"$vOld..$vNew").option("key", key).load(tableDir)
  /** Build the min/max zone-map sidecar for a snapshot-table column —
    * selective range reads through [[readSnapshot]] then skip files at
    * planning time. Returns the indexed version. */
  def analyzeSnapshotMinMax(tableDir: String, column: String,
                            version: Option[Long] = None): Long =
    graft.sources.SnapshotStats.indexMinMax(spark, tableDir, column, version)
  /** Build the occupied-bucket point-lookup sidecar for a snapshot-table
    * key column — equality/IN probes through [[readSnapshot]] then skip
    * files the key provably is not in. Returns the indexed version. */
  def analyzeSnapshotBuckets(tableDir: String, column: String,
                             buckets: Int = 8192,
                             version: Option[Long] = None): Long =
    graft.sources.SnapshotStats.indexBuckets(
      spark, tableDir, column, buckets, version)
}
