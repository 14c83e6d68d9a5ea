package graft

import org.apache.spark.sql.functions._

import graft.operators.{CatalogOps, CorpusOps, EventOps, GraphOps, Relational, TextOps}

/** Brute-force value checks for the analytics wave: skyline, ABC,
  * Gini, Benford, MAD, item-cosine, A/B readout, rolling actives,
  * 2-hop reach, hubness, Neyman allocation. Every assertion recomputes
  * the expected answer independently (Scala collections over collected
  * sf0.001 rows), so the operators' join/window formulations are checked
  * against definitions, not against themselves. */
class AnalyticsOpsSpec extends SparkSpecBase {

  test("skyline: members are mutually non-dominated and every non-member is dominated") {
    val parts = Lake.part(spark, Sf)
      .select(col("p_partkey"), col("p_size"),
        col("p_retailprice").cast("decimal(18,2)").as("price"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2)))
    def dominates(a: (Long, Int, java.math.BigDecimal),
                  b: (Long, Int, java.math.BigDecimal)): Boolean =
      a._2 >= b._2 && a._3.compareTo(b._3) <= 0 &&
        (a._2 > b._2 || a._3.compareTo(b._3) < 0)
    val sky = Relational.skylineParts(spark, Sf).collect()
      .map(_.getLong(0)).toSet
    assert(sky.nonEmpty)
    val byKey = parts.map(p => p._1 -> p).toMap
    for (s <- sky; p <- parts)
      assert(!dominates(p, byKey(s)), s"skyline part $s dominated by ${p._1}")
    for (p <- parts if !sky(p._1))
      assert(parts.exists(q => dominates(q, p)),
        s"non-skyline part ${p._1} dominated by nobody")
  }

  test("gini matches the brute-force closed form per segment and sits in [0,1)") {
    val perCust = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val expected = perCust.groupBy(_._1).map { case (seg, rows) =>
      val xs = rows.sortBy(r => (r._3.doubleValue, r._2)).map(_._3.doubleValue)
      val n = xs.length
      val sw = xs.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
      seg -> (2 * sw - (n + 1) * xs.sum) / (n * xs.sum)
    }
    val got = Relational.giniSegments(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet == expected.keySet)
    for ((seg, e) <- expected) {
      assert(math.abs(got(seg) - e) < 1e-6, s"$seg gini ${got(seg)} vs $e")
      assert(got(seg) >= 0.0 && got(seg) < 1.0)
    }
  }

  test("abc classes partition all revenue-bearing parts and A carries the most revenue per part") {
    val rows = Relational.abcParts(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    val nParts = Lake.lineitem(spark, Sf)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_._2).sum == nParts, "classes must partition the parts")
    val perPart = rows.map(r => r._1 -> r._3 / r._2).toMap
    // A-parts are the head of the revenue ranking → highest avg revenue
    assert(perPart("A") > perPart.getOrElse("C", 0.0))
  }

  test("benford digits are 1–9, shares sum to 1, expected follows ln(1+1/d)/ln 10") {
    val rows = CatalogOps.benford(spark, Sf, "orders", "o_totalprice")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).forall(d => d >= 1 && d <= 9))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    for ((d, _, _, exp) <- rows)
      assert(math.abs(exp - math.log(1.0 + 1.0 / d) / math.log(10.0)) < 1e-6)
    // counts reconcile with the base table
    assert(rows.map(_._2).sum ==
      Lake.orders(spark, Sf).filter(col("o_totalprice") > 0).count())
  }

  test("mad outliers: per-group counts match a brute-force robust fence") {
    val vals = Lake.orders(spark, Sf)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2)
      else {
        // linear-interpolated (quantile_cont / Spark percentile) median
        val (a, b) = (s(n / 2 - 1), s(n / 2)); a + (b - a) * 0.5
      }
    }
    val expected = vals.groupBy(_._1).map { case (g, rows) =>
      val xs = rows.map(_._2)
      val med = medianOf(xs)
      val mad = medianOf(xs.map(x => math.abs(x - med)))
      g -> xs.count(x => math.abs(x - med) > 3.0 * 1.4826 * mad)
    }
    val got = CatalogOps.madOutliers(spark, Sf, "orders", "o_totalprice",
        "o_orderstatus").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.keySet == expected.keySet)
    for ((g, e) <- expected) assert(got(g) == e, s"$g: ${got(g)} vs $e")
  }

  test("item cosine equals n_ab/sqrt(n_a*n_b) over brute-force basket counts") {
    val li = Lake.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val itemN = li.distinct.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    val pairN = li.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val items = rows.map(_._2).distinct.sorted
      for (i <- items.indices; j <- i + 1 until items.length)
        yield (items(i), items(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val got = Relational.itemCosine(spark, Sf).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val (a, b, nab, cos) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(pairN((a, b)) == nab)
      val e = nab / math.sqrt(itemN(a).toDouble * itemN(b))
      assert(math.abs(cos - e) < 1e-6, s"($a,$b): $cos vs $e")
    }
  }

  test("ab readout: arms are a deterministic user partition and rates reconcile") {
    val r = EventOps.abReadout(spark, Sf).collect().head
    val (na, nb, ca, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = Lake.events(spark, Sf).select(col("user_id")).distinct().count()
    assert(na + nb == users, "arms must partition the user universe")
    val converted = Lake.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).count()
      .filter(col("count") >= 15).count()
    assert(ca + cb == converted)
    assert(converted > 0 && converted < users,
      "the conversion metric must have real variance on this corpus")
    assert(math.abs(r.getDouble(4) - ca.toDouble / na) < 1e-6)
    assert(math.abs(r.getDouble(6) - (cb.toDouble / nb - ca.toDouble / na)) < 1e-5)
    // determinism: a second run is bit-identical (hash arms, no rand())
    assert(EventOps.abReadout(spark, Sf).collect().head == r)
  }

  test("rolling 7-day actives match per-day brute force over user-days") {
    val ud = Lake.events(spark, Sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = ud.map(_._1).distinct
    val expected = days.map { d =>
      d -> ud.filter { case (ud1, _) =>
        !ud1.isAfter(d) && !ud1.isBefore(d.minusDays(6))
      }.map(_._2).distinct.size.toLong
    }.toMap
    val got = EventOps.rollingActives(spark, Sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("two-hop reach matches brute force over the 5-NN graph") {
    val edges = graft.operators.AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = GraphOps.twoHopQuery(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == adj.keySet)
    for ((s, nd, n2) <- got) {
      val direct = adj(s)
      assert(nd == direct.size)
      val two = direct.flatMap(m => adj.getOrElse(m, Set.empty)) - s -- direct
      assert(n2 == two.size, s"node $s: $n2 vs ${two.size}")
    }
  }

  test("hubness equals kNN in-degree, descending with id tie-break") {
    val edges = graft.operators.AnnOps.knnGraph(spark, Sf)
      .select(col("dst")).collect().map(_.getLong(0))
    val indeg = edges.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = GraphOps.hubnessQuery(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.length <= 20)
    for ((v, d) <- got) assert(indeg(v) == d)
    val sorted = got.sortBy { case (v, d) => (-d, v) }.toSeq
    assert(got.toSeq == sorted, "top hubs must be ordered by in-degree")
    // the report really is the top: no unlisted node beats the last entry
    val cut = got.last._2
    val listed = got.map(_._1).toSet
    for ((v, d) <- indeg if !listed(v)) assert(d <= cut)
  }

  test("ann recall: hit counts equal the exact∩approx overlap and recall is sane") {
    import graft.operators.AnnOps
    val exact = AnnOps.bruteForce(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = AnnOps.lsh(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.groupBy(_._1).view
      .mapValues(rows => rows.count(approx)).toMap
    val got = AnnOps.annRecall(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == expected.keySet)
    for ((q, hits, rec) <- got) {
      assert(hits == expected(q), s"query $q: $hits vs ${expected(q)}")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - hits / 5.0) < 1e-6)
    }
    assert(got.map(_._2).sum > 0, "LSH must recover at least some exact neighbors")
  }

  test("concordance matches a brute-force KWIC scan") {
    import graft.operators.TextOps
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      t.zipWithIndex.collect { case ("merge", i) =>
        (id, (i + 1).toLong,
          t.slice(math.max(0, i - 3), i).mkString(" "),
          t.slice(i + 1, i + 4).mkString(" "))
      }
    }.sortBy(r => (r._1, r._2))
    val got = TextOps.concordanceQuery(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("readability reproduces brute-force word/sentence/vowel-run counts") {
    import graft.operators.TextOps
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val w = rows.map(_._2.split(" ", -1).length.toLong).sum
      val s = rows.map(t => 1L + t._2.count(c => ".!?".contains(c))).sum
      val y = rows.map(t =>
        "[aeiouAEIOU]+".r.findAllIn(t._2).length.toLong).sum
      src -> (206.835 - 1.015 * (w.toDouble / s) - 84.6 * (y.toDouble / w))
    }
    val got = TextOps.readabilityQuery(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got.keySet == expected.keySet)
    for ((src, e) <- expected)
      assert(math.abs(got(src) - e) < 1e-3, s"$src: ${got(src)} vs $e")
  }

  test("engagement histogram partitions the user universe by active-day count") {
    val ud = Lake.events(spark, Sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1)))
    val expected = ud.groupBy(_._1).view.mapValues(_.length.toLong).toSeq
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.EventOps.engagementHist(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.sum == ud.map(_._1).distinct.length)
  }

  test("stickiness: dau <= mau and the ratio reconciles with brute force") {
    val ud = Lake.events(spark, Sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val got = graft.operators.EventOps.stickiness(spark, Sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == ud.map(_._1).distinct.toSet)
    for ((d, dau, mau, ratio) <- got) {
      val edau = ud.filter(_._1 == d).map(_._2).distinct.size
      val emau = ud.filter { case (x, _) =>
        !x.isAfter(d) && !x.isBefore(d.minusDays(27)) }.map(_._2).distinct.size
      assert(dau == edau && mau == emau, s"$d: ($dau,$mau) vs ($edau,$emau)")
      assert(dau <= mau)
      assert(math.abs(ratio - dau.toDouble / mau) < 1e-6)
    }
  }

  test("chi-square cells match a brute-force contingency table") {
    val rows = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val obs = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowT = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val colT = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expChi2 = obs.map { case ((a, b), o) =>
      val e = rowT(a) * colT(b) / n
      (o - e) * (o - e) / e
    }.sum
    val got = graft.operators.CatalogOps.chi2Query(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(5))))
    assert(got.map(_._1).toSet == obs.keySet)
    for ((cell, (o, chi2)) <- got) {
      assert(o == obs(cell))
      assert(math.abs(chi2 - expChi2) < 1e-3, s"chi2 $chi2 vs $expChi2")
    }
  }

  test("welch t matches brute-force cohort moments") {
    val vals = Lake.orders(spark, Sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val cut = java.time.LocalDate.parse("1997-01-01")
    val a = vals.filter(_._1.isBefore(cut)).map(_._2)
    val b = vals.filter(v => !v._1.isBefore(cut)).map(_._2)
    def mv(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val ((ma, va), (mb, vb)) = (mv(a), mv(b))
    val se2 = va / a.length + vb / b.length
    val et = (mb - ma) / math.sqrt(se2)
    val r = graft.operators.CatalogOps.welchQuery(spark, Sf).collect().head
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    assert(math.abs(r.getDouble(2) - ma) < 0.01)
    assert(math.abs(r.getDouble(3) - mb) < 0.01)
    assert(math.abs(r.getDouble(4) - et) < 1e-2, s"t ${r.getDouble(4)} vs $et")
  }

  test("label propagation matches a brute-force 3-round sync LP with min tie-break") {
    val knn = graft.operators.AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = knn.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1))).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(labels).groupBy(identity).view
          .mapValues(_.length).toMap
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    val expected = labels.values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (l, c) => (-c, l) }.take(20)
    val got = graft.operators.GraphOps.labelPropQuery(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected.map { case (l, c) => (l, c) })
  }

  test("forecast backtest MAE matches brute force on the dense test grid") {
    val ev = Lake.events(spark, Sf)
      .select(col("ts"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0).toLocalDateTime, r.getString(1)))
    val cut = java.time.LocalDateTime.parse("2024-01-22T00:00:00")
    val train = ev.filter(_._1.isBefore(cut))
    val test = ev.filter(e => !e._1.isBefore(cut))
    val nTrainDays = train.map(_._1.toLocalDate).distinct.length
    val fc = train.groupBy(e => (e._1.getHour, e._2)).view
      .mapValues(_.size.toDouble / nTrainDays).toMap
    val testDays = test.map(_._1.toLocalDate).distinct
    val types = ev.map(_._2).distinct
    val actual = test.groupBy(e =>
      (e._1.toLocalDate, e._1.getHour, e._2)).view.mapValues(_.size).toMap
    val expected = types.map { t =>
      val terms = for (d <- testDays; h <- 0 until 24) yield
        math.abs(actual.getOrElse((d, h, t), 0) - fc.getOrElse((h, t), 0.0))
      t -> terms.sum / terms.length
    }.toMap
    val got = graft.operators.EventOps.forecastBacktest(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet == expected.keySet)
    for ((t, e) <- expected)
      assert(math.abs(got(t) - e) < 1e-3, s"$t: ${got(t)} vs $e")
  }

  test("dedup recall: found pairs are a subset of brute-force truth on the sample") {
    import graft.operators.{CorpusOps, DedupOps}
    val r = DedupOps.dedupRecall(spark, Sf).collect().head
    val (nTrue, nFound) = (r.getLong(0), r.getLong(1))
    assert(nFound <= nTrue, "exact verification makes found ⊆ true")
    if (nTrue > 0) assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    // brute-force ground truth over the sampled docs
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val sampled = docs.map(_._1).filter(id =>
      ((id * 48271L) % 2147483647L) % 10000 < 2000).toSet
    // iterate sh.toSeq, not the Map: a tuple-yielding comprehension over
    // a Map rebuilds a Map and silently collapses pairs sharing min(s,o)
    val expected = (for {
      s <- sampled.toSeq
      (o, shO) <- sh.toSeq if o != s
      inter = sh(s).intersect(shO).size
      if inter.toDouble / (sh(s).size + shO.size - inter) >= 0.6
    } yield (math.min(s, o), math.max(s, o))).distinct.size
    assert(nTrue == expected, s"ground truth $nTrue vs brute-force $expected")
  }

  test("importance weights: uniform-target ratios, clipped and share-consistent") {
    val counts = Lake.documents(spark, Sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    val k = counts.size
    val got = graft.operators.CorpusOps.importanceWeightsQuery(spark, Sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(5)))
    assert(got.map(_._1).toSet == counts.keySet)
    for ((src, nd, obs, w) <- got) {
      assert(nd == counts(src))
      assert(math.abs(obs - nd / n) < 1e-6)
      val raw = (1.0 / k) / (nd / n)
      val clipped = math.min(math.max(raw, 0.1), 10.0)
      assert(math.abs(w - clipped) < 1e-4, s"$src: $w vs $clipped")
    }
  }

  test("weekly growth ratios reconcile with brute-force week counts") {
    val ev = Lake.events(spark, Sf)
      .select(col("ts")).collect()
      .map(_.getTimestamp(0).toLocalDateTime.toLocalDate)
    def weekOf(d: java.time.LocalDate) =
      d.minusDays(d.getDayOfWeek.getValue - 1L)
    val weeks = ev.groupBy(weekOf).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1.toEpochDay)
    val got = graft.operators.EventOps.weeklyGrowth(spark, Sf).collect()
      .map(r => (r.getTimestamp(0).toLocalDateTime.toLocalDate,
        r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.map(w => w._1 -> w._2).toSeq == weeks.map(w => w._1 -> w._2))
    assert(got.head._3.isEmpty, "first week has no previous to grow from")
    for (i <- 1 until got.length) {
      val e = (weeks(i)._2 - weeks(i - 1)._2).toDouble / weeks(i - 1)._2
      assert(math.abs(got(i)._3.get - e) < 1e-6)
    }
  }

  test("frequent triples match brute-force basket combinations") {
    val li = Lake.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = li.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val it = rows.map(_._2).distinct.sorted
      for (i <- it.indices; j <- i + 1 until it.length; k <- j + 1 until it.length)
        yield (it(i), it(j), it(k))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    val got = graft.operators.Relational.frequentTriples(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
    for ((t, n) <- got) assert(expected.get(t).contains(n), s"$t: $n")
    // and nothing frequent is missed below the top-K cut
    if (got.length < 20) assert(got.length == expected.size)
  }

  test("neyman allocation: shares sum to 1 and follow N_h*sigma_h proportions") {
    val rows = CorpusOps.neymanQuery(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    // brute-force population sd per source
    val docs = Lake.documents(spark, Sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2.toDouble)).toMap
    for ((src, n, sd, share, alloc) <- rows) {
      val xs = bySrc(src)
      assert(n == xs.length)
      val mean = xs.sum / xs.length
      val esd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
      assert(math.abs(sd - esd) < 1e-2 * math.max(1.0, esd), s"$src sd $sd vs $esd")
      val totalNs = bySrc.map { case (_, ys) =>
        val m = ys.sum / ys.length
        ys.length * math.sqrt(ys.map(y => (y - m) * (y - m)).sum / ys.length)
      }.sum
      val eshare = n * esd / totalNs
      assert(math.abs(share - eshare) < 1e-4, s"$src share $share vs $eshare")
      assert(math.abs(alloc - share * 1000) <= 1.0)
    }
  }

  test("acf matches the brute-force sample autocorrelation per lag") {
    val daily = Lake.events(spark, Sf)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .sortBy(_._1.toEpochDay)
    val byDay = daily.toMap
    val m = daily.map(_._2.toDouble).sum / daily.length
    val denom = daily.map(d => (d._2 - m) * (d._2 - m)).sum
    val got = graft.operators.EventOps.acfQuery(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (1 to 7))
    for ((k, nPairs, acf) <- got) {
      val pairs = daily.flatMap { case (d, xa) =>
        byDay.get(d.plusDays(k)).map(xb => (xa.toDouble, xb.toDouble)) }
      assert(nPairs == pairs.length)
      val e = pairs.map { case (a, b) => (a - m) * (b - m) }.sum / denom
      assert(math.abs(acf - e) < 1e-5, s"lag $k: $acf vs $e")
      assert(math.abs(acf) <= 1.0 + 1e-9)
    }
  }

  test("survival curve is a valid Kaplan-Meier estimate of user lifetimes") {
    val users = Lake.events(spark, Sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"), max(to_date(col("ts"))).as("ld"))
      .collect()
      .map(r => (r.getDate(1).toLocalDate, r.getDate(2).toLocalDate))
    val end = users.map(_._2).maxBy(_.toEpochDay)
    val lifetimes = users.map { case (fd, ld) =>
      val week = java.time.temporal.ChronoUnit.DAYS.between(fd, ld) / 7
      val observed = java.time.temporal.ChronoUnit.DAYS.between(ld, end) > 14
      (week.toInt, observed)
    }
    val rows = graft.operators.EventOps.survivalCurve(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    var atRisk = lifetimes.length.toLong
    var surv = 1.0
    for ((week, n, d, c, hazard, s) <- rows) {
      val deaths = lifetimes.count(l => l._1 == week && l._2)
      val cens = lifetimes.count(l => l._1 == week && !l._2)
      assert(n == atRisk, s"week $week at-risk $n vs $atRisk")
      assert(d == deaths && c == cens)
      assert(math.abs(hazard - deaths.toDouble / atRisk) < 1e-6)
      surv *= 1.0 - deaths.toDouble / atRisk
      assert(math.abs(s - surv) < 1e-3, s"week $week survival $s vs $surv")
      atRisk -= deaths + cens
    }
    assert(atRisk == 0, "every user leaves in some week")
  }

  test("survival: a terminal week whose whole risk set dies drops S(t) to 0") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // user 2 defines corpus_end with a 0-week lifetime (censored, week
    // 0); user 1's week-10 exit is then the FULL remaining risk set —
    // hazard 1. log(0) is NULL in Spark and a window sum silently SKIPS
    // it, so without the extinct guard survival would freeze at the
    // prior week's value instead of dropping to 0.
    val ev = Seq(
      (1L, 1L, 0L),             // user 1 first day 0
      (2L, 1L, 70L * dayNs),    // user 1 last day 70 → week 10, death
      (3L, 2L, 100L * dayNs),   // user 2 (single-day) sets corpus_end
      (4L, 2L, 100L * dayNs))
      .toDF("event_id", "user_id", "ts")
      .select(col("event_id"), col("ts"), col("user_id"),
        lit("view").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("graft_surv").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = EventOps.survivalCurve(spark, dir).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap
    assert(rows(0) == ((2L, 0L, 0.0, 1.0)), s"week 0: ${rows(0)}")
    assert(rows(10)._1 == 1L && rows(10)._2 == 1L && rows(10)._3 == 1.0,
      s"week 10 should be a full-risk-set death: ${rows(10)}")
    assert(rows(10)._4 == 0.0,
      s"terminal-week survival must be 0.0, got ${rows(10)._4}")
  }

  test("rfm segments partition customers, scores stay in 1..5, totals reconcile") {
    val rows = Relational.rfmSegments(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val nCust = Lake.orders(spark, Sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._2).sum == nCust)
    val total = Lake.orders(spark, Sf)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .collect()(0).getDecimal(0).doubleValue
    assert(math.abs(rows.map(_._3).sum - total) < 1.0)
    for ((seg, n, _) <- rows) {
      val parts = seg.split("-").map(_.toInt)
      assert(parts.length == 3 && parts.forall(p => p >= 1 && p <= 5), seg)
      assert(n > 0)
    }
  }

  test("degree distribution and assortativity agree with the brute-force graph") {
    val pairs = Lake.lineitem(spark, Sf)
      .join(Lake.orders(spark, Sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => ("c" + r.getLong(0), "s" + r.getLong(1)))
    val deg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dist = GraphOps.degreeDistQuery(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val expDist = deg.toSeq.groupBy { case (n, d) => (n.substring(0, 1), d) }
      .view.mapValues(_.size.toLong).toMap
    assert(dist == expDist)
    // Newman r over the mirrored edge list, brute force in doubles
    val xy = pairs.flatMap { case (c, s) =>
      Seq((deg(c).toDouble, deg(s).toDouble), (deg(s).toDouble, deg(c).toDouble)) }
    val e = xy.length.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val expR = (e * sxy - sx * sy) /
      math.sqrt((e * sxx - sx * sx) * (e * syy - sy * sy))
    val gotRow = GraphOps.assortativityQuery(spark, Sf).collect()(0)
    assert(gotRow.getLong(0) == xy.length)
    val gotR = gotRow.getDouble(1)
    assert(math.abs(gotR - expR) < 1e-5, s"assortativity $gotR vs $expR")
    assert(gotR >= -1.0 && gotR <= 1.0)
  }

  test("poisson bootstrap CI brackets the point mean and matches brute-force replicas") {
    val r = CatalogOps.bootstrapCi(spark, Sf, reps = 64).collect()(0)
    val (nReps, nOrders, point, lo, hi) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(nReps == 64)
    val orders = Lake.orders(spark, Sf)
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)"))
      .collect().map(x => (x.getLong(0), x.getDecimal(1)))
    assert(nOrders == orders.length)
    assert(lo <= hi && lo <= point && point <= hi,
      s"CI [$lo, $hi] must bracket the point mean $point")
    // brute-force one replica's weighted mean through the same hash
    val cum = Seq(0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
      0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508)
    def weight(key: Long, b: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-boot|$key|$b".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / (1L << 60).toDouble
      cum.indexWhere(u < _) match { case -1 => 8; case k => k }
    }
    val means = (0 until 64).map { b =>
      var sw = java.math.BigDecimal.ZERO; var nw = 0L
      for ((k, x) <- orders) {
        val wgt = weight(k, b)
        sw = sw.add(x.multiply(java.math.BigDecimal.valueOf(wgt.toLong)))
        nw += wgt
      }
      sw.doubleValue / nw
    }.sorted
    // engine lo95/hi95 are the 2.5/97.5 interpolated percentiles of these
    def pct(q: Double): Double = {
      val pos = (means.length - 1) * q
      val i = pos.toInt
      means(i) + (pos - i) * (means(i + 1) - means(i))
    }
    assert(math.abs(lo - pct(0.025)) < 1e-3, s"lo $lo vs ${pct(0.025)}")
    assert(math.abs(hi - pct(0.975)) < 1e-3, s"hi $hi vs ${pct(0.975)}")
  }

  test("conformal radius is the exact calibration order statistic and coverage reconciles") {
    val rows = EventOps.conformalForecast(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val ev = Lake.events(spark, Sf)
      .select(col("ts"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    val trainEnd = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val calEnd = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    def cell(t: java.sql.Timestamp) = {
      val ldt = t.toLocalDateTime
      (ldt.toLocalDate, ldt.getHour)
    }
    val types = ev.map(_._2).distinct.sorted
    val train = ev.filter(_._1.before(trainEnd))
    val trainDays = train.map(e => cell(e._1)._1).distinct.length
    val fc = train.groupBy(e => (cell(e._1)._2, e._2)).view
      .mapValues(_.length.toDouble / trainDays).toMap
    def residuals(slice: Array[(java.sql.Timestamp, String)]) = {
      val days = slice.map(e => cell(e._1)._1).distinct
      val counts = slice.groupBy(e => (cell(e._1)._1, cell(e._1)._2, e._2))
        .view.mapValues(_.length).toMap
      for (d <- days; h <- 0 until 24; t <- types)
        yield (t, math.abs(counts.getOrElse((d, h, t), 0) -
          fc.getOrElse((h, t), 0.0)))
    }
    val cal = residuals(ev.filter(e =>
      !e._1.before(trainEnd) && e._1.before(calEnd)))
    val tst = residuals(ev.filter(e => !e._1.before(calEnd)))
    for ((t, nCal, qhat, nTest, nCov, cov) <- rows) {
      val cr = cal.filter(_._1 == t).map(_._2).sorted
      assert(nCal == cr.length)
      val k = math.min(cr.length, math.ceil((cr.length + 1) * 0.9).toInt)
      assert(math.abs(qhat - cr(k - 1)) < 1e-6,
        s"$t qhat $qhat vs order statistic ${cr(k - 1)}")
      val tr = tst.filter(_._1 == t).map(_._2)
      assert(nTest == tr.length)
      assert(nCov == tr.count(_ <= cr(k - 1) + 1e-12))
      assert(math.abs(cov - nCov.toDouble / nTest) < 1e-4)
      assert(cov >= 0.5, s"$t coverage $cov collapsed")
    }
  }

  test("markov eval: predicted successor is the train argmax, accuracy reconciles") {
    val rows = EventOps.markovEval(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val cutoff = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    val ev = Lake.events(spark, Sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._2.getTime, e._3))
      s.zip(s.tail).map { case (a, b) => (a._4, b._4, b._2) }
    }.toArray
    val counts = trans.filter(_._3.before(cutoff))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    val predicted = counts.keys.map(_._1).toSeq.distinct.map { ty =>
      ty -> counts.filter(_._1._1 == ty).toSeq
        .maxBy { case ((_, nt), c) => (c, nt) }(
          Ordering.Tuple2(Ordering.Int, Ordering.String.reverse))._1._2
    }.toMap
    for ((ty, pred, nTest, nCorrect, acc) <- rows) {
      assert(pred == predicted(ty), s"$ty predicted $pred vs ${predicted(ty)}")
      val te = trans.filter(t => t._1 == ty && !t._3.before(cutoff))
      assert(nTest == te.length)
      assert(nCorrect == te.count(_._2 == pred))
      assert(math.abs(acc - nCorrect.toDouble / nTest) < 1e-4)
    }
  }

  test("stl decomposition: brute-force trend/seasonal and additive reconstruction") {
    val rows = EventOps.stlDecompose(spark, Sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val daily = rows.map(r => (r._1, r._2)).sortBy(_._1.toEpochDay)
    assert(rows.length == daily.length && rows.length >= 28)
    val xs = daily.map(_._2.toDouble)
    for (((day, x, trend, seasonal, residual), i) <- rows.zipWithIndex) {
      val lo = math.max(0, i - 3); val hi = math.min(xs.length - 1, i + 3)
      val expTrend = xs.slice(lo, hi + 1).sum / (hi - lo + 1)
      assert(math.abs(trend - expTrend) < 1e-3, s"$day trend $trend vs $expTrend")
      // additive identity at rounding tolerance
      assert(math.abs(x - (trend + seasonal + residual)) < 5e-4, s"$day")
    }
    // seasonal is a pure function of weekday
    val byDow = rows.groupBy(_._1.getDayOfWeek)
    for ((_, rs) <- byDow)
      assert(rs.map(_._4).distinct.length == 1, "one seasonal value per weekday")
    // detrended weekday means: recompute brute force
    val dowMean = rows.groupBy(_._1.getDayOfWeek).view.mapValues { rs =>
      rs.map(r => math.rint((r._2 - r._3) * 1e6) / 1e6).sum / rs.length
    }.toMap
    for (r <- rows)
      assert(math.abs(r._4 - dowMean(r._1.getDayOfWeek)) < 1e-3,
        s"${r._1} seasonal ${r._4} vs ${dowMean(r._1.getDayOfWeek)}")
  }

  test("funnel CI: Wilson bounds match the closed form and bracket the rate") {
    val rows = EventOps.funnelCi(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSet ==
      Set("view", "view>click", "view>click>buy"))
    for ((step, nPrev, nConv, rate, lo, hi) <- rows) {
      assert(nConv <= nPrev, step)
      val n = nPrev.toDouble; val p = nConv / n
      assert(math.abs(rate - p) < 1e-4)
      val z = 1.96
      val denom = 1.0 + z * z / n
      val center = (p + z * z / (2 * n)) / denom
      val half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
      assert(math.abs(lo - (center - half)) < 1e-3, s"$step lo")
      assert(math.abs(hi - (center + half)) < 1e-3, s"$step hi")
      assert(lo <= rate + 1e-9 && rate <= hi + 1e-9, s"$step brackets")
      assert(lo >= -1e-9 && hi <= 1.0 + 1e-9)
    }
    // funnel is monotone: each step's base is the previous conversions
    val byStep = rows.map(r => r._1 -> r).toMap
    assert(byStep("view>click")._2 == byStep("view")._3)
    assert(byStep("view>click>buy")._2 == byStep("view>click")._3)
  }

  test("daily percentile bands match brute-force interpolation per day") {
    val rows = EventOps.dailyPercentiles(spark, Sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val byDay = Lake.events(spark, Sf)
      .select(to_date(col("ts")).as("day"), col("value")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct(xs: Array[Double], q: Double): Double = {
      val pos = (xs.length - 1) * q
      val i = pos.toInt
      if (i + 1 >= xs.length) xs(i) else xs(i) + (pos - i) * (xs(i + 1) - xs(i))
    }
    assert(rows.length == byDay.size)
    for ((day, n, p50, p90, p99) <- rows) {
      val xs = byDay(day)
      assert(n == xs.length)
      assert(math.abs(p50 - pct(xs, 0.5)) < 1e-3, s"$day p50")
      assert(math.abs(p90 - pct(xs, 0.9)) < 1e-3, s"$day p90")
      assert(math.abs(p99 - pct(xs, 0.99)) < 1e-3, s"$day p99")
      assert(p50 <= p90 + 1e-9 && p90 <= p99 + 1e-9)
    }
  }

  test("json schema inventory: coverage, numeric share, and range reconcile") {
    val rows = CatalogOps.jsonSchema(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val props = Lake.events(spark, Sf).select(col("props")).collect()
      .map(_.getString(0))
    // the synthetic corpus carries {"k": <int>} on every event
    assert(rows.map(_._1).contains("k"))
    val k = rows.find(_._1 == "k").get
    val vals = props.flatMap { p =>
      "\"k\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(p).map(_.group(1).toLong)
    }
    assert(k._2 == vals.length)
    assert(math.abs(k._3 - vals.length.toDouble / props.length) < 1e-4)
    assert(k._4 == 1.0, "every k value is numeric")
    assert(k._5 == vals.min.toDouble && k._6 == vals.max.toDouble)
  }

  test("ship lag percentiles match brute force and late share reconciles") {
    val rows = Relational.shipLag(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val lags = Lake.lineitem(spark, Sf)
      .join(Lake.orders(spark, Sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2.toDouble).sorted).toMap
    def pct(xs: Array[Double], q: Double): Double = {
      val pos = (xs.length - 1) * q
      val i = pos.toInt
      if (i + 1 >= xs.length) xs(i) else xs(i) + (pos - i) * (xs(i + 1) - xs(i))
    }
    assert(rows.map(_._1).toSet == lags.keySet)
    for ((prio, n, p50, p90, p99, late) <- rows) {
      val xs = lags(prio)
      assert(n == xs.length)
      assert(math.abs(p50 - pct(xs, 0.5)) < 1e-3)
      assert(math.abs(p90 - pct(xs, 0.9)) < 1e-3)
      assert(math.abs(p99 - pct(xs, 0.99)) < 1e-3)
      assert(math.abs(late - xs.count(_ > 60).toDouble / n) < 1e-4)
    }
  }

  test("target encoding shrinks rare segments toward the global mean") {
    val rows = Relational.targetEncoding(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val perSeg = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      .collect().map(r => (r.getString(0), r.getDecimal(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val gSum = perSeg.values.flatten.map(BigDecimal(_)).sum
    val gN = perSeg.values.map(_.length).sum
    val gMean = gSum.toDouble / gN
    for ((seg, n, raw, enc) <- rows) {
      val ys = perSeg(seg)
      assert(n == ys.length)
      val expRaw = ys.map(BigDecimal(_)).sum.toDouble / n
      assert(math.abs(raw - expRaw) < 1e-4, s"$seg raw")
      val expEnc = (ys.map(BigDecimal(_)).sum.toDouble + 10.0 * gMean) /
        (n + 10.0)
      assert(math.abs(enc - expEnc) < 1e-4, s"$seg encoded")
      // shrinkage: encoded sits strictly between raw mean and global mean
      assert((enc - expRaw) * (gMean - expRaw) >= 0, s"$seg shrink direction")
      assert(math.abs(enc - gMean) <= math.abs(expRaw - gMean) + 1e-9)
    }
  }

  test("seasonal strength reconciles with the stl frame and sits in [0,1]") {
    val r = EventOps.seasonalStrength(spark, Sf).collect()(0)
    val (n, varR, varD, strength) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val stl = EventOps.stlDecompose(spark, Sf).collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
    assert(n == stl.length)
    def popVar(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    // rounded-output reconstruction is within rounding noise of the
    // exact engine variances
    val eVarR = popVar(stl.map(_._4))
    val eVarD = popVar(stl.map(x => x._1 - x._2))
    assert(math.abs(varR - eVarR) < 0.01 * math.max(1.0, eVarR), s"$varR vs $eVarR")
    assert(math.abs(varD - eVarD) < 0.01 * math.max(1.0, eVarD), s"$varD vs $eVarD")
    assert(strength >= 0.0 && strength <= 1.0)
    assert(math.abs(strength - math.max(0.0, 1.0 - eVarR / eVarD)) < 1e-2)
  }

  test("lorenz curve is monotone, convex, and ends at full share") {
    val rows = Relational.lorenzCurve(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1 to 10))
    val nCust = Lake.orders(spark, Sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._2).sum == nCust)
    assert(math.abs(rows.last._4 - 1.0) < 1e-9, "curve ends at 1")
    val shares = rows.map(_._4)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-9 },
      "cumulative share is monotone")
    // convexity: decile revenue is non-decreasing (sorted by revenue)
    val decRev = rows.map(_._3)
    assert(decRev.zip(decRev.tail).forall { case (a, b) => a <= b + 0.02 },
      "sorted deciles have non-decreasing revenue")
  }

  test("hapax profile matches brute-force per-source token frequencies") {
    val rows = TextOps.hapaxProfile(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val bySrc = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.flatMap(
        _._2.split(" ", -1).filter(_.nonEmpty))).toMap
    assert(rows.map(_._1).toSet == bySrc.keySet)
    for ((src, nTok, vocab, nHapax, share) <- rows) {
      val tf = bySrc(src).groupBy(identity).view.mapValues(_.length).toMap
      assert(nTok == bySrc(src).length)
      assert(vocab == tf.size)
      assert(nHapax == tf.count(_._2 == 1))
      assert(math.abs(share - nHapax.toDouble / vocab) < 1e-4)
    }
  }

  test("quality calibration buckets cover the corpus and dup mass reconciles") {
    val rows = graft.operators.DedupOps.qualityDupCalibration(spark, Sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull).count()
    assert(rows.map(_._2).sum == nDocs, "buckets cover the corpus")
    val members = graft.operators.DedupOps.sharedNearDups(spark, Sf)
      .selectExpr("explode(array(doc_a, doc_b)) AS d")
      .distinct().count()
    assert(rows.map(_._3).sum == members, "dup mass equals pair membership")
    for ((bucket, n, dup, share) <- rows) {
      assert(bucket >= 0 && bucket <= 10)
      assert(dup <= n)
      assert(math.abs(share - dup.toDouble / n) < 1e-4)
    }
  }

  test("isotonic calibration equals brute-force PAV pooling and preserves dup mass") {
    val rows = graft.operators.DedupOps.isotonicCalibration(spark, Sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // the fit is nonincreasing in the quality bucket
    for (((_, _, _, _, a), (b2, _, _, _, b)) <- rows.zip(rows.tail))
      assert(a >= b - 1e-12, s"antitonic violated at bucket $b2")
    // brute-force weighted PAV on the reversed sequence (nondecreasing
    // there = nonincreasing here): pool adjacent violators to weighted
    // means, then compare level-for-level
    case class Block(var w: Long, var s: Long)
    val seq = rows.reverse.map(t => (t._2, t._3)) // (weight, dup count)
    val blocks = scala.collection.mutable.ListBuffer[Block]()
    for ((w, s) <- seq) {
      blocks += Block(w, s)
      while (blocks.length > 1 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a.s.toDouble / a.w > b.s.toDouble / b.w
      }) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.w += b.w; blocks.last.s += b.s
      }
    }
    // expand blocks over the reversed sequence, then un-reverse
    val expanded = {
      val out = scala.collection.mutable.ListBuffer[Double]()
      val ws = seq.map(_._1)
      var idx = 0
      for (b <- blocks) {
        var acc = 0L; var cnt = 0
        while (acc < b.w) { acc += ws(idx); idx += 1; cnt += 1 }
        for (_ <- 0 until cnt) out += b.s.toDouble / b.w
      }
      out.toSeq.reverse
    }
    for (((_, _, _, _, iso), exp) <- rows.zip(expanded))
      assert(math.abs(iso - exp) < 1e-6, s"minimax vs PAV: $iso vs $exp")
    // PAV preserves the weighted mean: total fitted dup mass = raw mass
    val fittedMass = rows.map(t => t._2.toDouble * t._5).sum
    assert(math.abs(fittedMass - rows.map(_._3).sum) < 1e-2,
      s"dup mass preserved: $fittedMass vs ${rows.map(_._3).sum}")
  }

  test("growth accounting identity holds day over day") {
    val rows = EventOps.growthAccounting(spark, Sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1.toEpochDay)
    assert(rows.nonEmpty)
    // decomposition identity per day
    for ((day, active, nw, ret, res, _) <- rows)
      assert(active == nw + ret + res, s"$day decomposition")
    // flow identity: active_t - active_{t-1} = new + resurrected - churned
    for (((d1, a1, _, _, _, _), (d2, a2, nw2, _, res2, ch2))
         <- rows.zip(rows.tail) if d2 == d1.plusDays(1))
      assert(a2 - a1 == nw2 + res2 - ch2, s"$d2 flow identity")
    // totals: every user is new exactly once
    val nUsers = Lake.events(spark, Sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum == nUsers)
  }

  test("top movers are the global top-5 absolute WoW swings") {
    val rows = EventOps.topMovers(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.length == 5)
    val swings = rows.map(r => math.abs(r._4))
    assert(swings.zip(swings.tail).forall { case (a, b) => a >= b - 1e-9 },
      "ordered by |wow| descending")
    for ((_, n, prev, wow) <- rows)
      assert(math.abs(wow - (n - prev).toDouble / prev) < 1e-5)
  }

  test("trimmed and winsorized means are robust and internally consistent") {
    val rows = Relational.trimmedMeans(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val perSeg = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      .collect().map(r => (r.getString(0), r.getDecimal(1).doubleValue))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.map(_._1).toSet == perSeg.keySet)
    for ((seg, n, nKept, trimmed, winsorized) <- rows) {
      val xs = perSeg(seg)
      assert(n == xs.length)
      // ~90% of rows survive the [p05, p95] trim
      assert(nKept >= (0.88 * n).toLong && nKept <= (0.92 * n).toLong + 1)
      val rawMean = xs.sum / xs.length
      // robust means sit inside the data range and near the raw mean
      assert(trimmed >= xs.head && trimmed <= xs.last)
      assert(winsorized >= xs.head && winsorized <= xs.last)
      assert(math.abs(trimmed - rawMean) < 0.2 * rawMean)
      assert(math.abs(winsorized - rawMean) < 0.2 * rawMean)
    }
  }

  test("cross-correlation matches brute force and lag 0 matches sign of overlap") {
    val daily = Lake.events(spark, Sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val va = daily.filter(_._1 == "view").map(r => r._2 -> r._3.toDouble).toMap
    val vb = daily.filter(_._1 == "purchase")
      .map(r => r._2 -> r._3.toDouble).toMap
    def moments(m: Map[java.time.LocalDate, Double]) = {
      val n = m.size; val s = m.values.sum
      (s / n, m.values.map(x => x * x).sum - s * s / n)
    }
    val (ma, da) = moments(va); val (mb, db) = moments(vb)
    val got = EventOps.crossCorrelation(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (-7 to 7))
    for ((k, nPairs, xc) <- got) {
      val pairs = va.toSeq.flatMap { case (d, x) =>
        vb.get(d.plusDays(k)).map(y => (x, y)) }
      assert(nPairs == pairs.length)
      val num = pairs.map { case (x, y) => (x - ma) * (y - mb) }.sum
      val e = num / math.sqrt(da * db)
      assert(math.abs(xc - e) < 1e-4, s"lag $k: $xc vs $e")
      assert(math.abs(xc) <= 1.0 + 1e-9)
    }
  }

  test("dispersion: fano factor matches brute-force daily moments per type") {
    val rows = EventOps.dispersionQuery(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(2).toDouble))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(rows.map(_._1).toSet == daily.keySet)
    for ((t, n, mean, varD, fano) <- rows) {
      val xs = daily(t)
      assert(n == xs.length)
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(math.abs(mean - m) < 1e-3)
      assert(math.abs(varD - v) < 1e-2 * math.max(1.0, v))
      assert(math.abs(fano - v / m) < 1e-2 * math.max(1.0, v / m))
      assert(fano > 0)
    }
  }

  test("peak concurrency matches a brute-force interval sweep per day") {
    val rows = EventOps.peakConcurrency(spark, Sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
    // brute-force: rebuild sessions, clamp to days, sweep
    val ev = Lake.events(spark, Sf)
      .select(col("user_id"), col("ts"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._2.getTime, e._3))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = s.head._2.getTime; var last = start
      for (e <- s.tail) {
        if ((e._2.getTime - last) / 1000.0 > 1800) {
          out += ((start, last)); start = e._2.getTime
        }
        last = e._2.getTime
      }
      out += ((start, last))
      out
    }.toArray
    val dayMs = 86400000L
    def days(t0: Long, t1: Long) =
      (t0 / dayMs) to (t1 / dayMs)
    val byDay = sessions.flatMap { case (t0, t1) =>
      days(t0, t1).map(d => (d, math.max(t0, d * dayMs),
        math.min(t1, (d + 1) * dayMs - 1))) }
      .groupBy(_._1)
    for ((day, n, peak) <- rows) {
      val ivs = byDay(day.toEpochDay)
      assert(n == ivs.length, s"$day session count")
      // closed intervals: starts before ends at equal times
      val pts = ivs.flatMap(iv => Seq((iv._2, 1), (iv._3, -1)))
        .sortBy(p => (p._1, -p._2))
      var cur = 0L; var mx = 0L
      for ((_, delta) <- pts) { cur += delta; mx = math.max(mx, cur) }
      assert(peak == mx, s"$day peak $peak vs $mx")
      assert(peak >= 1 && peak <= n)
    }
  }

  test("srm check: arm counts partition users and the chi-square term reconciles") {
    val r = EventOps.srmCheck(spark, Sf).collect()(0)
    val (nA, nB, chi2, flag) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
    val users = Lake.events(spark, Sf)
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
    val expA = users.count(u => (u * 16807L % 2147483647L) % 2 == 0)
    assert(nA == expA && nB == users.length - expA)
    val expChi = math.pow((nA - nB).toDouble, 2) / (nA + nB)
    assert(math.abs(chi2 - expChi) < 1e-3)
    assert(flag == (expChi > 3.841))
  }

  test("Fellegi-Sunter weights match hand-computed m/u with NULL at the degenerate edge") {
    import spark.implicits._
    // matched pairs: (alpha one, alpha ones) and (beta x1, beta x2);
    // brand agrees on both (m=1 -> w_disagree NULL), type and size on one
    val parts = Seq(
      ("alpha one", "A", "T1", 5),
      ("alpha ones", "A", "T2", 5),
      ("beta x1", "B", "T3", 7),
      ("beta x2", "B", "T3", 9),
      ("gamma z", "A", "T1", 5))
      .toDF("p_name", "p_brand", "p_type", "p_size")
    val rows = graft.operators.DedupOps.fsWeights(parts).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    def lg2(x: Double) = BigDecimal(math.log(x) / math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // u: brand A:3 B:2 -> 8/20; type T1:2 T3:2 -> 4/20; size 5:3 -> 6/20
    assert(rows("p_brand") ==
      ((2L, 1.0, 0.4, Some(lg2(1.0 / 0.4)), None)), s"brand: $rows")
    assert(rows("p_type") ==
      ((2L, 0.5, 0.2, Some(lg2(0.5 / 0.2)), Some(lg2(0.5 / 0.8)))),
      s"type: $rows")
    assert(rows("p_size") ==
      ((2L, 0.5, 0.3, Some(lg2(0.5 / 0.3)), Some(lg2(0.5 / 0.7)))),
      s"size: $rows")
    // lake: a match-informative attribute scores positive agreement
    val lake = graft.operators.DedupOps.fsWeights(spark, Sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(lake.length == 3)
    for ((attr, m, u, wa) <- lake) {
      assert(m >= 0.0 && m <= 1.0 && u >= 0.0 && u < 1.0, s"$attr bounds")
      for (w <- wa if m > u) assert(w > 0, s"$attr m>u must score positive")
    }
  }

  test("MDE planner matches brute-force moments with zero-count users in the denominator") {
    val events = Lake.events(spark, Sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val allUsers = events.map(_._2).distinct.length
    val rows = graft.operators.EventOps.mdePlanner(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    for ((tpe, nUsers, nPresent, mean, varr, mdeAbs, mdeRel, nReq)
         <- rows) {
      assert(nUsers == allUsers, "denominator is ALL users")
      val counts = events.filter(_._1 == tpe).groupBy(_._2)
        .view.mapValues(_.length.toLong).toMap
      assert(nPresent == counts.size)
      val xs = counts.values.toSeq
      val eMean = xs.sum.toDouble / allUsers
      val eVar = (xs.map(x => x.toDouble * x).sum -
        xs.sum.toDouble * xs.sum / allUsers) / allUsers
      assert(math.abs(mean - eMean) < 1e-4, s"$tpe mean $mean vs $eMean")
      assert(math.abs(varr - eVar) < 1e-4, s"$tpe var $varr vs $eVar")
      val eMde = 2.801585 * math.sqrt(4.0 * eVar / allUsers)
      assert(math.abs(mdeAbs - eMde) < 1e-5, s"$tpe mde $mdeAbs vs $eMde")
      assert(math.abs(mdeRel - eMde / eMean) < 1e-5)
      val eReq = math.ceil(2.0 * (2.801585 * 2.801585) * eVar /
        ((0.05 * eMean) * (0.05 * eMean))).toLong
      assert(nReq == eReq, s"$tpe n_req $nReq vs $eReq")
      // detecting a 5% lift needs far more than this corpus's users
      assert(nReq > allUsers, s"$tpe power sanity")
    }
  }

  test("Shapley attribution matches the hand-computed lattice and satisfies efficiency") {
    import spark.implicits._
    // u1 view->buy, u2 click->buy, u3 view+click->buy, u4 view only,
    // u5 buy untouched; by symmetry phi(view) = phi(click) = 1.5 (hand
    // expansion over all 8 coalitions), error/signup contribute nothing
    val ev = Seq(
      (1L, "view"), (2L, "purchase"),
      (3L, "click"), (4L, "purchase"),
      (5L, "view"), (6L, "click"), (7L, "purchase"),
      (8L, "view"),
      (9L, "purchase"))
      .zip(Seq(1L, 1L, 2L, 2L, 3L, 3L, 3L, 4L, 5L))
      .map { case ((eid, t), u) => (eid, u, t) }
      .toDF("event_id", "user_id", "event_type")
    val rows = graft.operators.EventOps.shapleyAttribution(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("view") == ((1.5, 3L, 2L)), s"view: $rows")
    assert(rows("click") == ((1.5, 2L, 2L)), s"click: $rows")
    assert(rows("error") == ((0.0, 0L, 0L)), s"error: $rows")
    assert(rows("signup") == ((0.0, 0L, 0L)), s"signup: $rows")
    // lake: every phi nonnegative (v is monotone) and efficiency holds:
    // sum(phi) = converted users - converted users with no channel touch
    val lake = graft.operators.EventOps.shapleyAttribution(spark, Sf)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val byUser = Lake.events(spark, Sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val convTotal = byUser.values.count(_.contains("purchase"))
    val convEmpty = byUser.values.count(s =>
      s.contains("purchase") && (s - "purchase").isEmpty)
    assert(lake.forall(_._2 >= 0.0), s"monotone v => phi >= 0: $lake")
    assert(math.abs(lake.map(_._2).sum - (convTotal - convEmpty)) < 1e-4,
      s"efficiency: ${lake.map(_._2).sum} vs ${convTotal - convEmpty}")
  }

  test("Theil-Sen recovers a planted exact linear trend with maximal Mann-Kendall agreement") {
    import spark.implicits._
    // day i carries 10 + 2i events: every pairwise slope is exactly 2,
    // S = n_pairs (strictly increasing), intercept = 10 - 2*epochDay(d0)
    val d0 = java.time.LocalDate.parse("2024-03-01")
    val ev = (0 until 6).flatMap { i =>
      (0 until 10 + 2 * i).map { j =>
        (i * 100L + j,
          java.sql.Timestamp.valueOf(d0.plusDays(i).atTime(1, j % 60)))
      }
    }.toDF("event_id", "ts")
    val r = graft.operators.EventOps.theilSen(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 6L, "n_days")
    assert(row.getLong(1) == 15L, "n_pairs = C(6,2)")
    assert(row.getDouble(2) == 2.0, s"slope: $row")
    assert(row.getDouble(3) == 10.0 - 2.0 * d0.toEpochDay, s"intercept: $row")
    assert(row.getLong(4) == 15L, "S = n_pairs on a strict increase")
    assert(row.getDouble(5) > 1.96, s"strong trend must clear z=1.96: $row")
  }

  test("Theil-Sen shrugs off the outlier day that flips an OLS slope") {
    import spark.implicits._
    // 9 flat days of 20 events + one 200-event spike: LS slope is pulled
    // hard; the median of pairwise slopes stays at 0
    val d0 = java.time.LocalDate.parse("2024-03-01")
    val ev = (0 until 10).flatMap { i =>
      val n = if (i == 9) 200 else 20
      (0 until n).map { j =>
        (i * 1000L + j,
          java.sql.Timestamp.valueOf(d0.plusDays(i).atTime(2, j % 60)))
      }
    }.toDF("event_id", "ts")
    val row = graft.operators.EventOps.theilSen(ev).collect().head
    assert(row.getDouble(2) == 0.0, s"robust slope ignores the spike: $row")
  }

  test("rank correlation is exactly +/-1 on planted monotone series and matches brute force on the lake") {
    import spark.implicits._
    def ev(purchases: Seq[Int]) = {
      val d0 = java.time.LocalDate.parse("2024-03-01")
      (0 until 5).flatMap { i =>
        val views = (0 until (i + 1)).map(j =>
          (i * 1000L + j, "view",
            java.sql.Timestamp.valueOf(d0.plusDays(i).atTime(3, j % 60))))
        val buys = (0 until purchases(i)).map(j =>
          (i * 1000L + 500 + j, "purchase",
            java.sql.Timestamp.valueOf(d0.plusDays(i).atTime(4, j % 60))))
        views ++ buys
      }.toDF("event_id", "event_type", "ts")
    }
    val up = graft.operators.EventOps
      .rankCorrelation(ev(Seq(2, 4, 6, 8, 10))).collect().head
    assert(up.getLong(0) == 5L)
    assert(up.getDouble(1) == 1.0 && up.getDouble(2) == 1.0,
      s"perfectly concordant: $up")
    val down = graft.operators.EventOps
      .rankCorrelation(ev(Seq(10, 8, 6, 4, 2))).collect().head
    assert(down.getDouble(1) == -1.0 && down.getDouble(2) == -1.0,
      s"perfectly discordant: $down")
    // lake: brute-force Spearman/Kendall over the joined daily series
    val daily = Lake.events(spark, Sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val v = daily.filter(_._1 == "view").map(t => t._2 -> t._3).toMap
    val p = daily.filter(_._1 == "purchase").map(t => t._2 -> t._3).toMap
    val days = v.keySet.intersect(p.keySet).toSeq.sortBy(_.toEpochDay)
    val xs = days.map(v); val ys = days.map(p)
    def avgRanks(zs: Seq[Long]): Seq[Double] = {
      val sorted = zs.sorted
      zs.map { z =>
        val lo = sorted.indexOf(z) + 1; val hi = sorted.lastIndexOf(z) + 1
        (lo + hi) / 2.0
      }
    }
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
    }
    val eRho = pearson(avgRanks(xs), avgRanks(ys))
    val pairsIdx = for {
      i <- xs.indices; j <- xs.indices if i < j
    } yield (math.signum(xs(j).compareTo(xs(i))) *
      math.signum(ys(j).compareTo(ys(i)))).toLong
    val cd = pairsIdx.sum.toDouble
    def tiePairs(zs: Seq[Long]): Long =
      zs.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1)).sum
    val n0x2 = days.length.toLong * (days.length - 1)
    val eTau = cd / math.sqrt((n0x2 - tiePairs(xs)) / 2.0 *
      ((n0x2 - tiePairs(ys)) / 2.0))
    val got = graft.operators.EventOps.rankCorrelation(spark, Sf)
      .collect().head
    assert(got.getLong(0) == days.length.toLong)
    assert(math.abs(got.getDouble(1) - eRho) < 1e-5,
      s"spearman ${got.getDouble(1)} vs $eRho")
    assert(math.abs(got.getDouble(2) - eTau) < 1e-5,
      s"kendall ${got.getDouble(2)} vs $eTau")
  }

  test("AR(2) Yule-Walker fit matches brute force and the skill identity holds") {
    val daily = Lake.events(spark, Sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val n = daily.size
    val sx = daily.values.sum.toDouble
    val sxx = daily.values.map(x => x.toDouble * x).sum
    val m = sx / n
    val denom = sxx - sx * sx / n
    def r(k: Int): Double = {
      val pr = daily.toSeq.flatMap { case (d, xa) =>
        daily.get(d.plusDays(k.toLong)).map(xb => (xa.toDouble, xb.toDouble))
      }
      val sab = pr.map { case (a, b) => a * b }.sum
      val sa = pr.map(_._1).sum; val sb = pr.map(_._2).sum
      math.rint((sab - m * sa - m * sb + pr.size * m * m) / denom * 1e6) / 1e6
    }
    val (r1, r2) = (r(1), r(2))
    val phi1 = math.rint(r1 * (1 - r2) / (1 - r1 * r1) * 1e6) / 1e6
    val phi2 = math.rint((r2 - r1 * r1) / (1 - r1 * r1) * 1e6) / 1e6
    val m6 = math.rint(m * 1e6) / 1e6
    val tri = daily.toSeq.flatMap { case (d, x) =>
      for {
        x1 <- daily.get(d.minusDays(1L)); x2 <- daily.get(d.minusDays(2L))
      } yield (x.toDouble, x1.toDouble, x2.toDouble)
    }
    val ssa = tri.map { case (x, x1, x2) =>
      val e = x - (m6 + phi1 * (x1 - m6) + phi2 * (x2 - m6))
      math.rint(e * e * 1e6) / 1e6
    }.sum
    val ssn = tri.map { case (x, x1, _) => (x - x1) * (x - x1) }.sum
    val row = graft.operators.EventOps.ar2Forecast(spark, Sf).collect().head
    assert(row.getLong(0) == n.toLong, "n_days")
    assert(math.abs(row.getDouble(2) - r1) < 2e-6, s"r1 ${row.getDouble(2)} vs $r1")
    assert(math.abs(row.getDouble(3) - r2) < 2e-6, s"r2 ${row.getDouble(3)} vs $r2")
    assert(math.abs(row.getDouble(4) - phi1) < 2e-6, "phi1")
    assert(math.abs(row.getDouble(5) - phi2) < 2e-6, "phi2")
    assert(row.getLong(6) == tri.size.toLong, "n_scored")
    val rmseA = row.getDouble(7); val rmseN = row.getDouble(8)
    assert(math.abs(rmseA - math.sqrt(ssa / tri.size)) < 1e-3, "rmse_ar2")
    assert(math.abs(rmseN - math.sqrt(ssn / tri.size)) < 1e-3, "rmse_naive")
    // skill is computed from the unrounded RMSEs; the published pair
    // reproduces it to rounding tolerance
    assert(math.abs(row.getDouble(9) - (1.0 - rmseA / rmseN)) < 2e-4, "skill")
  }

  test("stratified ATT matches brute force and shrinks the confounded naive gap") {
    val users = Lake.events(spark, Sf)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
      .groupBy(_._1).map { case (_, evs) =>
        val d0 = evs.map(_._2).minBy(_.toEpochDay)
        val treated = evs.exists(e => e._2 == d0 && e._3 == "error")
        val y = evs.count(e => e._2.isAfter(d0) && e._3 == "purchase").toLong
        (treated, y, evs.length.toLong / 20L)
      }.toSeq
    val nUsers = users.size.toLong
    val nT = users.count(_._1).toLong
    val yt = users.filter(_._1).map(_._2).sum
    val yc = users.filterNot(_._1).map(_._2).sum
    val naive = yt.toDouble / nT - yc.toDouble / (nUsers - nT)
    val strata = users.groupBy(_._3).map { case (s, us) =>
      (s, us.count(_._1).toLong, us.count(!_._1).toLong,
        us.filter(_._1).map(_._2).sum, us.filterNot(_._1).map(_._2).sum)
    }.toSeq
    val used = strata.filter(s => s._2 > 0 && s._3 > 0)
    val ntUsed = used.map(_._2).sum
    val att = used.map { case (_, nt, nc, st, sc) =>
      math.rint((nt.toDouble / ntUsed) *
        (st.toDouble / nt - sc.toDouble / nc) * 1e6) / 1e6
    }.sum
    val row = graft.operators.EventOps.attStratified(spark, Sf).collect().head
    assert(row.getLong(0) == nUsers && row.getLong(1) == nT)
    assert(row.getLong(2) == nUsers - nT)
    assert(math.abs(row.getDouble(3) - naive) < 1e-4, "naive_diff")
    assert(math.abs(row.getDouble(4) - att) < 1e-4, s"att ${row.getDouble(4)} vs $att")
    assert(row.getLong(5) == strata.size.toLong, "n_strata")
    assert(row.getLong(6) == used.size.toLong, "n_strata_used")
    assert(row.getLong(7) == ntUsed, "n_treated_on_support")
  }

  test("log-rank test matches brute-force O/E/V and the expectation identity holds") {
    val evs = Lake.events(spark, Sf)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
    val users = evs.groupBy(_._1).map { case (_, es) =>
      val fd = es.map(_._2).minBy(_.toEpochDay)
      val ld = es.map(_._2).maxBy(_.toEpochDay)
      val grp = es.exists(e => e._2 == fd && e._3 == "error")
      (grp, fd, ld)
    }.toSeq
    val ce = users.map(_._3).maxBy(_.toEpochDay)
    val lt = users.map { case (grp, fd, ld) =>
      (grp, ((ld.toEpochDay - fd.toEpochDay) / 7).toInt,
        if (ce.toEpochDay - ld.toEpochDay > 14) 1L else 0L)
    }
    val weeks = lt.map(_._2).distinct.sorted
    var (n1, n0) = (lt.count(_._1).toLong, lt.count(!_._1).toLong)
    var (o1, e1, v) = (0L, 0.0, 0.0)
    for (w <- weeks) {
      val (d1, d0) = (lt.filter(t => t._1 && t._2 == w).map(_._3).sum,
        lt.filter(t => !t._1 && t._2 == w).map(_._3).sum)
      val (l1, l0) = (lt.count(t => t._1 && t._2 == w).toLong,
        lt.count(t => !t._1 && t._2 == w).toLong)
      val n = n1 + n0; val d = d1 + d0
      o1 += d1
      e1 += math.rint(d.toDouble * n1 / n * 1e6) / 1e6
      if (n > 1)
        v += math.rint(d.toDouble * (n1.toDouble / n) * (n0.toDouble / n) *
          (n - d).toDouble / (n - 1) * 1e6) / 1e6
      n1 -= l1; n0 -= l0
    }
    val row = graft.operators.EventOps.logrank(spark, Sf).collect().head
    assert(row.getLong(0) == lt.count(_._1).toLong, "n_treated")
    assert(row.getLong(1) == lt.count(!_._1).toLong, "n_control")
    assert(row.getLong(2) == o1, "o1")
    assert(math.abs(row.getDouble(4) - e1) < 1e-3, s"e1 ${row.getDouble(4)} vs $e1")
    // expectations partition the total deaths: e1 + e0 == o1 + o0
    assert(math.abs(row.getDouble(4) + row.getDouble(5) -
      (row.getLong(2) + row.getLong(3))) < 2e-3, "E partitions O")
    if (v > 0) {
      val chi2 = (o1 - e1) * (o1 - e1) / v
      assert(math.abs(row.getDouble(6) - chi2) < 1e-2,
        s"chi2 ${row.getDouble(6)} vs $chi2")
      val p = row.getDouble(7)
      assert(p > 0.0 && p <= 1.0, s"p in (0,1]: $p")
    }
  }

  test("periodogram covers the 2..14 grid, is non-negative, and matches brute force") {
    val daily = Lake.events(spark, Sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
    val n = daily.length
    val sx = daily.map(_._2).sum.toDouble
    val sxx = daily.map(t => t._2.toDouble * t._2).sum
    val m6 = math.rint(sx / n * 1e6) / 1e6
    val sstot = sxx - sx * sx / n
    def power(p: Int): Double = {
      val terms = daily.map { case (idx, x) =>
        val ang = 2.0 * math.acos(-1.0) * (idx % p) / p
        val c6 = math.rint(math.cos(ang) * 1e6) / 1e6
        val s6 = math.rint(math.sin(ang) * 1e6) / 1e6
        (math.rint((x - m6) * c6 * 1e6) / 1e6,
          math.rint((x - m6) * s6 * 1e6) / 1e6)
      }
      val sc = terms.map(_._1).sum; val ss = terms.map(_._2).sum
      (sc * sc + ss * ss) / (n * sstot)
    }
    val rows = graft.operators.EventOps.periodogram(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (2 to 14).toSeq, "grid")
    assert(rows.count(_.getBoolean(2)) >= 1, "at least one peak")
    val best = rows.filter(_.getBoolean(2)).map(_.getDouble(1)).max
    for (r <- rows) {
      val p = r.getInt(0)
      assert(r.getDouble(1) >= 0.0, s"power >= 0 at $p")
      assert(r.getDouble(1) <= best + 1e-9, "peak is the max")
      assert(math.abs(r.getDouble(1) - power(p)) < 1e-3,
        s"power at $p: ${r.getDouble(1)} vs ${power(p)}")
    }
  }

  test("CMH test matches brute-force strata cells and the pooled OR") {
    val users = Lake.events(spark, Sf)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
      .groupBy(_._1).map { case (_, es) =>
        val d0 = es.map(_._2).minBy(_.toEpochDay)
        (es.exists(e => e._2 == d0 && e._3 == "error"),
          es.exists(e => e._2.isAfter(d0) && e._3 == "purchase"),
          es.length.toLong / 20L)
      }.toSeq
    val strata = users.groupBy(_._3).values.toSeq
    var (sa, se, sv, sorn, sord) = (0L, 0.0, 0.0, 0.0, 0.0)
    for (st <- strata) {
      val a = st.count(u => u._1 && u._2).toLong
      val b = st.count(u => u._1 && !u._2).toLong
      val c = st.count(u => !u._1 && u._2).toLong
      val d = st.count(u => !u._1 && !u._2).toLong
      val n = a + b + c + d; val r1 = a + b; val c1 = a + c
      sa += a
      se += math.rint(r1.toDouble * c1 / n * 1e6) / 1e6
      if (n > 1)
        sv += math.rint(r1.toDouble * (n - r1) * c1 * (n - c1) /
          (n.toDouble * n * (n - 1)) * 1e6) / 1e6
      sorn += math.rint(a.toDouble * d / n * 1e6) / 1e6
      sord += math.rint(b.toDouble * c / n * 1e6) / 1e6
    }
    val row = graft.operators.EventOps.cmhTest(spark, Sf).collect().head
    assert(row.getLong(0) == users.size.toLong, "n_users")
    assert(row.getLong(1) == strata.size.toLong, "n_strata")
    assert(row.getLong(2) == sa, "a_total")
    assert(math.abs(row.getDouble(3) - se) < 1e-3, "e_total")
    if (sv > 0) {
      val z = (sa - se) / math.sqrt(sv)
      assert(math.abs(row.getDouble(4) - z * z) < 1e-2,
        s"chi2 ${row.getDouble(4)} vs ${z * z}")
      assert(row.getDouble(5) > 0.0 && row.getDouble(5) <= 1.0, "p in (0,1]")
    } else assert(row.isNullAt(4) && row.isNullAt(5),
      "degenerate variance surfaces as NULL, never a fake zero")
    if (sord > 0)
      assert(math.abs(row.getDouble(6) - sorn / sord) < 1e-3, "or_mh")
  }

  test("PACF satisfies the Durbin-Levinson recursion on its own published ACF") {
    val row = graft.operators.EventOps.pacfQuery(spark, Sf).collect().head
    val (r1, r2, r3) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
    assert(math.abs(row.getDouble(4) - r1) < 1e-9, "pacf1 = r1")
    val v1 = 1.0 - r1 * r1
    val a22 = (r2 - r1 * r1) / v1
    assert(math.abs(row.getDouble(5) - a22) < 1e-6, "pacf2")
    val a21 = r1 - a22 * r1
    val v2 = v1 * (1.0 - a22 * a22)
    val a33 = (r3 - a21 * r2 - a22 * r1) / v2
    assert(math.abs(row.getDouble(6) - a33) < 1e-6, "pacf3")
    // pacf2 must equal the AR(2) phi2 — both are the same closed form
    val ar2 = graft.operators.EventOps.ar2Forecast(spark, Sf).collect().head
    assert(math.abs(row.getDouble(5) - ar2.getDouble(5)) < 2e-6,
      "pacf2 == ar2 phi2")
  }

  test("Mann-Whitney U matches brute-force average ranks and the U+U' identity") {
    val daily = Lake.events(spark, Sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(1) == "view", r.getLong(2)))
    val xsA = daily.filter(_._1).map(_._2).toSeq.sorted
    val all = daily.map(_._2).toSeq.sorted
    val (na, nb) = (xsA.size.toLong, (daily.length - xsA.size).toLong)
    def avgRank(v: Long): Double = {
      val lt = all.count(_ < v); val eq = all.count(_ == v)
      lt + (eq + 1) / 2.0
    }
    val ra = xsA.map(avgRank).sum
    val u = ra - na.toDouble * (na + 1) / 2.0
    val mu = na.toDouble * nb / 2.0
    val n = na + nb
    val ties = all.groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * t * t - t }).sum
    val v = (na.toDouble * nb / 12.0) *
      ((n + 1).toDouble - ties.toDouble / (n.toDouble * (n - 1)))
    val row = graft.operators.EventOps.mannWhitney(spark, Sf).collect().head
    assert(row.getLong(0) == na && row.getLong(1) == nb)
    assert(math.abs(row.getDouble(2) - u) < 1e-3, s"U ${row.getDouble(2)} vs $u")
    assert(math.abs(row.getDouble(3) - mu) < 1e-6, "mu")
    if (v > 0)
      assert(math.abs(row.getDouble(4) - (u - mu) / math.sqrt(v)) < 1e-3, "z")
    // U + U' = n_a * n_b: recompute U' from the B side
    val ub = daily.filterNot(_._1).map(t => avgRank(t._2)).sum -
      nb.toDouble * (nb + 1) / 2.0
    assert(math.abs(u + ub - na.toDouble * nb) < 1e-6, "U + U' identity")
  }

  test("entropy rate reconciles with the transition matrix and is bounded by the marginal") {
    val cells = graft.operators.EventOps.transitions(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nn = cells.map(_._3).sum.toDouble
    val rowTot = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colTot = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val hc = cells.map { case (f, _, c) =>
      math.rint(c / nn * lg2(rowTot(f).toDouble / c) * 1e6) / 1e6
    }.sum
    val hm = colTot.values.map { c =>
      math.rint(c / nn * lg2(nn / c) * 1e6) / 1e6
    }.sum
    val row = graft.operators.EventOps.entropyRate(spark, Sf).collect().head
    assert(row.getLong(0) == nn.toLong, "n_transitions")
    assert(row.getLong(1) == rowTot.size.toLong, "n_states")
    assert(math.abs(row.getDouble(2) - hm) < 1e-3, s"h_marginal vs $hm")
    assert(math.abs(row.getDouble(3) - hc) < 1e-3, s"h_conditional vs $hc")
    assert(row.getDouble(3) <= row.getDouble(2) + 1e-9,
      "conditioning never increases entropy")
    assert(row.getDouble(4) >= -1e-9 && row.getDouble(4) <= 1.0,
      "predictability in [0,1]")
  }

  test("IPW ATE matches brute-force stratum propensity weighting and ESS bounds") {
    val users = Lake.events(spark, Sf)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
      .groupBy(_._1).map { case (_, es) =>
        val d0 = es.map(_._2).minBy(_.toEpochDay)
        (es.exists(e => e._2 == d0 && e._3 == "error"),
          es.count(e => e._2.isAfter(d0) && e._3 == "purchase").toLong,
          es.length.toLong / 20L)
      }.toSeq
    val strata = users.groupBy(_._3).values.toSeq
      .map { us =>
        (us.count(_._1).toLong, us.count(!_._1).toLong,
          us.filter(_._1).map(_._2).sum, us.filterNot(_._1).map(_._2).sum)
      }
    val used = strata.filter(s => s._1 > 0 && s._2 > 0)
    val nSup = used.map(s => s._1 + s._2).sum
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val wt = used.map { case (nt, nc, yt, _) => r6(yt.toDouble * (nt + nc) / nt) }.sum
    val wc = used.map { case (nt, nc, _, yc) => r6(yc.toDouble * (nt + nc) / nc) }.sum
    val w2t = used.map { case (nt, nc, _, _) =>
      r6((nt + nc).toDouble * (nt + nc) / nt) }.sum
    val w2c = used.map { case (nt, nc, _, _) =>
      r6((nt + nc).toDouble * (nt + nc) / nc) }.sum
    val row = graft.operators.EventOps.ipwAte(spark, Sf).collect().head
    assert(row.getLong(0) == users.size.toLong, "n_users")
    assert(row.getLong(1) == strata.size.toLong, "n_strata")
    assert(row.getLong(2) == nSup, "n_on_support")
    assert(row.getLong(3) == used.size.toLong, "n_strata_used")
    assert(math.abs(row.getDouble(4) - (wt - wc) / nSup) < 1e-3, "ate_ipw")
    val (essT, essC) = (nSup.toDouble * nSup / w2t, nSup.toDouble * nSup / w2c)
    assert(math.abs(row.getDouble(5) - essT) < 1e-1, "ess_treated")
    assert(math.abs(row.getDouble(6) - essC) < 1e-1, "ess_control")
    // ESS never exceeds the arm's actual size (Cauchy-Schwarz)
    assert(row.getDouble(5) <= used.map(_._1).sum + 1e-6, "ESS_t bound")
    assert(row.getDouble(6) <= used.map(_._2).sum + 1e-6, "ESS_c bound")
  }

  test("inter-arrival spectrum: bit-length buckets match brute force, shares telescope") {
    val gaps = Lake.events(spark, Sf)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.sortBy(e => (e._2, e._3)).map(_._2)
        sorted.zip(sorted.tail).map { case (a, b) => b - a }
      }.toSeq
    val expected = gaps.map(g =>
        if (g == 0L) 0 else java.lang.Long.toBinaryString(g).length)
      .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    val rows = graft.operators.EventOps.interarrival(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).toSet == expected.keySet, "bucket set")
    val total = gaps.size.toDouble
    var cum = 0.0
    for (r <- rows) {
      assert(r.getLong(1) == expected(r.getInt(0)), s"count at ${r.getInt(0)}")
      assert(math.abs(r.getDouble(2) - r.getLong(1) / total) < 1e-5, "share")
      cum = r.getDouble(3)
    }
    assert(math.abs(cum - 1.0) < 1e-5, "cumulative share ends at 1")
    assert(rows.map(_.getDouble(3)).toSeq == rows.map(_.getDouble(3)).toSeq.sorted,
      "cum_share monotone")
  }

  test("keyness matches the brute-force Dunning G2 and picks the right side") {
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0) == "en", r.getString(1)))
    val counts = collection.mutable.Map[String, (Long, Long)]()
    for ((focus, text) <- docs; tok <- text.split(" ", -1) if tok.nonEmpty) {
      val (a, b) = counts.getOrElse(tok, (0L, 0L))
      counts(tok) = if (focus) (a + 1, b) else (a, b + 1)
    }
    val na = counts.values.map(_._1).sum.toDouble
    val nb = counts.values.map(_._2).sum.toDouble
    val got = TextOps.keyness(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .toMap
    val expectedKeys =
      counts.filter { case (_, (a, b)) => a + b >= 20 }.keySet
    assert(got.keySet == expectedKeys, "support-thresholded vocabulary")
    for ((tok, (a, b, g2, side)) <- got) {
      val ea = na * (a + b) / (na + nb)
      val eb = nb * (a + b) / (na + nb)
      val eg2 = 2.0 * ((if (a > 0) a * math.log(a / ea) else 0.0) +
        (if (b > 0) b * math.log(b / eb) else 0.0))
      assert((a, b) == counts(tok), s"counts for $tok")
      assert(math.abs(g2 - eg2) < 1e-3, s"g2 for $tok: $g2 vs $eg2")
      assert(side == (if (a * nb > b * na) "focus" else "rest"),
        s"side for $tok")
      assert(eg2 >= -1e-9, "G2 is non-negative")
    }
  }

  test("rater agreement: kappa and McNemar match the brute-force 2x2 table") {
    val flags = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0) >= 400L, r.getString(1).split(" ", -1).length >= 80))
    val n11 = flags.count(f => f._1 && f._2).toLong
    val n10 = flags.count(f => f._1 && !f._2).toLong
    val n01 = flags.count(f => !f._1 && f._2).toLong
    val n00 = flags.count(f => !f._1 && !f._2).toLong
    val n = flags.length.toDouble
    val (po, pa, pb) = ((n11 + n00) / n, (n11 + n10) / n, (n11 + n01) / n)
    val pe = pa * pb + (1 - pa) * (1 - pb)
    val r = TextOps.raterAgreement(spark, Sf).collect().head
    assert(r.getLong(0) == flags.length)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((n11, n10, n01, n00)), "2x2 cells")
    assert(math.abs(r.getDouble(5) - po) < 1e-6, "p_observed")
    assert(math.abs(r.getDouble(6) - pe) < 1e-6, "p_expected")
    assert(math.abs(r.getDouble(7) - (po - pe) / (1 - pe)) < 1e-4, "kappa")
    val d = n10 - n01
    val m = n10 + n01
    assert(m > 0, "the two raters disagree somewhere on this corpus")
    assert(math.abs(r.getDouble(8) - d.toDouble * d / m) < 1e-4, "mcnemar")
    val cc = math.max(math.abs(d) - 1L, 0L).toDouble
    assert(math.abs(r.getDouble(9) - cc * cc / m) < 1e-4, "mcnemar cc")
  }

  test("cramers V matches the brute-force chi2 normalization and sits in [0,1]") {
    val rows = Lake.orders(spark, Sf)
      .select(col("o_orderpriority"), col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val obs = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowT = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val colT = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val chi2 = obs.map { case ((a, b), o) =>
      val e = rowT(a) * colT(b) / n
      (o - e) * (o - e) / e
    }.sum
    val v = math.sqrt(chi2 / (n * (math.min(rowT.size, colT.size) - 1)))
    val r = CatalogOps.cramersVQuery(spark, Sf).collect().head
    assert(r.getLong(0) == rows.length)
    assert(r.getLong(1) == rowT.size && r.getLong(2) == colT.size)
    assert(math.abs(r.getDouble(3) - chi2) < 1e-2, s"chi2 ${r.getDouble(3)} vs $chi2")
    assert(math.abs(r.getDouble(4) - v) < 1e-4, s"V ${r.getDouble(4)} vs $v")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  test("mutual information matches brute-force joint/marginal entropies") {
    val rows = Lake.documents(spark, Sf)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val joint = rows.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val mA = rows.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val mB = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val mi = joint.map { case ((a, b), c) =>
      c / n * math.log(n * c / (mA(a) * mB(b)))
    }.sum
    def h(m: Map[String, Double]) =
      -m.values.map(c => c / n * math.log(c / n)).sum
    val (ha, hb) = (h(mA), h(mB))
    val got = CatalogOps.mutualInfoQuery(spark, Sf).collect()
    assert(got.length == joint.size, "one row per occupied cell")
    val r = got.head
    assert(math.abs(r.getDouble(4) - ha) < 1e-4, s"H_a ${r.getDouble(4)} vs $ha")
    assert(math.abs(r.getDouble(5) - hb) < 1e-4, s"H_b ${r.getDouble(5)} vs $hb")
    assert(math.abs(r.getDouble(6) - mi) < 1e-3, s"MI ${r.getDouble(6)} vs $mi")
    assert(math.abs(r.getDouble(7) - mi / math.sqrt(ha * hb)) < 1e-3, "NMI")
    for (row <- got) {
      val cell = (row.getString(0), row.getString(1))
      assert(row.getLong(2) == joint(cell).toLong, s"joint count $cell")
    }
    assert(mi >= -1e-9, "MI non-negative")
  }

  test("theil index matches brute-force within/between decomposition") {
    val perCust = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getDecimal(2).doubleValue()))
    val n = perCust.length.toDouble
    val mu = perCust.map(_._2).sum / n
    val bySeg = perCust.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rTotal = perCust.map(_._2).sum
    var tw = 0.0
    var tb = 0.0
    val rows = Relational.theilIndex(spark, Sf).collect()
    for (r <- rows) {
      val seg = r.getString(0)
      val xs = bySeg(seg)
      val muG = xs.sum / xs.length
      val tG = xs.map(x => x / muG * math.log(x / muG)).sum / xs.length
      val share = xs.sum / rTotal
      assert(r.getLong(1) == xs.length, s"n_customers $seg")
      assert(math.abs(r.getDouble(2) - share) < 1e-6, s"share $seg")
      assert(math.abs(r.getDouble(3) - tG) < 1e-4, s"T_g $seg")
      assert(math.abs(r.getDouble(4) - share * math.log(muG / mu)) < 1e-5,
        s"between $seg")
      assert(r.getDouble(3) >= -1e-9, s"within Theil non-negative $seg")
      tw += share * tG
      tb += share * math.log(muG / mu)
    }
    val any = rows.head
    assert(math.abs(any.getDouble(5) - tw) < 1e-3, "t_within")
    assert(math.abs(any.getDouble(6) - tb) < 1e-3, "t_between")
    assert(math.abs(any.getDouble(7) - (tw + tb)) < 1e-3, "t_total")
    // the full-population Theil equals the decomposition's total
    val tAll = perCust.map(x => x._2 / mu * math.log(x._2 / mu)).sum / n
    assert(math.abs(tAll - (tw + tb)) < 1e-6, "decomposition is exact")
  }

  test("audience overlap matches brute-force distinct-set Jaccard per type pair") {
    val pairs = Lake.events(spark, Sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val sets = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = sets.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
    } yield {
      val (sa, sb) = (sets(a), sets(b))
      val common = (sa & sb).size.toLong
      ((a, b), (sa.size.toLong, sb.size.toLong, common))
    }).toMap
    val got = graft.operators.EventOps.audienceOverlap(spark, Sf).collect()
    assert(got.length == expected.size, "every type pair appears")
    for (r <- got) {
      val key = (r.getString(0), r.getString(1))
      val (na, nb, common) = expected(key)
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((na, nb, common)),
        s"sizes for $key")
      assert(r.getLong(5) == na + nb - common, s"union for $key")
      val u = (na + nb - common).toDouble
      assert(math.abs(r.getDouble(6) - common / u) < 1e-6, s"jaccard $key")
      assert(math.abs(r.getDouble(7) - common.toDouble / math.min(na, nb))
        < 1e-6, s"overlap coef $key")
    }
  }

  test("gumbel fit matches brute-force block-maxima moments and return levels order") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val gamma = 0.5772156649015329
    val got = graft.operators.EventOps.gumbelExtremes(spark, Sf).collect()
    for (r <- got) {
      val et = r.getString(0)
      val weeks = daily.filter(_._1 == et)
        .groupBy(d => d._2.`with`(java.time.DayOfWeek.MONDAY))
        .map(_._2.map(_._3).max).toSeq
      val n = weeks.length
      assert(r.getLong(1) == n, s"n_weeks $et")
      val m = weeks.sum.toDouble / n
      val v = weeks.map(x => (x - m) * (x - m)).sum / (n - 1)
      val beta = math.sqrt(v) * math.sqrt(6.0) / math.Pi
      val mu = m - gamma * beta
      assert(math.abs(r.getDouble(2) - m) < 1e-3, s"mean $et")
      assert(math.abs(r.getDouble(4) - beta) < 1e-3, s"beta $et")
      assert(math.abs(r.getDouble(5) - mu) < 1e-3, s"mu $et")
      val rl26 = mu - beta * math.log(-math.log(1.0 - 1.0 / 26.0))
      val rl52 = mu - beta * math.log(-math.log(1.0 - 1.0 / 52.0))
      assert(math.abs(r.getDouble(6) - rl26) < 1e-3, s"rl26 $et")
      assert(math.abs(r.getDouble(7) - rl52) < 1e-3, s"rl52 $et")
      assert(rl52 > rl26, "longer horizon -> higher return level")
      assert(rl26 > m, "return level beyond the mean block maximum")
    }
  }

  test("variance ratio matches brute-force lagged differences") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
    }
    val got = graft.operators.EventOps.varianceRatio(spark, Sf).collect()
    for (r <- got) {
      val et = r.getString(0)
      val series = daily.filter(_._1 == et).sortBy(_._2.toEpochDay).map(_._3)
      def diffs(q: Int) =
        series.drop(q).zip(series.dropRight(q)).map(p => (p._1 - p._2).toDouble)
      assert(r.getLong(1) == series.length - 1, s"n_diffs $et")
      val v1 = variance(diffs(1).toSeq)
      assert(math.abs(r.getDouble(2) - v1) < 1e-2, s"var_1 $et")
      for ((q, idx) <- Seq((2, 3), (5, 5), (7, 7))) {
        val vr = variance(diffs(q).toSeq) / (q * v1)
        assert(math.abs(r.getDouble(idx) - vr) < 1e-3, s"vr_$q $et")
      }
    }
  }

  test("rbo depth profile matches brute-force top-50 rankings") {
    val rev = Lake.lineitem(spark, Sf)
      .select(year(col("l_shipdate")).as("yr"), col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("t"))
      .filter(col("yr").isin(1996, 1997))
      .groupBy(col("yr"), col("l_partkey")).agg(sum(col("t")).as("rev"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDecimal(2)))
    def topList(yr: Int): Seq[Long] = rev.filter(_._1 == yr)
      .sortBy(x => (scala.math.BigDecimal(x._3.negate), x._2))
      .take(50).map(_._2)
    val (la, lb) = (topList(1996), topList(1997))
    val rankA = la.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
    val rankB = lb.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
    val got = Relational.rboParts(spark, Sf).collect()
    assert(got.length == 50)
    var cum = 0.0
    for (r <- got.sortBy(_.getLong(0))) {
      val k = r.getLong(0).toInt
      val xk = la.take(k).toSet.intersect(lb.take(k).toSet).size
      assert(r.getLong(1) == xk, s"X_$k")
      assert(math.abs(r.getDouble(2) - xk.toDouble / k) < 1e-6, s"agreement $k")
      cum += math.pow(0.9, k - 1) * xk / k
      assert(math.abs(r.getDouble(3) - 0.1 * cum) < 1e-5, s"rbo_$k")
    }
    // common parts get matched ranks in both lists
    for (p <- la.toSet.intersect(lb.toSet))
      assert(rankA(p) >= 1 && rankB(p) >= 1)
  }

  test("partial correlation matches brute-force moments and the recursion formula") {
    val byDay = Lake.events(spark, Sf)
      .select(to_date(col("ts")).as("day"), col("event_type")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val days = byDay.keys.toSeq.sorted(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val x = days.map(d => byDay(d).count(_ == "view").toDouble)
    val y = days.map(d => byDay(d).count(_ == "purchase").toDouble)
    val z = days.map(d => byDay(d).count(_ == "error").toDouble)
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map(p => (p._1 - ma) * (p._2 - mb)).sum
      cov / math.sqrt(a.map(v => (v - ma) * (v - ma)).sum *
        b.map(v => (v - mb) * (v - mb)).sum)
    }
    val (rxy, rxz, ryz) = (pearson(x, y), pearson(x, z), pearson(y, z))
    val expected = (rxy - rxz * ryz) /
      math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    val r = graft.operators.EventOps.partialCorr(spark, Sf).collect().head
    assert(r.getLong(0) == days.length)
    assert(math.abs(r.getDouble(1) - rxy) < 1e-5, "r_xy")
    assert(math.abs(r.getDouble(2) - rxz) < 1e-5, "r_xz")
    assert(math.abs(r.getDouble(3) - ryz) < 1e-5, "r_yz")
    assert(math.abs(r.getDouble(4) - expected) < 1e-5, "partial")
  }

  test("cronbach alpha matches brute-force item/total population variances") {
    val rows = Lake.events(spark, Sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = rows.map(_._1).distinct
    val types = rows.map(_._2).distinct.sorted
    val byUser = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def popVar(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(v => (v - m) * (v - m)).sum / xs.length
    }
    val itemVars = types.map(t =>
      popVar(users.map(u => byUser(u).count(_ == t).toDouble).toSeq))
    val totVar = popVar(users.map(u => byUser(u).size.toDouble).toSeq)
    val k = types.size
    val alpha = k.toDouble / (k - 1) * (1 - itemVars.sum / totVar)
    val r = graft.operators.EventOps.cronbachAlpha(spark, Sf).collect().head
    assert(r.getLong(0) == users.length && r.getLong(1) == k)
    assert(math.abs(r.getDouble(2) - itemVars.sum) < 1e-2, "sum item var")
    assert(math.abs(r.getDouble(3) - totVar) < 1e-2, "total var")
    assert(math.abs(r.getDouble(4) - alpha) < 1e-4, s"alpha ${r.getDouble(4)} vs $alpha")
  }

  test("durbin-watson matches brute-force OLS residual autocorrelation form") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val got = graft.operators.EventOps.durbinWatson(spark, Sf).collect()
    for (r <- got) {
      val et = r.getString(0)
      val xs = daily.filter(_._1 == et).sortBy(_._2.toEpochDay)
        .map(_._3.toDouble)
      val n = xs.length
      val ts = (1 to n).map(_.toDouble)
      val (st, sx) = (ts.sum, xs.sum)
      val stx = ts.zip(xs).map(p => p._1 * p._2).sum
      val stt = ts.map(t => t * t).sum
      val b = (n * stx - st * sx) / (n * stt - st * st)
      val a = sx / n - b * (st / n)
      val e = ts.zip(xs).map { case (t, x) => x - (a + b * t) }
      val dw = e.sliding(2).map(p => (p(1) - p(0)) * (p(1) - p(0))).sum /
        e.map(v => v * v).sum
      assert(r.getLong(1) == n, s"n_days $et")
      assert(math.abs(r.getDouble(2) - dw) < 1e-3, s"dw $et: ${r.getDouble(2)} vs $dw")
      assert(r.getDouble(2) > 0 && r.getDouble(2) < 4, "DW in (0,4)")
    }
  }

  test("script mix matches brute-force character-class counts and shares sum to 1") {
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = TextOps.scriptMix(spark, Sf).collect()
    val bySource = docs.groupBy(_._1)
    assert(got.map(_.getString(0)).toSet == bySource.keySet)
    for (r <- got) {
      val texts = bySource(r.getString(0)).map(_._2)
      val tot = texts.map(t => t.codePointCount(0, t.length)).sum.toLong
      def cnt(pred: Char => Boolean) =
        texts.map(_.count(pred)).sum.toLong
      val lo = cnt(c => c >= 'a' && c <= 'z')
      val up = cnt(c => c >= 'A' && c <= 'Z')
      val dg = cnt(c => c >= '0' && c <= '9')
      val sp = cnt(_ == ' ')
      assert(r.getLong(1) == tot, s"total ${r.getString(0)}")
      assert(math.abs(r.getDouble(2) - lo.toDouble / tot) < 1e-6, "lower")
      assert(math.abs(r.getDouble(3) - up.toDouble / tot) < 1e-6, "upper")
      assert(math.abs(r.getDouble(4) - dg.toDouble / tot) < 1e-6, "digit")
      assert(math.abs(r.getDouble(5) - sp.toDouble / tot) < 1e-6, "space")
      val sum = (2 to 6).map(r.getDouble).sum
      assert(math.abs(sum - 1.0) < 1e-5, s"shares sum to 1, got $sum")
    }
  }

  test("circadian stats match brute-force resultant vector per event type") {
    val evs = Lake.events(spark, Sf)
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = graft.operators.EventOps.circadian(spark, Sf).collect()
    for (r <- got) {
      val et = r.getString(0)
      val thetas = evs.filter(_._1 == et)
        .map(e => 2 * math.Pi * (e._2 % 86400000000L).toDouble / 86400000000.0)
      val n = thetas.length
      val (c, s) = (thetas.map(math.cos).sum, thetas.map(math.sin).sum)
      val rBar = math.sqrt(c * c + s * s) / n
      assert(r.getLong(1) == n, s"n $et")
      assert(math.abs(r.getDouble(2) - rBar) < 1e-5, s"r_bar $et")
      assert(math.abs(r.getDouble(3) - (1 - rBar)) < 1e-5, s"circ_var $et")
      val v = math.atan2(s, c) / (2 * math.Pi) * 24.0
      val hour = v - math.floor(v / 24) * 24
      assert(math.abs(r.getDouble(4) - hour) < 1e-3, s"mean_hour $et")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) < 24, "hour in [0,24)")
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1, "resultant in [0,1]")
    }
  }

  test("runs test matches brute-force run counting against the exact mean side") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val got = graft.operators.EventOps.runsTest(spark, Sf).collect()
    for (r <- got) {
      val et = r.getString(0)
      val xs = daily.filter(_._1 == et).sortBy(_._2.toEpochDay).map(_._3)
      val n = xs.length
      val sx = xs.sum
      val above = xs.map(x => x * n > sx)
      val runs = 1 + above.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      val n1 = above.count(identity)
      val n2 = n - n1
      assert(r.getLong(1) == n && r.getLong(2) == n1 && r.getLong(3) == n2)
      assert(r.getLong(4) == runs, s"runs $et")
      val mu = 1.0 + 2.0 * n1 * n2 / n
      val s2 = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n.toDouble * n * (n - 1))
      assert(math.abs(r.getDouble(5) - mu) < 1e-3, s"mu $et")
      assert(math.abs(r.getDouble(6) - (runs - mu) / math.sqrt(s2)) < 1e-3,
        s"z $et")
    }
  }

  test("term burstiness matches brute-force df/tf and the Poisson baseline") {
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nDocs = docs.length
    val perTok = collection.mutable.Map[String, (Set[Long], Long)]()
    for ((id, text) <- docs; tok <- text.split(" ", -1) if tok.nonEmpty) {
      val (ds, tf) = perTok.getOrElse(tok, (Set.empty[Long], 0L))
      perTok(tok) = (ds + id, tf + 1)
    }
    val expected = perTok.collect {
      case (tok, (ds, tf)) if ds.size >= 20 => tok -> (ds.size.toLong, tf)
    }.toMap
    val got = TextOps.termBurstiness(spark, Sf).collect()
    assert(got.map(_.getString(0)).toSet == expected.keySet)
    for (r <- got) {
      val (df, tf) = expected(r.getString(0))
      assert((r.getLong(1), r.getLong(2)) == ((df, tf)), s"df/tf ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - tf.toDouble / df) < 1e-6, "tf_per_doc")
      val dfP = nDocs * (1.0 - math.exp(-tf.toDouble / nDocs))
      assert(math.abs(r.getDouble(4) - dfP) < 1e-2, "df_poisson")
      assert(math.abs(r.getDouble(5) - df / dfP) < 1e-3, "clumpiness")
      assert(r.getLong(1) <= r.getLong(2), "df <= tf")
    }
  }

  test("clustering coefficient matches brute-force triangle/wedge counting") {
    val edges = graft.operators.AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val undSet = und.toSet
    val tris = und.flatMap { case (a, b) =>
      (adj(a) intersect adj(b)).filter(c => c > b).map(c => (a, b, c))
    }.filter { case (a, _, c) => undSet.contains((a, c)) }
    // triangle census independent of join order: count each a<b<c once
    val triCount = und.flatMap { case (a, b) =>
      adj(b).filter(c => c > b && undSet.contains((a, c)) && a < b).map(c => (a, b, c))
    }.distinct.length
    val degs = adj.view.mapValues(_.size).toMap
    val wedges = degs.values.map(d => d.toLong * (d - 1) / 2).sum
    val triPerNode = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b, c) <- tris; n <- Seq(a, b, c)) triPerNode(n) += 1
    val locals = degs.collect { case (n, d) if d >= 2 =>
      2.0 * triPerNode(n) / (d.toLong * (d - 1)) }
    val r = graft.operators.GraphOps.clusteringCoefQuery(spark, Sf)
      .collect().head
    assert(r.getLong(0) == degs.size, "n_nodes")
    assert(r.getLong(1) == und.length, "n_edges")
    assert(r.getLong(2) == wedges, "n_wedges")
    assert(r.getLong(3) == tris.length, s"n_triangles ${r.getLong(3)} vs ${tris.length} (census $triCount)")
    assert(math.abs(r.getDouble(4) - 3.0 * tris.length / wedges) < 1e-5,
      "transitivity")
    assert(math.abs(r.getDouble(5) - locals.sum / locals.size) < 1e-4,
      "avg local cc")
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
  }

  test("price index matches brute-force Laspeyres/Paasche/Fisher") {
    val rows = Lake.lineitem(spark, Sf)
      .select(year(col("l_shipdate")).as("yr"), col("l_partkey"),
        col("l_extendedprice").cast("decimal(18,2)"),
        col("l_quantity").cast("decimal(18,2)"))
      .filter(col("yr").isin(1996, 1997)).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getDecimal(2).doubleValue(), r.getDecimal(3).doubleValue()))
    def sums(yr: Int) = rows.filter(_._1 == yr).groupBy(_._2)
      .view.mapValues(xs => (xs.map(_._3).sum, xs.map(_._4).sum)).toMap
    val (b, c) = (sums(1996), sums(1997))
    val common = b.keySet intersect c.keySet
    var (lnum, lden, pnum, pden) = (0.0, 0.0, 0.0, 0.0)
    for (pk <- common) {
      val p0 = b(pk)._1 / b(pk)._2
      val p1 = c(pk)._1 / c(pk)._2
      lnum += p1 * b(pk)._2; lden += p0 * b(pk)._2
      pnum += p1 * c(pk)._2; pden += p0 * c(pk)._2
    }
    val (l, p) = (lnum / lden, pnum / pden)
    val r = Relational.priceIndex(spark, Sf).collect().head
    assert(r.getLong(0) == common.size, "n_parts")
    assert(math.abs(r.getDouble(1) - l) < 1e-4, s"laspeyres ${r.getDouble(1)} vs $l")
    assert(math.abs(r.getDouble(2) - p) < 1e-4, s"paasche ${r.getDouble(2)} vs $p")
    assert(math.abs(r.getDouble(3) - math.sqrt(l * p)) < 1e-4, "fisher")
    assert(r.getDouble(1) > 0 && r.getDouble(2) > 0, "indices positive")
  }

  test("cohens d matches brute-force pooled-SD effect size with Hedges correction") {
    val vals = Lake.orders(spark, Sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val cut = java.time.LocalDate.parse("1997-01-01")
    val a = vals.filter(_._1.isBefore(cut)).map(_._2)
    val b = vals.filter(v => !v._1.isBefore(cut)).map(_._2)
    def mv(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val ((ma, va), (mb, vb)) = (mv(a), mv(b))
    val n = a.length + b.length
    val sPool = math.sqrt(((a.length - 1) * va + (b.length - 1) * vb) / (n - 2))
    val d = (mb - ma) / sPool
    val g = d * (1.0 - 3.0 / (4.0 * n - 9))
    val se = math.sqrt(n.toDouble / (a.length.toLong * b.length) +
      d * d / (2.0 * n))
    val r = CatalogOps.cohensDQuery(spark, Sf).collect().head
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    assert(math.abs(r.getDouble(2) - ma) < 0.01 && math.abs(r.getDouble(3) - mb) < 0.01)
    assert(math.abs(r.getDouble(4) - sPool) < 0.01, "pooled sd")
    assert(math.abs(r.getDouble(5) - d) < 1e-4, s"d ${r.getDouble(5)} vs $d")
    assert(math.abs(r.getDouble(6) - g) < 1e-4, "hedges g")
    assert(math.abs(r.getDouble(7) - (d - 1.96 * se)) < 1e-4, "ci lo")
    assert(math.abs(r.getDouble(8) - (d + 1.96 * se)) < 1e-4, "ci hi")
    assert(math.abs(r.getDouble(6)) <= math.abs(r.getDouble(5)),
      "Hedges correction shrinks toward zero")
  }

  test("hill tail index matches the brute-force top-k order-statistic form") {
    val revs = Lake.orders(spark, Sf)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .collect()
      .map(r => (r.getLong(0), scala.math.BigDecimal(r.getDecimal(1))))
    val top = revs.sortBy(x => (-x._2, x._1)).take(101)
    val xRef = top.map(_._2).min
    val survivors = top.filter(_._2 > xRef)
    val s = survivors.map(x => math.log((x._2 / xRef).toDouble)).sum
    val alpha = survivors.length / s
    val r = Relational.hillTailIndex(spark, Sf).collect().head
    assert(r.getLong(0) == survivors.length, "k_used")
    assert(math.abs(r.getDouble(1) - xRef.toDouble) < 1e-9, "threshold")
    assert(math.abs(r.getDouble(2) - alpha) < 1e-3,
      s"alpha ${r.getDouble(2)} vs $alpha")
    assert(r.getDouble(2) > 0, "alpha positive")
  }

  test("permutation test matches brute-force LCG reassignment replay") {
    val users = Lake.events(spark, Sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("purch"))
      .collect()
      .map(r => (r.getLong(0), if (r.getLong(1) >= 15L) 1L else 0L))
    def diff(mult: Long): Option[Double] = {
      val arms = users.map { case (u, c) => ((u * mult) % 2147483647L % 2, c) }
      val g = arms.groupBy(_._1).view
        .mapValues(xs => (xs.size.toLong, xs.map(_._2).sum)).toMap
      for { (n0, c0) <- g.get(0L); (n1, c1) <- g.get(1L) }
        yield c1.toDouble / n1 - c0.toDouble / n0
    }
    val dObs = diff(16807L).get
    val dPerms = (1 to 64).flatMap(p => diff(16807L + 1000L * p))
    val nExtreme = dPerms.count(d => math.abs(d) >= math.abs(dObs))
    val r = graft.operators.EventOps.permutationTest(spark, Sf)
      .collect().head
    assert(r.getLong(0) == 64, "n_perms")
    assert(math.abs(r.getDouble(1) - dObs) < 1e-6, "observed diff")
    assert(r.getLong(2) == nExtreme, s"n_extreme ${r.getLong(2)} vs $nExtreme")
    val p = (1.0 + nExtreme) / 65.0
    assert(math.abs(r.getDouble(3) - p) < 1e-6, s"p ${r.getDouble(3)} vs $p")
    assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1, "p in (0,1]")
  }

  test("robust moments match brute-force interpolated octiles per segment") {
    val rows = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def octile(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val idx = p * (s.length - 1)
      val lo = idx.toInt
      if (lo == s.length - 1) s(lo)
      else s(lo) + (idx - lo) * (s(lo + 1) - s(lo))
    }
    val got = Relational.robustMoments(spark, Sf).collect()
    for (r <- got) {
      val xs = rows.filter(_._1 == r.getString(0)).map(_._2)
      val e = (1 to 7).map(i => octile(xs, i / 8.0))
      assert(r.getLong(1) == xs.length, "n")
      assert(math.abs(r.getDouble(2) - e(1)) < 0.01, "q1")
      assert(math.abs(r.getDouble(3) - e(3)) < 0.01, "median")
      assert(math.abs(r.getDouble(4) - e(5)) < 0.01, "q3")
      val bowley = (e(5) - 2 * e(3) + e(1)) / (e(5) - e(1))
      val moors = ((e(6) - e(4)) + (e(2) - e(0))) / (e(5) - e(1))
      assert(math.abs(r.getDouble(5) - bowley) < 1e-4, "bowley")
      assert(math.abs(r.getDouble(6) - moors) < 1e-4, "moors")
      assert(math.abs(r.getDouble(5)) <= 1.0 + 1e-9, "bowley in [-1,1]")
      assert(r.getDouble(6) > 0, "moors positive")
    }
  }

  test("friedman matches brute-force zero-filled tie-broken rank replay") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val types = daily.map(_._1).distinct.sorted
    val days = daily.map(_._2).distinct
    val cell = daily.map(d => (d._1, d._2) -> d._3).toMap
    val rankSums = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for (d <- days) {
      val ranked = types.map(t => (cell.getOrElse((t, d), 0L), t))
        .sortBy(identity).zipWithIndex
      for (((_, t), i) <- ranked) rankSums(t) += i + 1
    }
    val k = types.size
    val n = days.size
    val sq = types.map(t => rankSums(t) * rankSums(t)).sum
    val chi2 = (12.0 * sq - 3.0 * n.toLong * n * k * (k + 1) * (k + 1)) /
      (n.toLong * k * (k + 1))
    val got = graft.operators.EventOps.friedman(spark, Sf).collect()
    assert(got.length == k)
    for (r <- got) {
      val t = r.getString(0)
      assert(r.getLong(1) == n, "n_days")
      assert(r.getLong(2) == rankSums(t), s"rank_sum $t")
      assert(math.abs(r.getDouble(3) - rankSums(t).toDouble / n) < 1e-4)
      assert(r.getLong(4) == k - 1, "df")
      assert(math.abs(r.getDouble(5) - chi2) < 1e-3,
        s"chi2 ${r.getDouble(5)} vs $chi2")
    }
    assert(got.head.getDouble(5) >= 0, "chi2 non-negative")
  }

  test("negative binomial moment fit matches brute-force daily moments") {
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val got = graft.operators.EventOps.negBinFit(spark, Sf).collect()
    for (r <- got) {
      val xs = daily.filter(_._1 == r.getString(0)).map(_._2.toDouble)
      val n = xs.length
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      assert(r.getLong(1) == n, "n_days")
      assert(math.abs(r.getDouble(2) - m) < 1e-2, "mean")
      assert(math.abs(r.getDouble(3) - v) < 1e-1, "var")
      assert(r.getBoolean(4) == (v > m), "overdispersion flag")
      if (r.getBoolean(4)) {
        assert(math.abs(r.getDouble(5) - m * m / (v - m)) < 1e-2, "r_hat")
        assert(math.abs(r.getDouble(6) - m / v) < 1e-4, "p_hat")
        assert(r.getDouble(5) > 0 && r.getDouble(6) > 0 && r.getDouble(6) < 1)
      } else assert(r.isNullAt(5) && r.isNullAt(6), "null fit at boundary")
    }
  }

  test("emd drift matches the brute-force CDF-gap integral on the KS bins") {
    val rows = Lake.orders(spark, Sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val cut = java.time.LocalDate.parse("1997-01-01")
    def hist(sel: ((java.time.LocalDate, Double)) => Boolean) =
      rows.filter(sel).groupBy(x => math.floor(x._2 / 50000.0).toLong)
        .view.mapValues(_.size.toLong).toMap
    val (ha, hb) = (hist(_._1.isBefore(cut)), hist(x => !x._1.isBefore(cut)))
    val bins = (ha.keySet ++ hb.keySet).toSeq.sorted
    val (na, nb) = (ha.values.sum.toDouble, hb.values.sum.toDouble)
    var (ca, cb, emd) = (0.0, 0.0, 0.0)
    for (b <- bins) {
      ca += ha.getOrElse(b, 0L) / na
      cb += hb.getOrElse(b, 0L) / nb
      emd += math.abs(ca - cb)
    }
    val r = CatalogOps.emdDriftQuery(spark, Sf).collect().head
    assert(r.getLong(0) == bins.length, "n_bins")
    assert(r.getLong(1) == na.toLong && r.getLong(2) == nb.toLong)
    assert(math.abs(r.getDouble(3) - emd) < 1e-5, s"emd ${r.getDouble(3)} vs $emd")
    assert(math.abs(r.getDouble(4) - emd * 50000.0) < 1.0, "value-scaled emd")
    assert(r.getDouble(3) >= 0, "emd non-negative")
  }

  test("anova F matches brute-force between/within sums of squares") {
    val rows = Lake.orders(spark, Sf)
      .join(Lake.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = rows.length
    val k = groups.size
    val grand = rows.map(_._2).sum / n
    val ssb = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.values.map { xs =>
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }.sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val got = CatalogOps.anovaFQuery(spark, Sf).collect()
    assert(got.length == k)
    for (r <- got) {
      val xs = groups(r.getString(0))
      assert(r.getLong(1) == xs.length, "n_g")
      assert(math.abs(r.getDouble(2) - xs.sum / xs.length) < 0.01, "mean_g")
      assert(r.getLong(3) == k - 1 && r.getLong(4) == n - k, "dfs")
      assert(math.abs(r.getDouble(5) - f) < 1e-2, s"F ${r.getDouble(5)} vs $f")
      assert(math.abs(r.getDouble(6) - ssb / (ssb + ssw)) < 1e-5, "eta_sq")
      assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1, "eta_sq in [0,1]")
    }
  }
}
