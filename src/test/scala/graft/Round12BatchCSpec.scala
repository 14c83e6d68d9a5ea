package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, CatalogOps, EventOps, GraphOps, TextOps}

/** Brute-force semantics for the round-12 third breadth batch: HITS,
  * kNN label eval, approximate FDs, Hurst, uplift/Qini, k-center,
  * Kneser–Ney held-out scoring. Every reference here is a driver-side
  * replay over the collected sf0.001 tables — exact integer laws
  * replicated in BigInt, double trees replicated operation-for-
  * operation. */
class Round12BatchCSpec extends SparkSpecBase {

  private def halfUp(num: BigInt, den: BigInt): BigInt =
    if (num < 0) -((2 * (-num) + den) / (2 * den))
    else (2 * num + den) / (2 * den)

  test("hits matches a driver-side exact power iteration") {
    val out = GraphOps.hits(spark, Sf).collect()
    assert(out.length == 20, s"rows ${out.length}")
    // reference: distinct (c, s) pairs, 2 L1-normalized rounds in BigInt
    val pairs = Lake.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Lake.orders(spark, Sf)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("c"),
        concat(lit("s"), col("l_suppkey")).as("s"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nC = pairs.map(_._1).distinct.length
    val seed = BigInt((2L * 1000000000000L + nC) / (2L * nC))
    var h = pairs.map(_._1).distinct.map(_ -> seed).toMap
    var a = Map.empty[String, BigInt]
    def normalize(raw: Map[String, BigInt]): Map[String, BigInt] = {
      val t = raw.values.sum
      raw.map { case (k, v) => k -> halfUp(v * BigInt(1000000000000L), t) }
    }
    for (_ <- 1 to 2) {
      a = normalize(pairs.groupBy(_._2).map { case (s, ps) =>
        s -> ps.map(p => h(p._1)).sum })
      h = normalize(pairs.groupBy(_._1).map { case (c, ps) =>
        c -> ps.map(p => a(p._2)).sum })
    }
    def topOf(m: Map[String, BigInt]) =
      m.toSeq.sortBy { case (n, s) => (-s, n) }.take(10)
    val refAuth = topOf(a)
    val gotAuth = out.filter(_.getString(0) == "authority")
      .map(r => (r.getString(1), r.getDouble(2)))
    assert(gotAuth.map(_._1).toSet == refAuth.map(_._1).toSet,
      s"authority sets differ: ${gotAuth.toSeq} vs $refAuth")
    for ((node, s12) <- refAuth) {
      val want = halfUp(s12, 1000000).toDouble / 1e6
      val got = gotAuth.find(_._1 == node).get._2
      assert(got == want, s"$node score $got vs $want")
    }
    val refHub = topOf(h).map(_._1).toSet
    val gotHub = out.filter(_.getString(0) == "hub").map(_.getString(1))
    assert(gotHub.toSet == refHub)
  }

  test("knnLabelEval agrees with a vote replay over the kNN graph") {
    val out = AnnOps.knnLabelEval(spark, Sf).collect()
    val labels = Lake.embeddings(spark, Sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pred = edges.groupBy(_._1).map { case (src, es) =>
      val byLabel = es.map(e => labels(e._2))
        .groupBy(identity).map { case (l, xs) => (l, xs.length) }
      src -> byLabel.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
    }
    for (r <- out) {
      val lab = r.getInt(0)
      val members = labels.filter(_._2 == lab).keys.toSeq
      val voted = members.filter(pred.contains)
      val correct = voted.count(v => pred(v) == lab)
      assert(r.getLong(1) == members.length, s"label $lab n_vecs")
      assert(r.getLong(2) == voted.length, s"label $lab n_voted")
      assert(r.getLong(3) == correct, s"label $lab n_correct")
      val acc = halfUp(BigInt(10000) * correct,
        BigInt(math.max(voted.length, 1))).toDouble / 1e4
      assert(r.getDouble(4) == acc, s"label $lab acc")
    }
    // every label present exactly once
    assert(out.map(_.getInt(0)).toSeq ==
      labels.values.toSeq.distinct.sorted)
  }

  test("approxFds: g3 replay + range/holds invariants") {
    val out = CatalogOps.approxFds(spark, Sf).collect()
    assert(out.length == CatalogOps.DefaultAfdCandidates.length)
    // driver replay of the documents source->lang branch
    val rows = Lake.documents(spark, Sf)
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val kept = rows.groupBy(_._1).map { case (_, xs) =>
      xs.groupBy(_._2).values.map(_.length).max }.sum
    val r = out.find(r => r.getString(0) == "documents" &&
      r.getString(1) == "source").get
    assert(r.getLong(3) == rows.length)
    assert(r.getLong(5) == rows.length - kept, "violations")
    for (row <- out) {
      val g3 = row.getDouble(6)
      assert(g3 >= 0.0 && g3 < 1.0, s"g3 $g3")
      assert((row.getLong(7) == 1L) == (row.getLong(5) == 0L),
        "holds_exact <-> zero violations")
    }
  }

  test("hurst matches a driver-side aggregated-variance replay") {
    val out = EventOps.hurst(spark, Sf).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
    val daily = Lake.events(spark, Sf)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      .orderBy(col("day")).collect().map(_.getLong(1))
    val pts = Seq(1, 2, 4, 8).map { m =>
      val sums = daily.grouped(m).filter(_.length == m)
        .map(_.sum).toArray
      val b = sums.length.toDouble
      val ss = sums.sum.toDouble
      val sss = sums.map(s => BigInt(s) * s).sum.toDouble
      (m, sums.length, (b * sss - ss * ss) / (b * b * m * m))
    }
    for ((r, (m, b, v)) <- out.zip(pts)) {
      assert(r.getLong(1) == b, s"m=$m n_blocks")
      assert(math.abs(r.getDouble(2) - v) <= 1e-6 * math.max(1.0, v),
        s"m=$m var ${r.getDouble(2)} vs $v")
    }
    val fit = pts.filter(_._3 > 0).map { case (m, _, v) =>
      (math.rint(math.log(m) * 1e9) / 1e9,
        math.rint(math.log(v) * 1e9) / 1e9) }
    val k = fit.length
    val (sx, sy) = (fit.map(_._1).sum, fit.map(_._2).sum)
    val sxx = fit.map(p => p._1 * p._1).sum
    val sxy = fit.map(p => p._1 * p._2).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val hurst = out.head.getDouble(3)
    assert(math.abs(hurst - (1.0 + slope / 2.0)) < 1e-3,
      s"hurst $hurst vs ${1.0 + slope / 2.0}")
    // every row carries the same table-wide H
    assert(out.map(_.getDouble(3)).distinct.length == 1)
  }

  test("uplift matches a driver-side quintile replay") {
    val out = EventOps.upliftQuintiles(spark, Sf).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L))
    val users = Lake.events(spark, Sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("p"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) >= 15, r.getLong(2)))
    val n = users.length
    val byScore = users.groupBy(_._3).toSeq.sortBy(-_._1)
    var cum = 0L
    val qOf = byScore.map { case (s, xs) =>
      cum += xs.length
      s -> math.min(5L, 1L + 5L * (cum - 1) / n)
    }.toMap
    val buckets = users.groupBy(u => qOf(u._3)).toSeq.sortBy(_._1)
    var (ct, cc, nt, nc) = (0L, 0L, 0L, 0L)
    for (((q, xs), r) <- buckets.zip(out)) {
      val treated = xs.filter(u => (u._1 * 16807L) % 2147483647L % 2 == 0)
      val control = xs.filterNot(u =>
        (u._1 * 16807L) % 2147483647L % 2 == 0)
      val (cT, cC) = (treated.count(_._2).toLong, control.count(_._2).toLong)
      assert(r.getLong(0) == q)
      assert(r.getLong(1) == treated.length && r.getLong(3) == control.length)
      assert(r.getLong(2) == cT && r.getLong(4) == cC)
      ct += cT; cc += cC; nt += treated.length; nc += control.length
      val un = (BigInt(cT) * control.length - BigInt(cC) * treated.length) *
        1000000
      val ud = (BigInt(treated.length) * control.length).max(1)
      assert(r.getDouble(5) == halfUp(un, ud).toDouble / 1e6, s"q$q uplift")
      val qn = (BigInt(ct) * nc - BigInt(cc) * nt) * 10000
      assert(r.getDouble(6) == halfUp(qn, BigInt(nc).max(1)).toDouble / 1e4,
        s"q$q qini")
    }
  }

  test("kCenter matches a driver-side greedy farthest-point replay") {
    val out = AnnOps.kCenter(spark, Sf).collect()
    assert(out.length == 4)
    val vecs = Lake.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def d2(a: Array[Float], b: Array[Float]): Double =
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    var centers = Vector(vecs.head)
    for (_ <- 2 to 4) {
      val next = vecs.map { v =>
        (v, centers.map(c => d2(v._2, c._2)).min)
      }.maxBy { case (v, d) => (d, -v._1) }._1
      centers :+= next
    }
    assert(out.map(_.getLong(1)).toSeq == centers.map(_._1),
      s"centers ${out.map(_.getLong(1)).toSeq} vs ${centers.map(_._1)}")
    val assigned = vecs.map { v =>
      centers.zipWithIndex.map { case (c, i) => (d2(v._2, c._2), i) }.min
    }
    for ((r, i) <- out.zipWithIndex) {
      val mine = assigned.filter(_._2 == i)
      assert(r.getLong(2) == mine.length, s"center $i population")
      val radius = math.rint(mine.map(_._1).max * 1e6) / 1e6
      assert(math.abs(r.getDouble(3) - radius) < 1e-9, s"center $i radius")
    }
  }

  test("ljungBox matches a driver-side portmanteau replay") {
    val out = EventOps.ljungBox(spark, Sf).collect()
    assert(out.nonEmpty)
    val daily = Lake.events(spark, Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    for (r <- out) {
      val et = r.getString(0)
      val series = daily.filter(_._1 == et).sortBy(_._2.toEpochDay)
      val n = series.length
      val sx = series.map(_._3).sum
      val sxx = series.map(v => v._3 * v._3).sum
      val m = sx.toDouble / n
      val den = sxx.toDouble - sx.toDouble * sx / n
      val byDay = series.map(v => v._2.toEpochDay -> v._3).toMap
      var s12 = BigInt(0)
      var lags = 0
      for (k <- 1 to 7) {
        val pairs = series.flatMap(v =>
          byDay.get(v._2.toEpochDay + k).map(xb => (v._3, xb)))
        if (pairs.nonEmpty) {
          lags += 1
          val c = pairs.length.toLong
          val (sa, sb) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
          val sab = pairs.map(p => p._1 * p._2).sum
          val r6 = BigDecimal(
            (sab.toDouble - m * sa - m * sb + c * m * m) / den)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          val rr = (r6 * 1000000).toLongExact
          s12 += halfUp(BigInt(rr) * rr, BigInt(c))
        }
      }
      assert(r.getLong(1) == n, s"$et n_days")
      assert(r.getLong(2) == lags, s"$et n_lags")
      val q4 = halfUp(s12 * n * (n + 2) * 10000, BigInt(1000000000000L))
      assert(r.getDouble(3) == q4.toDouble / 1e4, s"$et q_stat")
      assert(r.getLong(4) == (if (q4 > 140670) 1L else 0L), s"$et reject")
    }
  }

  test("keyDiscovery: true keys flagged, non-keys and composites judged") {
    val out = CatalogOps.keyDiscovery(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(out(("orders", "o_orderkey"))._3 == 1L)
    assert(out(("orders", "o_custkey"))._3 == 0L)
    assert(out(("lineitem", "l_orderkey"))._3 == 0L)
    assert(out(("embeddings", "vec_id"))._3 == 1L)
    // the composite's verdict equals ground truth (the synthetic
    // generator does NOT make linenumber per-order unique, so this is
    // a genuine negative here — judged, not assumed)
    val li = Lake.lineitem(spark, Sf)
    val compNdv = li.select(col("l_orderkey"), col("l_linenumber"))
      .distinct().count()
    val comp = out(("lineitem", "l_orderkey,l_linenumber"))
    assert(comp._2 == compNdv)
    assert(comp._3 == (if (compNdv == li.count()) 1L else 0L))
    // one branch's counts against a direct distinct
    val o = Lake.orders(spark, Sf)
    assert(out(("orders", "o_custkey"))._1 == o.count())
    assert(out(("orders", "o_custkey"))._2 ==
      o.select(col("o_custkey")).distinct().count())
  }

  test("modularity matches a driver replay over the same partition") {
    val out = GraphOps.modularityQuery(spark, Sf).collect()
    assert(out.nonEmpty)
    val edges = AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cnn = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val m = cnn.length.toLong
    val assign = GraphOps.labelAssignments(
        AnnOps.knnGraph(spark, Sf).select(col("src"), col("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eIn = cnn.filter(e => assign(e._1) == assign(e._2))
      .groupBy(e => assign(e._1)).map { case (c, xs) => c -> xs.length.toLong }
    val dTot = cnn.flatMap(e => Seq(e._1, e._2))
      .groupBy(assign).map { case (c, xs) => c -> xs.length.toLong }
    // keys.map would collapse communities with EQUAL contributions (a
    // Set), silently dropping terms from the sum — enumerate as a Seq
    val qn = dTot.keys.toSeq.map(c =>
      (BigInt(eIn.getOrElse(c, 0L)) * 4 * m - BigInt(dTot(c)) * dTot(c)) *
        1000000).sum
    val den = BigInt(4) * m * m
    val wantQ = halfUp(qn, den).toDouble / 1e6
    for (r <- out) {
      val c = r.getLong(0)
      assert(r.getLong(2) == eIn.getOrElse(c, 0L), s"community $c e_in")
      assert(r.getLong(3) == dTot(c), s"community $c d_tot")
      val cn = (BigInt(eIn.getOrElse(c, 0L)) * 4 * m -
        BigInt(dTot(c)) * dTot(c)) * 1000000
      assert(r.getDouble(4) == halfUp(cn, den).toDouble / 1e6,
        s"community $c contribution")
      assert(r.getDouble(5) == wantQ, s"community $c modularity")
    }
    // label-prop on a kNN graph groups neighborhoods: beats chance
    assert(out.head.getDouble(5) > 0.0, "modularity should be positive here")
  }

  test("labelHomophily matches a driver replay and is high on clustered labels") {
    val out = AnnOps.labelHomophily(spark, Sf).collect()
    assert(out.length == 1)
    val labels = Lake.embeddings(spark, Sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cnn = AnnOps.knnGraph(spark, Sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val m = cnn.length.toLong
    val same = cnn.count(e => labels(e._1) == labels(e._2)).toLong
    val t2 = cnn.flatMap(e => Seq(labels(e._1), labels(e._2)))
      .groupBy(identity).values.map(xs => BigInt(xs.length) * xs.length).sum
    val r = out.head
    assert(r.getLong(0) == m && r.getLong(1) == same)
    assert(r.getDouble(2) ==
      halfUp(BigInt(10000) * same, BigInt(m)).toDouble / 1e4)
    val rn = (BigInt(same) * m * 4 - t2) * 1000000
    val rd = (BigInt(m) * m * 4 - t2).max(1)
    assert(r.getDouble(3) == halfUp(rn, rd).toDouble / 1e6)
    // r is a correlation-like coefficient; the LSH 5-NN graph at this
    // tiny SF is nearly label-blind, so assert the RANGE, not strength
    assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
  }

  test("intrinsicDim matches a driver replay and sits in (0, ambient]") {
    val out = AnnOps.intrinsicDim(spark, Sf).collect()
    assert(out.length == 1)
    val vecs = Lake.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val pairs = graft.operators.AnnOps.sharedKnnPairs(spark, Sf)
      .select(col("vec_a"), col("vec_b"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sym = pairs.flatMap { case (a, b, s) =>
      Seq((a, b, s), (b, a, s)) }
    val terms = sym.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      val na = dot(vecs(src), vecs(src))
      val ds = es.map { case (_, dst, s) =>
        val nb = dot(vecs(dst), vecs(dst))
        (na + nb - 2.0 * s * math.sqrt(na) * math.sqrt(nb), dst)
      }.sortBy(identity)
      if (ds.length >= 2 && ds.head._1 > 0)
        Some(BigDecimal(0.5 * math.log(ds(1)._1 / ds.head._1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      else None
    }
    val n = terms.length.toLong
    val s6 = terms.sum
    val r = out.head
    assert(r.getLong(0) == n, s"n_used ${r.getLong(0)} vs $n")
    val s6i = (s6 * 1000000).toLongExact
    assert(r.getDouble(1) ==
      halfUp(BigInt(s6i), BigInt(n)).toDouble / 1e6, "mean_log_ratio")
    val id = BigDecimal(1.0 / (s6.toDouble / n))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(2) - id) < 1e-9, s"id ${r.getDouble(2)} vs $id")
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 64.0,
      "ID must sit in (0, ambient 64]")
  }

  test("knHeldoutScore: KN driver replay on the scored slice") {
    val out = TextOps.knHeldoutScore(spark, Sf).collect()
    assert(out.nonEmpty)
    val docs = Lake.documents(spark, Sf)
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 2)
    def bigrams(t: Array[String]) = t.sliding(2).map(p => (p(0), p(1))).toSeq
    val refBi = docs.filter(_._1 % 2 == 0).flatMap(d => bigrams(d._2))
      .groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }
    val prefix = refBi.toSeq.groupBy(_._1._1).map { case (w1, xs) =>
      w1 -> (xs.map(_._2).sum, xs.length.toLong) }
    val cont = refBi.toSeq.groupBy(_._1._2).map { case (w2, xs) =>
      w2 -> xs.length.toLong }
    val t = refBi.size.toLong
    val v = refBi.keys.map(_._2).toSeq.distinct.length.toLong
    val dd = (t + v + 1).toDouble
    for (r <- out.take(40)) {
      val doc = docs.find(_._1 == r.getLong(0)).get
      val bs = bigrams(doc._2)
      assert(r.getLong(1) == bs.length, s"doc ${doc._1} n_bigrams")
      assert(r.getLong(2) == bs.count(!refBi.contains(_)), "n_unseen")
      val total = bs.map { case (w1, w2) =>
        val pcn = (cont.getOrElse(w2, 0L) + 1).toDouble
        val p = prefix.get(w1) match {
          case None => pcn / dd
          case Some((cv, n1v)) =>
            val a = math.max(4 * refBi.getOrElse((w1, w2), 0L) - 3, 0L)
            (a.toDouble * dd + 3.0 * n1v * pcn) / (4.0 * cv * dd)
        }
        math.rint(-math.log(p) * 1e6) / 1e6
      }.sum
      val s = BigInt(math.round(total * 1e6))
      val want = ((2 * s + 100 * bs.length) /
        (200 * BigInt(bs.length))).toDouble / 1e4
      assert(math.abs(r.getDouble(3) - want) <= 1e-4,
        s"doc ${doc._1} avg ${r.getDouble(3)} vs $want")
    }
  }
}
