package graft

import org.apache.spark.sql.functions._

/** Behavior gates for the round-12 operators: rank correlations (Spearman,
  * Kendall τ-b), resampling inference (jackknife ratio, permutation test,
  * bootstrap CI), decomposition (STL seasonal, growth accounting, SAX,
  * entropy rate), harmonic closeness, and power-iteration PCA. Each is
  * checked against an independent in-process brute-force formulation (the
  * DuckDB oracle pins cross-engine value equality; these pin SEMANTICS).
  */
class Round12Spec extends SparkSuite {

  /** (type, day, count) day-grain series of the fixture, driver-side. */
  private lazy val daily: Map[String, Seq[(Long, Long)]] =
    Tables.table(spark, sf, "events")
      .groupBy(col("event_type"),
        floor(graft.Ts.epochSec(col("ts")) / lit(86400d)).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(x => (x._2, x._3)).sortBy(_._1).toSeq }

  /** Paired (day, clicks, purchases) series, inner-joined on day. */
  private lazy val paired: Seq[(Long, Long, Long)] = {
    val c = daily("click").toMap
    val p = daily("purchase").toMap
    c.keySet.intersect(p.keySet).toSeq.sorted.map(d => (d, c(d), p(d)))
  }

  test("spearman: equals brute-force rho on average ranks") {
    def avgRanks(xs: Seq[Long]): Seq[Double] = {
      val sorted = xs.sorted
      val first = sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, g) => v -> (g.map(_._2).min + 1) }
      val cnt = xs.groupBy(identity).map { case (v, g) => v -> g.size }
      xs.map(v => first(v) + (cnt(v) - 1) / 2.0)
    }
    val rx = avgRanks(paired.map(_._2))
    val ry = avgRanks(paired.map(_._3))
    val n = rx.size.toDouble
    val sx = rx.sum; val sy = ry.sum
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val sxx = rx.map(a => a * a).sum; val syy = ry.map(a => a * a).sum
    val rho = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = run("q_stats_spearman").collect().head
    assert(got.getLong(0) == paired.size)
    assert(math.abs(got.getDouble(1) - rho) < 1e-5)
  }

  test("kendall: equals brute-force tau-b over all pairs") {
    var c = 0L; var d = 0L; var tx = 0L; var ty = 0L
    for (i <- paired.indices; j <- paired.indices if i < j) {
      val dx = paired(j)._2 - paired(i)._2
      val dy = paired(j)._3 - paired(i)._3
      if (dx * dy > 0) c += 1
      else if (dx * dy < 0) d += 1
      else if (dx == 0 && dy != 0) tx += 1
      else if (dy == 0 && dx != 0) ty += 1
    }
    val tau = (c - d).toDouble /
      (math.sqrt((c + d + tx).toDouble) * math.sqrt((c + d + ty).toDouble))
    val got = run("q_stats_kendall").collect().head
    assert(got.getLong(0) == paired.size.toLong * (paired.size - 1) / 2)
    assert(got.getLong(1) == c && got.getLong(2) == d)
    assert(math.abs(got.getDouble(3) - tau) < 1e-5)
  }

  test("jackknife: equals brute-force leave-one-out ratio SE") {
    val n = paired.size
    val sx = paired.map(_._2).sum; val sy = paired.map(_._3).sum
    val thetas = paired.map { case (_, x, y) =>
      (sy - y).toDouble / (sx - x).toDouble }
    val mean = thetas.sum / n
    val se = math.sqrt((n - 1).toDouble / n *
      thetas.map(t => (t - mean) * (t - mean)).sum)
    val got = run("q_stats_jackknife").collect().head
    assert(got.getLong(0) == n)
    assert(math.abs(got.getDouble(1) - sy.toDouble / sx) < 1e-6)
    assert(math.abs(got.getDouble(2) - se) < 1e-4)
  }

  test("permutation: t_obs comparison is exact and p-count is sane") {
    val got = run("q_stats_permutation").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val nDays = r.getLong(1); val nWknd = r.getLong(2)
      val nPerms = r.getLong(3); val nGe = r.getLong(4)
      assert(nPerms == 200L)
      assert(nGe >= 0L && nGe <= nPerms)
      assert(nWknd > 0L && nWknd < nDays)
      // weekend days are 2/7 of the span give or take boundary days
      assert(math.abs(nWknd.toDouble / nDays - 2.0 / 7) < 0.1)
    }
  }

  test("bootstrap: CI brackets the observed mean and is ordered") {
    val got = run("q_stats_bootstrap").collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    daily.foreach { case (t, series) =>
      val mean = series.map(_._2).sum.toDouble / series.size
      val (lo, hi) = got(t)
      assert(lo <= hi, s"type=$t")
      // percentile-CI of the mean must straddle the observed mean
      assert(lo <= mean && mean <= hi, s"type=$t lo=$lo mean=$mean hi=$hi")
    }
  }

  test("stl: seasonal+trend_mean equals brute-force centered MA per dow") {
    val got = run("q_ts_stl").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    daily.foreach { case (t, series) =>
      val cells = (3 until series.size - 3).flatMap { i =>
        val win = series.slice(i - 3, i + 4)
        if (win.last._1 - win.head._1 == 6) {
          val s7 = win.map(_._2).sum
          Some((series(i)._1 + 3) % 7, series(i)._2, s7)
        } else None
      }
      cells.groupBy(_._1).foreach { case (dow, xs) =>
        val nD = xs.size.toLong
        val seasonal = (xs.map(_._2).sum.toDouble -
          xs.map(_._3).sum.toDouble / 7) / nD
        val trendMean = xs.map(_._3).sum.toDouble / 7 / nD
        val (gn, gs, gt) = got((t, dow))
        assert(gn == nD, s"$t dow=$dow")
        assert(math.abs(gs - seasonal) < 1e-4, s"$t dow=$dow")
        assert(math.abs(gt - trendMean) < 1e-4, s"$t dow=$dow")
      }
    }
  }

  test("growth: per-day ledger equals brute-force user-timeline scan") {
    val userDays = Tables.table(spark, sf, "events")
      .select(col("user_id"),
        floor(graft.Ts.epochSec(col("ts")) / lit(86400d)).cast("long").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxDay = userDays.map(_._2).max
    case class Led(var n: Long = 0, var r: Long = 0, var s: Long = 0, var c: Long = 0)
    val led = scala.collection.mutable.Map[Long, Led]()
    def at(d: Long) = led.getOrElseUpdate(d, Led())
    userDays.groupBy(_._1).foreach { case (_, xs) =>
      val days = xs.map(_._2).sorted
      days.zipWithIndex.foreach { case (d, i) =>
        if (i == 0) at(d).n += 1
        else if (days(i - 1) == d - 1) at(d).r += 1
        else at(d).s += 1
        val next = if (i + 1 < days.size) Some(days(i + 1)) else None
        val churns = next match {
          case Some(nd) => nd > d + 1
          case None => d < maxDay
        }
        if (churns) at(d + 1).c += 1
      }
    }
    val got = run("q_ts_growth").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == led.keySet)
    led.foreach { case (d, l) =>
      assert(got(d) == (l.n, l.r, l.s, l.c), s"day=$d")
    }
    // identity: every active day's actives = new + retained + resurrected
    val activePerDay = userDays.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong }
    activePerDay.foreach { case (d, a) =>
      val (n, r, s2, _) = got(d)
      assert(n + r + s2 == a, s"day=$d")
    }
  }

  test("entropy rate: equals brute-force over transition counts") {
    val rows = Tables.table(spark, sf, "events")
      .select(col("user_id"), graft.Ts.epochMicros(col("ts")).as("tsm"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = scala.collection.mutable.Map[(String, String), Long]()
    rows.groupBy(_._1).foreach { case (_, xs) =>
      val seq2 = xs.sortBy(x => (x._2, x._3)).map(_._4)
      seq2.sliding(2).filter(_.length == 2).foreach { p =>
        val key = (p(0), p(1))
        trans(key) = trans.getOrElse(key, 0L) + 1
      }
    }
    val nn = trans.values.sum.toDouble
    val ni = trans.groupBy(_._1._1).map { case (a, g) => a -> g.values.sum.toDouble }
    val h = -trans.map { case ((a, _), nij) =>
      nij / nn * math.log(nij / ni(a)) }.sum
    val got = run("q_seq_entropy_rate").collect().head
    assert(got.getLong(0) == trans.values.sum)
    assert(got.getLong(1) == trans.size.toLong)
    assert(math.abs(got.getDouble(2) - h) < 1e-5)
  }

  test("sax: equal-frequency alphabet, word length = full 7-day segments") {
    val got = run("q_ts_sax").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    got.foreach { case (t, nSeg, word) =>
      assert(word.length.toLong == nSeg, s"type=$t")
      assert(word.forall(c => c >= 'a' && c <= 'd'), s"type=$t")
      // equal-frequency binning: symbol counts differ by at most 1
      val counts = word.groupBy(identity).map(_._2.size)
      if (nSeg >= 4) assert(counts.max - counts.min <= 1, s"type=$t $word")
      // n_seg = number of complete 7-day PAA segments of the series
      val series = daily(t)
      val d0 = series.map(_._1).min
      val expect = series.groupBy(x => (x._1 - d0) / 7)
        .count { case (_, xs) => xs.size == 7 }
      assert(nSeg == expect.toLong, s"type=$t")
    }
  }

  test("closeness: harmonic centrality equals brute-force BFS") {
    val edges = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val seeds = adj.keys.toSeq.sorted.take(4)
    val got = run("q_graph_closeness").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    seeds.foreach { seed =>
      val dist = scala.collection.mutable.Map(seed -> 0)
      var frontier = List(seed)
      for (d <- 1 to 4) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        frontier.foreach(n => dist(n) = d)
      }
      def nAt(k: Int) = dist.count(_._2 == k).toLong
      val h = nAt(1) + nAt(2) / 2.0 + nAt(3) / 3.0 + nAt(4) / 4.0
      val (g1, g2, g3, g4, gh) = got(seed)
      assert((g1, g2, g3, g4) == (nAt(1), nAt(2), nAt(3), nAt(4)), s"seed=$seed")
      assert(math.abs(gh - h) < 1e-5, s"seed=$seed")
    }
  }

  test("pca: loading is unit-norm and aligns with the float power iterate") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // float-precision reference power iteration (same start, same 3 steps —
    // the only divergence left is the 2^-20 quantization noise)
    var v = Array.fill(64)(1.0)
    for (_ <- 1 to 3) {
      val y = vecs.map(x => x.zip(v).map { case (a, b) => a * b }.sum)
      val s2 = Array.tabulate(64)(k => vecs.zip(y).map { case (x, yy) => x(k) * yy }.sum)
      val mx = s2.map(math.abs).max
      v = s2.map(_ / mx)
    }
    val nrm = math.sqrt(v.map(a => a * a).sum)
    val ref = v.map(_ / nrm)
    val got = run("q_vec_pca_power").collect()
      .map(r => (r.getLong(1).toInt, r.getDouble(2)))
    // top dim must match the reference's top dim, loadings close
    val refTop = ref.zipWithIndex.maxBy { case (l, _) => math.abs(l) }._2
    assert(got.head._1 == refTop)
    got.foreach { case (k, l) => assert(math.abs(l - ref(k)) < 0.01, s"k=$k") }
    // returned loadings come from a unit vector: top-8 norm ≤ 1
    assert(got.map(x => x._2 * x._2).sum <= 1.0 + 1e-9)
  }

  test("mcnemar: cells equal brute-force half-split flags") {
    val userDays = Tables.table(spark, sf, "events")
      .select(col("user_id"),
        floor(graft.Ts.epochSec(col("ts")) / lit(86400d)).cast("long").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (userDays.map(_._2).min + userDays.map(_._2).max + 1) / 2
    val flags = userDays.groupBy(_._1).toSeq.map { case (_, xs) =>
      (xs.exists(_._2 < mid), xs.exists(_._2 >= mid)) }
    val b = flags.count { case (h1, h2) => h1 && !h2 }.toLong
    val c = flags.count { case (h1, h2) => !h1 && h2 }.toLong
    val both = flags.count { case (h1, h2) => h1 && h2 }.toLong
    val got = run("q_stats_mcnemar").collect().head
    assert(got.getLong(0) == flags.size.toLong)
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == (both, b, c))
    val expect = if (b + c == 0) 0.0
      else (b - c).toDouble * (b - c) / (b + c)
    assert(math.abs(got.getDouble(4) - expect) < 1e-5)
  }

  test("cramers_v: equals brute-force contingency chi2") {
    val cells = daily.toSeq.flatMap { case (t, xs) =>
      xs.map { case (d, n) => ((t, (d + 3) % 7), n) } }
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    // cell counts here are EVENT counts per (type, dow), i.e. sum of daily
    val nn = cells.values.sum.toDouble
    val rsum = cells.groupBy(_._1._1).map { case (t, g) => t -> g.values.sum }
    val csum = cells.groupBy(_._1._2).map { case (w, g) => w -> g.values.sum }
    val chi2 = cells.map { case ((t, w), o) =>
      val e = rsum(t) * csum(w) / nn
      (o - e) * (o - e) / e }.sum
    val r = rsum.size; val cD = csum.size
    val v = math.sqrt(chi2 / (nn * (math.min(r, cD) - 1)))
    val got = run("q_stats_cramers_v").collect().head
    assert(got.getLong(0) == cells.values.sum)
    assert(got.getLong(1) == r.toLong && got.getLong(2) == cD.toLong)
    assert(math.abs(got.getDouble(3) - chi2) < 1e-3)
    assert(math.abs(got.getDouble(4) - v) < 1e-6)
  }

  test("dispersion: equals brute-force var/mean of the daily series") {
    val got = run("q_stats_dispersion").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    daily.foreach { case (t, series) =>
      val xs = series.map(_._2.toDouble)
      val n = xs.size
      val mean = xs.sum / n
      val varS = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      val (gn, gm, gd) = got(t)
      assert(gn == n.toLong, s"type=$t")
      assert(math.abs(gm - mean) < 1e-4, s"type=$t")
      assert(math.abs(gd - varS / mean) < 1e-3, s"type=$t")
    }
  }

  test("pareto: top_n is the minimal 80% prefix per region") {
    val got = run("q_agg_pareto_share").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rev = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.table(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.table(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_custkey"),
        floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rev.groupBy(_._1).foreach { case (region, xs) =>
      val perCust = xs.groupBy(_._2).map { case (ck, g) => (ck, g.map(_._3).sum) }
        .toSeq.sortBy { case (ck, cents) => (-cents, ck) }
      val tot = perCust.map(_._2).sum
      var cum = 0L; var topN = 0L
      var found = false
      perCust.zipWithIndex.foreach { case ((_, cents), i) =>
        if (!found) { cum += cents; if (cum * 5 >= tot * 4) { topN = i + 1L; found = true } }
      }
      val (nCust, gTop) = got(region)
      assert(nCust == perCust.size.toLong, s"region=$region")
      assert(gTop == topN, s"region=$region")
    }
  }

  test("qq: quantiles are exact order statistics of cents") {
    def cents(t: String): Seq[Long] = Tables.table(spark, sf, "events")
      .filter(col("event_type") === t)
      .select(floor(col("value") * 100 + lit(0.5d)).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val cl = cents("click"); val pu = cents("purchase")
    val got = run("q_stats_qq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (1L to 19L).foreach { p =>
      val rc = 1 + ((cl.size - 1) * p / 20)
      val rp = 1 + ((pu.size - 1) * p / 20)
      assert(got(p) == (cl((rc - 1).toInt), pu((rp - 1).toInt)), s"p=$p")
    }
  }

  test("constraints: fixture satisfies the ledger and checked counts match") {
    val got = run("q_quality_constraints").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nOrders = Tables.table(spark, sf, "orders").count()
    val nLine = Tables.table(spark, sf, "lineitem").count()
    assert(got("orders.pk_unique") == (nOrders, 0L))
    assert(got("lineitem.order_fk") == (nLine, 0L))
    assert(got("orders.customer_fk") == (nOrders, 0L))
    assert(got("lineitem.qty_range") == (nLine, 0L))
    assert(got("orders.totalprice_positive") == (nOrders, 0L))
    assert(got("lineitem.ship_after_order")._1 == nLine)
  }

  test("fuzzy dedup: reported distances equal direct Levenshtein") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0 })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val pfx = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = run("q_dedup_fuzzy_block").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.size == 10)
    got.foreach { case (a, b, d) =>
      assert(lev(pfx(a), pfx(b)).toLong == d, s"pair=($a,$b)")
    }
    // ascending by (dist, ida, idb)
    assert(got.sortBy(x => (x._3, x._1, x._2)).toSeq == got.toSeq)
  }

  test("hurst: R/S means equal brute-force segment scan") {
    val got = run("q_ts_hurst").collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    daily.foreach { case (t, series) =>
      val d0 = series.map(_._1).min
      def meanRs(l: Int): Double = {
        val segs = series.groupBy { case (d, _) => (d - d0) / l }
          .filter(_._2.size == l)
          .toSeq.sortBy(_._1)
          .map(_._2.sortBy(_._1).map(_._2))
        val rss = segs.flatMap { xs =>
          val sum = xs.sum; val ssq = xs.map(x => x * x).sum
          if (ssq * l == sum * sum) None
          else {
            val mean = sum.toDouble / l
            val cumdev = xs.scanLeft(0.0) { case (c, x) => c + x }.tail
              .zipWithIndex.map { case (c, i) => c - (i + 1) * mean }
            val r = cumdev.max - cumdev.min
            val sd = math.sqrt(ssq.toDouble / l - mean * mean)
            Some(r / sd)
          }
        }
        rss.sum / rss.size
      }
      val (g4, g8, g16, gh) = got(t)
      assert(math.abs(g4 - meanRs(4)) < 1e-4, s"type=$t L=4")
      assert(math.abs(g8 - meanRs(8)) < 1e-4, s"type=$t L=8")
      assert(math.abs(g16 - meanRs(16)) < 1e-4, s"type=$t L=16")
      val ys = Seq(meanRs(4), meanRs(8), meanRs(16)).map(math.log)
      val xs2 = Seq(2.0, 3.0, 4.0)
      val slope = (3 * xs2.zip(ys).map { case (a, b) => a * b }.sum -
        xs2.sum * ys.sum) / (3 * xs2.map(a => a * a).sum - xs2.sum * xs2.sum)
      // y is ln(R/S) but the x grid is log2(L): divide by ln 2 to get the
      // slope with respect to ln L — the Hurst exponent
      assert(math.abs(gh - slope / math.log(2)) < 1e-4, s"type=$t hurst")
    }
  }

  test("m4: bucket envelope equals brute-force first/last/min/max") {
    val evs = Tables.table(spark, sf, "events")
      .select(col("event_type"), graft.Ts.epochMicros(col("ts")).as("tsm"),
        col("event_id"),
        floor(col("value") * 100 + lit(0.5d)).cast("long").as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ref = evs.groupBy(e => (e._1, e._2 / 21600000000L)).map { case (k, xs) =>
      val byTs = xs.sortBy(e => (e._2, e._3))
      val byC = xs.sortBy(e => (e._4, e._2, e._3))
      k -> (xs.size.toLong, byTs.head._4, byTs.last._4, byC.head._4, byC.last._4)
    }
    val got = run("q_ts_m4").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (k, v) => assert(got(k) == v, s"bucket=$k") }
  }

  test("profile: ledger equals direct column statistics") {
    val o = Tables.table(spark, sf, "orders")
    val n = o.count()
    val got = run("q_profile_columns").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got.keySet == Set("o_orderkey", "o_custkey", "o_totalprice_cents",
      "o_orderstatus", "o_orderpriority"))
    got.values.foreach { case (rows, _, _, _, _) => assert(rows == n) }
    val keys = o.select(col("o_orderkey")).collect().map(_.getLong(0))
    assert(got("o_orderkey")._3 == keys.distinct.length.toLong)
    assert(got("o_orderkey")._4 == keys.min.toString)
    assert(got("o_orderkey")._5 == keys.max.toString)
    val st = o.select(col("o_orderstatus")).collect().map(_.getString(0))
    assert(got("o_orderstatus")._3 == st.distinct.length.toLong)
    assert(got("o_orderstatus")._2 == 0L)
  }

  test("walk: every step follows the md5-indexed ranked adjacency") {
    val got = run("q_graph_walk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 8)
    // rebuild the ranked adjacency driver-side from the same artifact
    val oe = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val pairs = oe.join(oe.select(col("ok"), col("sk").as("sk2")), "ok")
      .filter(col("sk") =!= col("sk2"))
      .groupBy(col("sk").as("u"), col("sk2").as("v"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val knn = pairs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(8).map(x => (u, x._2)) }
    val und = knn.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2).sorted }
    def md52(s2: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s2.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 13), 16)
    }
    got.foreach { case (seed, end, path) =>
      val nodes = path.split("->").map(_.toLong)
      assert(nodes.length == 5 && nodes.head == seed && nodes.last == end)
      (1 to 4).foreach { t =>
        val cur = nodes(t - 1)
        val nbrs = adj(cur)
        val pick = nbrs((md52(s"$seed|$t|$cur") % nbrs.size).toInt)
        assert(nodes(t) == pick, s"seed=$seed step=$t")
      }
    }
  }

  test("friedman: equals brute-force within-week average ranks") {
    val got = run("q_stats_friedman").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    daily.foreach { case (t, series) =>
      val weeks = series.groupBy { case (d, _) => (d + 3) / 7 }
        .filter(_._2.size == 7)
      val n = weeks.size
      // rank sums per dow over average ranks within each full week
      val rankSums = scala.collection.mutable.Map[Long, Double]()
      weeks.values.foreach { block =>
        val xs = block.map(_._2)
        block.foreach { case (d, x) =>
          val less = xs.count(_ < x); val ties = xs.count(_ == x)
          val avgRank = less + 1 + (ties - 1) / 2.0
          val dow = (d + 3) % 7
          rankSums(dow) = rankSums.getOrElse(dow, 0.0) + avgRank
        }
      }
      val chi2 = 12.0 / (n * 7 * 8) * rankSums.values.map(r => r * r).sum -
        3.0 * n * 8
      val (gn, gchi) = got(t)
      assert(gn == n.toLong, s"type=$t")
      assert(math.abs(gchi - chi2) < 1e-3, s"type=$t got=$gchi want=$chi2")
    }
  }

  test("feature hash: masses equal brute-force signed token sums") {
    def md52(s2: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s2.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 13), 16)
    }
    val toks = Tables.table(spark, sf, "documents")
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t => (r.getString(0), t)))
    val mass = toks.groupBy(identity).toSeq.flatMap { case ((lang, tok), g) =>
      val h = md52(tok)
      val sign = if ((h / 256) % 2 == 0) 1L else -1L
      Some(((lang, h % 256), sign * g.size))
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val got = run("q_text_feature_hash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (lang, _, bucket, m) =>
      assert(mass((lang, bucket)) == m, s"lang=$lang bucket=$bucket")
    }
    // per lang, the 5 reported are the heaviest by |mass|
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val reported = rows.map(_._3).toSet
      val top5 = mass.filter(_._1._1 == lang).toSeq
        .sortBy { case ((_, b), m) => (-math.abs(m), b) }.take(5)
        .map(_._1._2).toSet
      assert(reported == top5, s"lang=$lang")
    }
  }

  test("mips: augmented-cosine ranking equals inner-product ranking") {
    val got = run("q_vec_mips").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 10)
    got.foreach { case (id, rDot, rAug, _) =>
      assert(rDot == rAug, s"vec=$id: reduction violated")
    }
    // dot scores descend with rank
    val byRank = got.sortBy(_._2).map(_._4)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("clustercoef: cc equals brute-force triangles over degree pairs") {
    // brute-force adjacency of the affinity artifact (as in the walk test)
    val oe = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val pairs = oe.join(oe.select(col("ok"), col("sk").as("sk2")), "ok")
      .filter(col("sk") =!= col("sk2"))
      .groupBy(col("sk").as("u"), col("sk2").as("v"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val knn = pairs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(8).map(x => (u, x._2)) }
    val und = knn.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adjSet = und.toSet
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2).toSet }
    def triCount(v: Long): Long = {
      val nb = adj(v).toSeq
      (for (i <- nb.indices; j <- nb.indices if i < j) yield (nb(i), nb(j)))
        .count { case (a, b) =>
          adjSet((math.min(a, b), math.max(a, b))) }.toLong
    }
    val got = run("q_graph_clustercoef").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 10)
    got.foreach { case (node, d, t, cc) =>
      assert(adj(node).size.toLong == d, s"node=$node degree")
      assert(triCount(node) == t, s"node=$node triangles")
      assert(math.abs(cc - 2.0 * t / (d.toDouble * (d - 1))) < 1e-6,
        s"node=$node cc")
    }
  }

  test("bm25: scores equal brute-force Lucene-form BM25") {
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val n = docs.size
    val avgdl = docs.values.map(_.length).sum.toDouble / n
    val terms = Seq("join", "hash", "vector")
    val dfm = terms.map(t => t -> docs.values.count(_.contains(t))).toMap
    def score(toks: Array[String]): Double = terms.map { t =>
      val tf = toks.count(_ == t)
      if (tf == 0) 0.0
      else {
        val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
        idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
      }
    }.sum
    val ref = docs.map { case (id, toks) => id -> score(toks) }
    val top = ref.toSeq.sortBy { case (id, s2) => (-s2, id) }.take(10)
    val got = run("q_text_bm25").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == top.length && got.nonEmpty, s"${got.length} rows")
    got.zip(top).foreach { case ((gid, gs), (rid, rs)) =>
      assert(gid == rid, s"doc=$gid vs $rid")
      assert(math.abs(gs - rs) < 1e-4, s"doc=$gid")
    }
  }

  test("hits: authorities equal brute-force quantized half-steps") {
    val be = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sc = 1048576L
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max.toDouble
      m.map { case (k, v) => k -> math.floor(v / mx * sc + 0.5).toLong }
    }
    val bySupp = be.groupBy(_._2); val byCust = be.groupBy(_._1)
    var hub = norm(byCust.map { case (c, xs) => c -> xs.size.toLong * sc })
    var auth = norm(bySupp.map { case (s2, xs) =>
      s2 -> xs.map(x => hub(x._1)).sum })
    hub = norm(byCust.map { case (c, xs) => c -> xs.map(x => auth(x._2)).sum })
    auth = norm(bySupp.map { case (s2, xs) => s2 -> xs.map(x => hub(x._1)).sum })
    val top = auth.toSeq.sortBy { case (k, v) => (-v, k) }.take(10)
    val got = run("q_graph_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == top.length && got.nonEmpty, s"${got.length} rows")
    got.zip(top).foreach { case ((gk, gv), (rk2, rv)) =>
      assert(gk == rk2 && gv == rv, s"supp=$gk")
    }
  }

  test("session_native: boundary rule differs from islands exactly at gap") {
    // native session_window: an event exactly 1800 s after the previous
    // STARTS a new session; the islands rewrite (q_ts_session) keeps it.
    // Totals must still conserve: Σn = corpus rows on both.
    val nEvents = Tables.table(spark, sf, "events").count()
    val native = run("q_ts_session_native").collect()
    val islands = run("q_ts_session").collect()
    assert(native.map(_.getLong(3)).sum == nEvents)
    assert(islands.map(_.getLong(2)).sum == nEvents)
    // the native operator can only split MORE sessions, never fewer
    assert(native.length >= islands.length)
    // session windows are well-formed: start < end, no per-user overlap
    // (epoch micros via Ts: the fixture's ts type flips TIMESTAMP⇄NTZ)
    val byUser = run("q_ts_session_native")
      .select(col("user_id"), graft.Ts.epochMicros(col("ws")).as("s"),
        graft.Ts.epochMicros(col("we")).as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    byUser.values.foreach { xs =>
      val sorted = xs.sortBy(_._2)
      sorted.foreach { case (_, s2, e2) => assert(s2 < e2) }
      sorted.zip(sorted.drop(1)).foreach { case ((_, _, e1), (_, s2, _)) =>
        assert(e1 <= s2, "overlapping sessions")
      }
    }
  }

  test("pq: codes and SSE equal brute-force Lloyd iterations") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576 + 0.5).toLong).toArray)
      .toMap
    val got = run("q_vec_pq").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    (0 until 8).foreach { sub =>
      val sl = vecs.map { case (id, q) => id -> q.slice(sub * 8, sub * 8 + 8) }
      var cents: Map[Long, Array[Long]] = (0L to 3L).map(c => c -> sl(c)).toMap
      def dist(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      def assign() = sl.map { case (id, q) =>
        id -> (0L to 3L).map(c => (dist(q, cents(c)), c)).min._2 }
      for (_ <- 1 to 2) {
        val a = assign()
        val upd = a.groupBy(_._2).map { case (c, g) =>
          val qs = g.keys.map(sl).toSeq
          val n = qs.size
          c -> Array.tabulate(8) { j =>
            val s2 = qs.map(_(j)).sum
            (s2 + n.toLong * (1L << 30)) / n - (1L << 30)
          }
        }
        cents = cents.map { case (c, old) => c -> upd.getOrElse(c, old) }
      }
      val fin = sl.map { case (id, q) =>
        val (d, c) = (0L to 3L).map(c => (dist(q, cents(c)), c)).min
        (id, c, d)
      }
      val (n, sse, usage) = got(sub.toLong)
      assert(n == sl.size.toLong, s"sub=$sub")
      assert(sse == fin.map(_._3).sum, s"sub=$sub sse")
      (0 to 3).foreach { c =>
        assert(usage(c) == fin.count(_._2 == c).toLong, s"sub=$sub code=$c")
      }
    }
  }

  test("tumbling native: equals the manual date_trunc formulation") {
    val native = run("q_ts_tumbling_native").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val manual = Tables.table(spark, sf, "events")
      .groupBy(floor(graft.Ts.epochSec(col("ts")) / lit(3600d)).cast("long")
        .as("h"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0) * 3600, r.getString(1)) -> r.getLong(2)).toMap
    assert(native == manual)
  }

  test("chunk plan: ledger equals brute-force chunk arithmetic") {
    val docs = Tables.table(spark, sf, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val ref = docs.groupBy(_._1).map { case (lang, xs) =>
      val chunks = xs.map { case (_, n) =>
        (math.max(n - 64, 0) + 47) / 48 + 1 }
      lang -> (xs.size.toLong, xs.map(_._2).sum, chunks.sum,
        chunks.map(c => (c - 1) * 16).sum,
        chunks.zip(xs.map(_._2)).map { case (c, n) => c * 64 - n - (c - 1) * 16 }.sum)
    }
    val got = run("q_text_chunk_plan").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got == ref)
    // padding is nonnegative: every chunk window is at least filled to stride
    ref.values.foreach { case (_, _, _, _, pad) => assert(pad >= 0) }
  }

  test("binary hamming: signature recall matches brute-force sign words") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def words(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      (0 until 64).foreach { k =>
        if (v(k) >= 0) { if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32) }
      }
      (lo, hi)
    }
    val (qlo, qhi) = words(vecs(0L))
    val ham = vecs.filter(_._1 != 0L).map { case (id, v) =>
      val (lo, hi) = words(v)
      id -> (java.lang.Long.bitCount(lo ^ qlo) +
        java.lang.Long.bitCount(hi ^ qhi)).toLong
    }
    val h10 = ham.toSeq.sortBy { case (id, h) => (h, id) }.take(10).map(_._1).toSet
    val q = vecs(0L).map(_.toDouble)
    def cos(v: Array[Float]): Double = {
      val d = v.map(_.toDouble)
      val dot = d.zip(q).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(d.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val c10 = vecs.filter(_._1 != 0L).map { case (id, v) => id -> cos(v) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val expect = h10.intersect(c10).size.toLong
    val got = run("q_vec_binary_hamming").collect().head
    assert(got.getLong(0) == expect)
    assert(math.abs(got.getDouble(1) - expect / 10.0) < 1e-9)
  }

  test("ppr: mass localizes at the seed and ranks are integer-exact") {
    val got = run("q_graph_ppr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 10)
    // descending pr with full tie-break
    val prs = got.map(_._4)
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b })
    // the seed (minimum node id) receives the restart mass and must rank #1
    val seedNode = got.map(_._1).min
    assert(got.head._1 <= seedNode || got.head._4 >= got.find(_._1 == seedNode).map(_._4).getOrElse(0L))
    // entity decode is consistent with parity
    got.foreach { case (node, kind, key, _) =>
      if (node % 2 == 1) assert(kind == "S" && key == (node - 1) / 2)
      else assert(kind == "C" && key == node / 2)
    }
  }

  test("stationary: distribution sums to ~1 and tracks the empirical mix") {
    val got = run("q_seq_stationary").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val sPi = got.map(_._2).sum
    assert(math.abs(sPi - 1.0) < 0.01, s"sum=$sPi")
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-3)
    // ergodic chain, near-stationary data: the two distributions agree closely
    got.foreach { case (st, pi, emp) =>
      assert(math.abs(pi - emp) < 0.05, s"state=$st pi=$pi emp=$emp")
    }
  }

  test("lang metrics: tp/fp/fn derive from the confusion matrix") {
    val cm = run("q_text_lang_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = run("q_text_lang_metrics").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))
      .toMap
    got.foreach { case (cls, (tp, fp, fn, p, rcl, f1)) =>
      val tpRef = cm.getOrElse((cls, cls), 0L)
      val fpRef = cm.filter { case ((a, pr), _) => pr == cls && a != cls }
        .values.sum
      val fnRef = cm.filter { case ((a, pr), _) => a == cls && pr != cls }
        .values.sum
      assert((tp, fp, fn) == (tpRef, fpRef, fnRef), s"cls=$cls")
      val pr = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val rc = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      assert(math.abs(p - pr) < 1e-6 && math.abs(rcl - rc) < 1e-6, s"cls=$cls")
      val f1Ref = if (tp == 0) 0.0 else 2 * pr * rc / (pr + rc)
      assert(math.abs(f1 - f1Ref) < 1e-6, s"cls=$cls")
    }
  }

  test("theil: decomposition reconstructs the direct global index") {
    val rev = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.table(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.table(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("c_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long")).as("x"))
      .filter(col("x") > 0)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val xx = rev.map(_._2).sum.toDouble
    val nn = rev.length
    val direct = rev.map { case (_, x) =>
      x / xx * math.log(x * nn / xx) }.sum
    val got = run("q_stats_theil").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // each region's within index against brute force
    rev.groupBy(_._1).foreach { case (region, xs) =>
      val xg = xs.map(_._2).sum.toDouble
      val ng = xs.size
      val tg = xs.map { case (_, x) => x / xg * math.log(x * ng / xg) }.sum
      val row = got.find(_._1 == region).get
      assert(row._2 == ng.toLong, s"region=$region")
      assert(math.abs(row._4 - tg) < 1e-4, s"region=$region within")
    }
    // additivity: Σ within_contrib + Σ between_term = direct global Theil
    val recon = got.map(_._5).sum + got.map(_._6).sum
    assert(math.abs(recon - direct) < 1e-3, s"recon=$recon direct=$direct")
  }

  test("drift: mean cosine equals brute-force cohort means") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576 + 0.5)).toArray)
    val even = vecs.filter(_._1 % 2 == 0).map(_._2)
    val odd = vecs.filter(_._1 % 2 == 1).map(_._2)
    def mean(xs: Array[Array[Double]]): Array[Double] =
      Array.tabulate(64)(k => xs.map(_(k)).sum / xs.length)
    val m1 = mean(even); val m2 = mean(odd)
    val dot = m1.zip(m2).map { case (a, b) => a * b }.sum
    val cosRef = dot / (math.sqrt(m1.map(a => a * a).sum) *
      math.sqrt(m2.map(a => a * a).sum))
    val shRef = math.sqrt(m1.zip(m2).map { case (a, b) =>
      (a - b) * (a - b) }.sum) / 1048576.0
    val got = run("q_vec_drift").collect().head
    assert(got.getLong(0) == even.length.toLong)
    assert(got.getLong(1) == odd.length.toLong)
    assert(math.abs(got.getDouble(2) - cosRef) < 1e-5)
    assert(math.abs(got.getDouble(3) - shRef) < 1e-5)
  }

  test("abc: classes partition brands and shares bracket 70/90") {
    val got = run("q_agg_abc_class").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val rev = Tables.table(spark, sf, "lineitem")
      .join(Tables.table(spark, sf, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5d)).cast("long"))
        .as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tot = rev.map(_._2).sum
    var cum = 0L
    val ref = scala.collection.mutable.Map[String, (Long, Long)]()
    rev.sortBy { case (b, c) => (-c, b) }.foreach { case (_, c) =>
      cum += c
      val cls = if (cum * 10 <= tot * 7) "A"
        else if (cum * 10 <= tot * 9) "B" else "C"
      val (n0, c0) = ref.getOrElse(cls, (0L, 0L))
      ref(cls) = (n0 + 1, c0 + c)
    }
    ref.foreach { case (cls, (n, c)) =>
      val (gn, gc, _) = got(cls)
      assert((gn, gc) == (n, c), s"class=$cls")
    }
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-5)
  }

  test("lorenz: decile shares are the exact rank-threshold points") {
    val rev = Tables.table(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long"))
        .as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (k, c) => (c, k) }
    val n = rev.length
    val tot = rev.map(_._2).sum.toDouble
    val cums = rev.scanLeft(0L) { case (a, (_, c)) => a + c }.tail
    val got = run("q_stats_lorenz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    got.foreach { case (d, nb, share) =>
      val rk = n.toLong * d / 10
      assert(nb == rk, s"decile=$d")
      assert(math.abs(share - cums((rk - 1).toInt) / tot) < 1e-6, s"decile=$d")
    }
    // monotone, ending at full mass
    val shares = got.sortBy(_._1).map(_._3)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(math.abs(shares.last - 1.0) < 1e-9)
  }

  test("pq recall: ADC top-10 overlap equals brute-force") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576 + 0.5).toLong).toArray)
      .toMap
    // retrain brute-force PQ (same procedure as the pq test)
    val codebooks = (0 until 8).map { sub =>
      val sl = vecs.map { case (id, q) => id -> q.slice(sub * 8, sub * 8 + 8) }
      var cents: Map[Long, Array[Long]] = (0L to 3L).map(c => c -> sl(c)).toMap
      def dist(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      for (_ <- 1 to 2) {
        val a = sl.map { case (id, q) =>
          id -> (0L to 3L).map(c => (dist(q, cents(c)), c)).min._2 }
        val upd = a.groupBy(_._2).map { case (c, g) =>
          val qs = g.keys.map(sl).toSeq
          val nn = qs.size
          c -> Array.tabulate(8) { j =>
            (qs.map(_(j)).sum + nn.toLong * (1L << 30)) / nn - (1L << 30) }
        }
        cents = cents.map { case (c, old) => c -> upd.getOrElse(c, old) }
      }
      sub -> cents
    }.toMap
    def dist8(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val codes = vecs.map { case (id, q) =>
      id -> (0 until 8).map { sub =>
        val sl = q.slice(sub * 8, sub * 8 + 8)
        (0L to 3L).map(c => (dist8(sl, codebooks(sub)(c)), c)).min._2
      }
    }
    val q0 = vecs(0L)
    val lut = (0 until 8).map { sub =>
      sub -> (0L to 3L).map { c =>
        c -> dist8(q0.slice(sub * 8, sub * 8 + 8), codebooks(sub)(c)) }.toMap
    }.toMap
    val adc = codes.filter(_._1 != 0L).map { case (id, cs) =>
      id -> cs.zipWithIndex.map { case (c, sub) => lut(sub)(c) }.sum }
    val a10 = adc.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val exact = vecs.filter(_._1 != 0L).map { case (id, q) =>
      id -> q.zip(q0).map { case (a, b) => (a - b) * (a - b) }.sum }
    val e10 = exact.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val expect = a10.intersect(e10).size.toLong
    val got = run("q_vec_pq_recall").collect().head
    assert(got.getLong(0) == expect, s"got=${got.getLong(0)} want=$expect")
  }
}
