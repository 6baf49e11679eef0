package graft

import org.apache.spark.sql.SparkSession

/** Dev-only single-query timing probe (companion to [[BenchProbe]], which
  * measures the per-query harness floor). Times ONLY the named queries —
  * N per-pass-rebuild runs through [[Bench.buildSession]] and Bench's
  * runJob-drain execution — so a plan change can be measured in seconds
  * instead of a full suite run. Numbers here correspond to Bench's
  * EAGER/REBUILD mode (builder + planning inside the timer); for a query
  * Bench re-plans from its optimized plan, expect this probe to read
  * slightly hotter than bench_full.json (it also times the builder,
  * analysis and optimization), never cooler. (The r15 probe sweep retired this
  * probe's noop-sink writes — ~0.1–0.2 s of write-command re-optimization
  * per pass charged to the operator — and its drifted session config:
  * cpus default 32 vs the bench's 4, no codegen-cache sizing.)
  * Not part of the driver contract.
  *
  * Usage: runMain graft.DevProbe <sfDir> <samples> <query> [<query> ...]
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    def drain(it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Long = {
      var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
    }
    def runDf(df: org.apache.spark.sql.DataFrame): Unit =
      spark.sparkContext.runJob(df.queryExecution.executedPlan.execute(), drain _)
    // same warmup discipline as Bench: compile codegen classes at tiny scale
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { q =>
      try runDf(SparkEntry.queries(q)(spark, warmDir))
      catch { case _: Throwable => () }
    }
    // ad-hoc decomposition probes (dev-only), alongside contract queries
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    def micro(q: String): (org.apache.spark.sql.SparkSession, String) => DataFrame = q match {
      case "@simhash_fp" => (s, dir) =>
        graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            graft.functions.VectorExpr.simhash16(split(col("text"), " ")).as("fp"))
      case "@split_only" => (s, dir) =>
        graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      case "@docs_scan" => (s, dir) =>
        graft.Tables.table(s, dir, "documents").select("doc_id", "text")
      case "@jac_sh" => (s, dir) =>
        graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(array_distinct(graft.functions.VectorExpr.shingles(
              split(col("text"), " ")))).as("g"))
      case "@jac_shared" => (s, dir) => {
        val sh = graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(array_distinct(graft.functions.VectorExpr.shingles(
              split(col("text"), " ")))).as("g"))
        val a = sh.select(col("doc_id").as("ida"), col("source").as("srca"), col("g"))
        val b = sh.select(col("doc_id").as("idb"), col("source").as("srcb"), col("g").as("g2"))
        a.join(b, col("g") === col("g2") && col("srca") === col("srcb") &&
            col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
      }
      case "@jac_shared32" => (s, dir) => {
        val sh = graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(array_distinct(graft.functions.VectorExpr.shingles(
              split(col("text"), " ")))).as("g"))
        val a = sh.select(col("doc_id").as("ida"), col("source").as("srca"), col("g"))
          .repartition(32, col("g"), col("srca"))
        val b = sh.select(col("doc_id").as("idb"), col("source").as("srcb"), col("g").as("g2"))
          .repartition(32, col("g2"), col("srcb"))
        a.join(b, col("g") === col("g2") && col("srca") === col("srcb") &&
            col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
      }
      case "@jac_full_shj" => (s, dir) => {
        // full jaccard with the self-join forced to shuffle-hash (one
        // reusable exchange instead of a multi-million-entry broadcast)
        val sh = graft.Tables.spread(s, graft.Tables.table(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(graft.functions.VectorExpr.shingleHashes(
              split(col("text"), " "))).as("g"))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val a = sh.select(col("doc_id").as("ida"), col("source").as("srca"), col("g"))
        val b = sh.select(col("doc_id").as("idb"), col("source").as("srcb"), col("g").as("g2"))
        val shared = a.hint("shuffle_hash")
          .join(b.hint("shuffle_hash"), col("g") === col("g2") &&
            col("srca") === col("srcb") && col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
        shared
          .join(broadcast(sizes.select(col("doc_id").as("ida"), col("sz").as("sza"))), "ida")
          .join(broadcast(sizes.select(col("doc_id").as("idb"), col("sz").as("szb"))), "idb")
          .select(col("ida"), col("idb"),
            round(col("shared") / (col("sza") + col("szb") - col("shared")), 6).as("jac"))
          .orderBy(col("jac").desc, col("ida"), col("idb"))
          .limit(20)
      }
      case "@jac_full_posting" => (s, dir) => {
        // posting-list pair generation: one (source, g) agg, pairs fan out
        // map-side from sorted capped lists, then the pair-count agg
        val sh = graft.Tables.spread(s, graft.Tables.table(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(graft.functions.VectorExpr.shingleHashes(
              split(col("text"), " "))).as("g"))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val posts = sh.groupBy("source", "g")
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .withColumn("ds", slice(col("ds"), 1, 256))
        val shared = posts
          .select(posexplode(col("ds")).as(Seq("i", "ida")), col("ds"))
          .select(col("ida"),
            explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
        shared
          .join(broadcast(sizes.select(col("doc_id").as("ida"), col("sz").as("sza"))), "ida")
          .join(broadcast(sizes.select(col("doc_id").as("idb"), col("sz").as("szb"))), "idb")
          .select(col("ida"), col("idb"),
            round(col("shared") / (col("sza") + col("szb") - col("shared")), 6).as("jac"))
          .orderBy(col("jac").desc, col("ida"), col("idb"))
          .limit(20)
      }
      case "@rfm_fused" => (s, dir) => {
        // union-fused RFM: all three banded ranks ride ONE window exchange.
        // MEASURED round 11 (4 passes, sf0.1, alongside q_agg_rfm): fused
        // 2.6-4.1 s vs shipped 2.6-3.2 s — the union triples the offsets
        // branch's recompute of `per` and the pivot adds an exchange, so
        // the fusion does NOT beat three independent slim ranks; kept as
        // the recorded alternative (the jaccard-alternatives discipline)
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.LongType
        val od = datediff(to_date(col("o_orderdate")),
          to_date(lit("1970-01-01"))).cast(LongType)
        val per = graft.Tables.table(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(max(od).as("lastd"), count(lit(1)).as("f"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType)).as("m"))
        val base = per
          .crossJoin(broadcast(per.agg(max(col("lastd")).as("maxd"))))
          .withColumn("r_days", col("maxd") - col("lastd"))
        val u = base.select(lit(0L).as("mid"), col("r_days").as("band"),
            col("r_days").as("a"), col("o_custkey"))
          .unionByName(per.select(lit(1L).as("mid"), (-col("f")).as("band"),
            (-col("f")).as("a"), col("o_custkey")))
          .unionByName(per.select(lit(2L).as("mid"),
            (-call_function("div", col("m"), lit(1000000L))).as("band"),
            (-col("m")).as("a"), col("o_custkey")))
        val wLo = Window.partitionBy("mid", "band").orderBy("a", "o_custkey")
        val wB = Window.partitionBy("mid").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offs = u.groupBy("mid", "band").agg(count(lit(1)).as("n"))
          .withColumn("off", sum(col("n")).over(wB) - col("n"))
          .select(col("mid").as("mid2"), col("band").as("band2"), col("off"))
        val rk3 = u.join(broadcast(offs),
            col("mid") === col("mid2") && col("band") === col("band2"))
          .withColumn("rk", col("off") + row_number().over(wLo))
        val pivot = rk3.groupBy("o_custkey").agg(
          max(when(col("mid") === 0L, col("rk"))).as("rr"),
          max(when(col("mid") === 1L, col("rk"))).as("rf"),
          max(when(col("mid") === 2L, col("rk"))).as("rm"))
        val nn = per.agg(count(lit(1)).as("nn"))
        def score(rk: org.apache.spark.sql.Column) = {
          val r0 = rk - lit(1L)
          val q = call_function("div", col("nn"), lit(5L))
          val rem = col("nn") % lit(5L)
          val thr = rem * (q + lit(1L))
          when(r0 < thr, call_function("div", r0, q + lit(1L)) + lit(1L))
            .otherwise(call_function("div", r0 - thr, greatest(q, lit(1L)))
              + rem + lit(1L)).cast(LongType)
        }
        base.join(pivot, "o_custkey").crossJoin(broadcast(nn))
          .withColumn("r_score", score(col("rr")))
          .withColumn("f_score", score(col("rf")))
          .withColumn("m_score", score(col("rm")))
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("monetary_cents"))
          .orderBy("r_score", "f_score", "m_score")
      }
      case "@geo_parse" => (s, dir) => {
        val e = graft.Tables.table(s, dir, "events")
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"))
          .withColumn("lat_deg", pmod(col("event_id"), lit(90L)))
          .withColumn("lat_minc", pmod(col("event_id") * 7, lit(6000L)))
          .withColumn("lon_deg", pmod(col("event_id") * 3, lit(180L)))
          .withColumn("lon_minc", pmod(col("event_id") * 13, lit(6000L)))
        val raw = concat(
          lit("U"), col("user_id").cast("string"), lit(">APRS,TCPIP*:!"),
          format_string("%02d%02d.%02d",
            col("lat_deg"), (col("lat_minc") / lit(100)).cast("long"),
            pmod(col("lat_minc"), lit(100L))),
          when(pmod(col("event_id"), lit(2L)) === 0, "N").otherwise("S"),
          lit("/"),
          format_string("%03d%02d.%02d",
            col("lon_deg"), (col("lon_minc") / lit(100)).cast("long"),
            pmod(col("lon_minc"), lit(100L))),
          when(pmod(col("event_id"), lit(3L)) === 0, "E").otherwise("W"),
          lit("#"))
        graft.streaming.PacketParse.parse(e.select(col("event_id"), raw.as("raw")))
          .filter(col("packet_type") === "position")
          .select(col("callsign"), col("lat"), col("lon"))
      }
      case "@geo_agg" => (s, dir) =>
        micro("@geo_parse")(s, dir).groupBy("callsign").agg(
          count(lit(1)).as("n_pos"),
          round(min(col("lat")), 6).as("lat_min"),
          collect_list(struct(col("lat"), col("lon"))).as("xs"))
          .select(col("callsign"), col("n_pos"), col("lat_min"), size(col("xs")).as("nx"))
      case "@sketch_err" => (s, dir) => {
        // actual relative errors behind the q_agg_approx_* quality bounds —
        // run at each SF when recalibrating the 5% epsilons
        val hll = graft.Tables.table(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(countDistinct(col("o_custkey")).as("exact"),
            approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
          .select(col("o_orderpriority").as("grp"), lit("hll").as("sketch"),
            round(abs(col("approx") - col("exact")) / col("exact"), 5).as("rel_err"))
        val gk = graft.Tables.table(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(expr("percentile(o_totalprice, 0.5)").as("e50"),
            expr("percentile(o_totalprice, 0.95)").as("e95"),
            expr("approx_percentile(o_totalprice, array(0.5, 0.95), 1000)").as("qs"))
          .select(col("o_orderstatus").as("grp"), lit("gk_p50/p95").as("sketch"),
            greatest(
              round(abs(element_at(col("qs"), 1) - col("e50")) / col("e50"), 5),
              round(abs(element_at(col("qs"), 2) - col("e95")) / col("e95"), 5)).as("rel_err"))
        hll.unionAll(gk).orderBy(col("sketch"), col("grp"))
      }
      case "@rd_pairs" => (s, dir) =>
        graft.Tables.table(s, dir, "events")
          .select(
            floor(graft.Ts.epochSec(date_trunc("hour", col("ts"))) / lit(3600d))
              .cast("long").as("hr"),
            col("user_id"))
          .distinct()
      case "@rd_islands" => (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = micro("@rd_pairs")(s, dir)
        val ord = Window.partitionBy("user_id").orderBy("hr")
        val prev = lag(col("hr"), 1).over(ord)
        val isStart = when(prev.isNull || col("hr") > prev + lit(23L), 1L).otherwise(0L)
        e.withColumn("island", sum(isStart).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "island")
          .agg(min(col("hr")).as("lo"), (max(col("hr")) + lit(24L)).as("hi"))
      }
      case "@conc_net" => (s, dir) => {
        val ev = graft.Tables.table(s, dir, "events")
        val us = graft.Ts.epochMicros(col("ts"))
        ev.select(us.as("t"), lit(1L).as("d"))
          .unionAll(ev.select((us + lit(900000000L)).as("t"), lit(-1L).as("d")))
          .groupBy("t").agg(sum(col("d")).as("nd"))
      }
      case "@grid_pts" => (s, dir) => {
        val e = graft.Tables.table(s, dir, "events")
          .filter(col("event_type") === "click")
          .select(col("event_id"),
            (pmod(col("event_id"), lit(90L)).cast("double")
              + pmod(col("event_id") * 7, lit(6000L)).cast("double") / 100.0 / 60.0)
              * when(pmod(col("event_id"), lit(2L)) === 0, 1.0).otherwise(-1.0),
            (pmod(col("event_id") * 3, lit(180L)).cast("double")
              + pmod(col("event_id") * 13, lit(6000L)).cast("double") / 100.0 / 60.0)
              * when(pmod(col("event_id"), lit(3L)) === 0, 1.0).otherwise(-1.0))
          .toDF("event_id", "lat", "lon")
        e
      }
      case "@grid_join_noparse" => (s, dir) => {
        val p = micro("@grid_pts")(s, dir)
        val cs = 0.5d
        val a = p.select(col("event_id").as("ida"), col("lat").as("lata"), col("lon").as("lona"),
            explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
              struct(
                (floor(col("lat") / cs).cast("long") + lit(dx.toLong)).as("cx"),
                (floor(col("lon") / cs).cast("long") + lit(dy.toLong)).as("cy")))): _*))
              .as("c"))
          .select(col("ida"), col("lata"), col("lona"), col("c.cx"), col("c.cy"))
        val b = p.select(col("event_id").as("idb"), col("lat").as("latb"), col("lon").as("lonb"),
          floor(col("lat") / cs).cast("long").as("cx"),
          floor(col("lon") / cs).cast("long").as("cy"))
        val d2 = (col("lata") - col("latb")) * (col("lata") - col("latb")) +
          (col("lona") - col("lonb")) * (col("lona") - col("lonb"))
        a.join(b, Seq("cx", "cy"))
          .filter(col("ida") < col("idb") && d2 <= lit(0.25d))
          .agg(count(lit(1)).as("n_pairs"), countDistinct(col("ida")).as("n_left"),
            round(min(d2), 9).as("min_d2"))
      }
      case "@audit_nospread" => (s, dir) => {
        import org.apache.spark.sql.types.LongType
        val day = graft.Ts.dayBucket(col("o_orderdate"))
        val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
        val h = graft.functions.HashExpr.auditDigest(col("o_orderkey"),
          col("o_custkey"), cents, day, col("o_orderpriority"))
        val h16 = graft.functions.HashExpr.hexPrefix16(h)
        graft.Tables.table(s, dir, "orders")
          .select(col("o_orderstatus"), h.as("h"), h16.as("h16"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("h16")).as("checksum"),
            graft.functions.HashExpr.minHex128(col("h")).as("h_min"),
            graft.functions.HashExpr.maxHex128(col("h")).as("h_max"))
          .orderBy("o_orderstatus")
      }
      case "@spread_count" => (s, dir) =>
        graft.Tables.spread(s, graft.Tables.table(s, dir, "orders")
            .select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      case "@audit_scan" => (s, dir) =>
        // the raw columns the checksum canonicalizes, no hashing
        graft.Tables.table(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      case "@audit_canon" => (s, dir) => {
        import org.apache.spark.sql.types.LongType
        val day = graft.Ts.dayBucket(col("o_orderdate"))
        val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
        graft.Tables.table(s, dir, "orders")
          .select(col("o_orderstatus"),
            concat_ws("|", col("o_orderkey"), col("o_custkey"),
              cents, day, col("o_orderpriority")).as("canon"))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), max("canon").as("mx"))
      }
      case "@audit_md5" => (s, dir) => {
        import org.apache.spark.sql.types.LongType
        val day = graft.Ts.dayBucket(col("o_orderdate"))
        val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
        val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
          cents, day, col("o_orderpriority"))
        val h = md5(canon)
        graft.Tables.table(s, dir, "orders")
          .select(col("o_orderstatus"), h.as("h"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), min(col("h")).as("h_min"),
            max(col("h")).as("h_max"))
      }
      case "@audit_noconv" => (s, dir) => {
        import org.apache.spark.sql.types.LongType
        val day = graft.Ts.dayBucket(col("o_orderdate"))
        val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
        val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
          cents, day, col("o_orderpriority"))
        val h = md5(canon)
        // 16-bit prefix without conv(): ascii arithmetic over 4 hex chars
        def hex(i: Int) = {
          val c = ascii(substring(h, i, 1))
          when(c >= 97, c - 87).otherwise(c - 48).cast(LongType)
        }
        val h16 = hex(1) * 4096L + hex(2) * 256L + hex(3) * 16L + hex(4)
        graft.Tables.table(s, dir, "orders")
          .select(col("o_orderstatus"), h.as("h"), h16.as("h16"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("h16")).as("checksum"),
            min(col("h")).as("h_min"), max(col("h")).as("h_max"))
          .orderBy("o_orderstatus")
      }
      case other => SparkEntry.queries(other)
    }
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0)
    val gcTimeMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null) gcTimeMs.addAndGet(t.taskMetrics.jvmGCTime)
      }
    })
    for (pass <- 1 to n; q <- names) {
      if (q.startsWith("show:")) {
        micro(q.stripPrefix("show:"))(spark, sfDir).show(20, truncate = false)
      } else if (q.startsWith("explain:")) {
        micro(q.stripPrefix("explain:"))(spark, sfDir).explain("formatted")
      } else {
        taskTimeMs.set(0); gcTimeMs.set(0)
        val t0 = System.nanoTime()
        runDf(micro(q)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        // shared quiesce rule, not a fixed sleep: events still draining
        // after a fixed window land in the NEXT pass's counters
        Bench.quiesceBus(() => (taskTimeMs.get, gcTimeMs.get))
        println(f"[probe] pass=$pass $q%-28s $dt%7.3f s  taskTime=${taskTimeMs.get}ms gc=${gcTimeMs.get}ms")
      }
    }
    spark.stop()
  }
}
