package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

object Bench {

  /** Queries whose builder fn PERFORMS the work (runs a streaming pipeline /
    * an iterative fixpoint with driver-side convergence probes) rather than
    * returning a lazy plan. These must be re-invoked per timed pass — reusing
    * the returned DataFrame would time a read of already-computed results,
    * not the operator. */
  private val eager: Set[String] =
    Set("q_dedup_components",
      // HITS materializes each half-step via localCheckpoint (superstep
      // discipline) — its builder performs work, so re-invoke per pass
      "q_graph_hits",
      // the builder collect()s the vocabulary²-bounded marker aggregate
      // (r15 shape) — the dominant scan+shuffle+collect work happens at
      // BUILD time, so a plan built once would time only the ~326-row
      // local relation (same class as the sketch/bloom builds below)
      "q_assoc_lift",
      // sketch/bloom/bitmap builders run eager driver-side collects (the
      // sketch build, the bloom bitset, the bitmap domain + dim bitset):
      // a plan built once would embed those results as literals and never
      // time the build pass, while each DuckDB twin recomputes its sketch
      // CTE inline per run (r14 sweep — same class as q_assoc_lift)
      "q_agg_countmin", "q_join_bloom", "q_agg_bitmap_and",
      "q_agg_bitmap_distinct")
  /** Read by [[passes]], so Bench, [[JobCensus]] and [[ConfProbe]] can never
    * drift apart when a new eager query is added (advisor r12). */
  private[graft] def isEager(name: String): Boolean =
    eager(name) || name.startsWith("q_stream_")

  /** Builder-work detector (r17 measurement-honesty fix). The hand-listed
    * [[eager]] set missed a CLASS of queries whose builders execute their
    * dominant work inline — every superstep query that localCheckpoints its
    * iterations at build time (q_graph_bfs/label_prop/kcore/modularity/
    * closeness/walk), and the single-parse/single-scan stagers
    * (q_ts_gap_fill, q_geo_join_grid, q_seq_stationary, q_text_perplexity,
    * …). A plan built once reads the builder's CACHED rows, so passes that
    * re-ran it priced only the read-back tail while each DuckDB twin
    * recomputes the whole fixpoint per run (q_graph_bfs timed 0.116 s
    * against a full recursive-CTE replay — the exact q_join_bloom class the
    * r14 honesty rule fixed by hand). Instead of growing the hand list, the
    * bench now DETECTS builder-side execution: any Spark job launched while
    * the builder runs reclassifies the query to rebuild mode (builder
    * re-invoked INSIDE the timed region, like the eager set). Detection
    * runs after the artifact step, so memoized artifact builds (orderGraph,
    * bands, index) are already settled and never misattributed to the
    * querying builder. Counter reads go through the listener-bus drain
    * ([[org.apache.spark.graft.ListenerBridge]]) because listener delivery
    * is async. */
  private[graft] def jobCounter(
      sc: org.apache.spark.SparkContext): java.util.concurrent.atomic.AtomicLong = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })
    n
  }
  private[graft] def settledJobs(sc: org.apache.spark.SparkContext,
      counter: java.util.concurrent.atomic.AtomicLong): Long = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    counter.get
  }

  /** A registered query's timed passes. The caller times `next()` together
    * with the drain of the plan it returns; `warm()` gives the plan of the
    * one untimed warm-up run. */
  private[graft] final class Passes(val builderWork: Boolean,
      built: Option[SparkPlan], val next: () => SparkPlan) {
    /** The plan preparation already built, if any: a builder that launched
      * jobs is not run a second time just to warm up. */
    def warm(): SparkPlan = built.getOrElse(next())
  }

  /** Full per-pass rebuild: the builder re-invoked and planned every pass. */
  private[graft] def rebuildPasses(spark: SparkSession, sfDir: String, name: String): Passes =
    new Passes(builderWork = false, None,
      () => SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)

  /** How every timed pass gets its physical plan — the ONE rule Bench,
    * [[JobCensus]] and [[ConfProbe]] share.
    *  - A builder that does the work ([[isEager]], or one that launched Spark
    *    jobs while it ran: [[jobCounter]]) is re-invoked every pass, inside
    *    the timer.
    *  - Every other query keeps only its optimized logical plan, and each
    *    pass plans it physically afresh
    *    ([[org.apache.spark.sql.execution.graft.PlanBridge.replanner]]).
    * A fresh plan has fresh exchanges, reuse targets, DPP broadcasts and
    * subquery futures, so no pass can stage-skip through work an earlier
    * pass cached: the rule is honest without any check on the plan's shape.
    * Physical planning sits inside the timer, as a user pays for it (a
    * median ~5 ms a query at sf0.1). */
  private[graft] def passes(spark: SparkSession, sfDir: String, name: String,
      jobs: java.util.concurrent.atomic.AtomicLong): Passes =
    if (isEager(name)) rebuildPasses(spark, sfDir, name)
    else {
      val sc = spark.sparkContext
      val jobsBefore = settledJobs(sc, jobs)
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val replan = org.apache.spark.sql.execution.graft.PlanBridge.replanner(qe)
      if (settledJobs(sc, jobs) > jobsBefore)
        new Passes(builderWork = true, Some(qe.executedPlan),
          rebuildPasses(spark, sfDir, name).next)
      else new Passes(builderWork = false, None, replan)
    }

  /** Materialize every output row of a physical plan without the
    * DataSourceV2 write framework: the noop-sink write was measured at
    * ~0.10-0.20 s of pure harness overhead PER INVOCATION (a second full
    * optimization of the wrapped write command + commit-protocol setup).
    * runJob over the plan's row iterator does what the noop sink did (pull
    * and discard every row, which forces every output column), minus the
    * framework. */
  private[graft] def runPlan(sc: org.apache.spark.SparkContext, plan: SparkPlan): Unit =
    sc.runJob(plan.execute(), drain _)
  private def drain(it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Long = {
    var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
  }

  /** Wait until the async listener bus stops delivering: `snap`'s value is
    * unchanged across two consecutive 60 ms samples (or the deadline lapses —
    * a counter that never settles must not hang the harness). ONE rule shared
    * by the bench census and [[JobCensus]]: two drifting copies would let the
    * two censuses settle under different conditions, the same config-drift
    * class [[buildSession]]'s scaladoc warns about (r15 diff review). */
  private[graft] def quiesceBus(snap: () => Any, deadlineSec: Int = 10): Unit = {
    var prev: Any = null
    var same = 0
    val deadline = System.nanoTime() + deadlineSec * 1000L * 1000 * 1000
    while (same < 2 && System.nanoTime() < deadline) {
      Thread.sleep(60)
      val cur = snap()
      if (cur == prev) same += 1 else { same = 0; prev = cur }
    }
  }

  /** The bench session config, shared with JobCensus so the census probe
    * measures under the EXACT scheme the bench times (config drift here
    * silently invalidates the census's floor ranking). */
  def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      // shuffle partitions sized to the DATA (sf0.1 shuffles are ≤600k rows),
      // not the core count — 32 partitions of tiny shuffles is pure task
      // overhead. At cluster scale this is data_bytes / ~200MB, not a constant.
      .config("spark.sql.shuffle.partitions", math.max(4, math.min(cpus.toInt, 8)).toString)
      // spark.sql.files.minPartitionNum is deliberately LEFT AT DEFAULT
      // (= defaultParallelism): the r15 hypothesis that 32-way leaf splits
      // caused the 32-core scheduling smear measured FALSE — capping leaf
      // partitions at the shuffle width cost the 32-core suite ~5 s
      // (75.2 vs 70.2 s window-paired), because parquet decode is CPU-bound
      // and genuinely uses the extra cores even at sf0.1. The smear lives in
      // the 8-partition shuffle stages' per-task overhead, which IS already
      // data-sized (docs/SCALE.md r15).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // saveAsTable targets (bucketed-layout query) land in a temp warehouse
      .config("spark.sql.warehouse.dir",
        graft.Scratch.dir("graft_wh"))
      // bench-scale session tuning: AQE's per-stage replanning costs
      // ~100 ms × stages × 108 queries at sf0.1 while optimizing nothing at
      // this data size — off for the timed run. The library leaves AQE at its
      // default (on) everywhere else; on a real cluster it is the right call.
      // (The per-pass re-plan of [[passes]] is non-adaptive either way.)
      .config("spark.sql.adaptive.enabled", "false")
      // The compiled-class cache (default 100 entries) is far too small for
      // this run shape: 310 queries × ~3-8 WholeStageCodegen/expression spans
      // each, sampled ROUND-ROBIN, evict each other every pass — every timed
      // pass then pays a full Janino recompile of every span (tens of ms per
      // span) instead of a cache hit. Size it to hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    // Host-condition telemetry (r15 verdict #1): every recorded window drift
    // so far has ended attributed to host state, but nothing in the artifact
    // let a reader separate host condition from tree change after the fact —
    // both r14 spikes and the r15 +5 s cross-window move needed fresh manual
    // windows to adjudicate. Each phase boundary records a wall timestamp and
    // the 1-/5-minute loadavg, so a stall or a concurrently loaded host is
    // visible IN bench_full.json (load1 >> the bench's own core count during
    // a timed pass = contaminated window, discard before comparing).
    val phases = Vector.newBuilder[(String, Long, Double, Double)]
    def loadavg: (Double, Double) =
      try {
        val p = java.nio.file.Files
          .readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")
        (p(0).toDouble, p(1).toDouble)
      } catch { case _: Throwable => (-1.0, -1.0) }
    def mark(p: String): Unit = {
      val (l1, l5) = loadavg
      phases += ((p, System.currentTimeMillis(), l1, l5))
    }
    mark("start")

    // Each pass's plan comes from [[passes]]; the timer covers getting it
    // (re-plan or rebuild), execute() and the drain. execute() must be
    // timed: BroadcastExchange starts its build future at doPrepare, and for
    // the ANN/tfidf family the broadcast side carries real aggregations over
    // the full table (observed: q_ann_ivf "0.43 s" vs 0.83 s with the
    // broadcast legs priced).
    def runPlan(plan: SparkPlan): Unit = Bench.runPlan(sc, plan)
    val names = SparkEntry.queries.keys.toSeq

    // Warmup pass 1 — eager pipelines at the smallest scale factor: compiles
    // the codegen classes + JITs the state-store machinery without paying the
    // full sfDir pipeline cost twice.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.filter(isEager).foreach { n =>
        try runPlan(SparkEntry.queries(n)(spark, warmDir).queryExecution.executedPlan)
        catch { case _: Throwable => () }
      }
    mark("warmup_eager_done")
    // Write-once artifacts, built and TIMED as an explicit separate step
    // before query warmup (advisor r7): the gated ANN/graph/bucketed/export
    // queries amortize these builds by design — production treats them as
    // the nightly index/ingest job — so their cost must be REPORTED, not
    // silently absorbed into warmup, or cross-engine comparisons against a
    // baseline that derives them inline read as inflated speedups.
    //
    // Since r17 the INDEPENDENT builds overlap (guide §2.6 "overlap
    // independent jobs"): a build's straggler tail leaves most cores idle,
    // and 3 builds in flight back-fill it — actions are only sequential
    // because the driver calls them sequentially. The two dependency edges
    // (pq_model trains on pca_iterate's memoized qrel; dedup_ledger's
    // fixpoint reads lsh_bands' signature memo) are explicit Future chains,
    // so a dependent build never starts before its input exists and never
    // charges its wall time with a pool-thread wait. Each build runs under
    // its own thread-local job group ("artifact:<name>"), keeping per-build
    // attribution exact; the bench's census listener only counts "bench:"
    // groups, so artifact jobs never pollute the per-query census. Builders
    // were audited for session-conf mutation (none mutate session state;
    // all memos are ConcurrentHashMap.computeIfAbsent, which serializes
    // concurrent first-calls on the same key).
    val artifactDefs: Seq[(String, Seq[String], () => Unit)] = Seq(
      ("ann_index", Nil, () => graft.functions.Similarity.ensureIndex(spark, sfDir)),
      ("graph_edges", Nil, () => { graft.operators.Graph.orderGraph(spark, sfDir); () }),
      ("affinity_graph", Nil, () => { graft.operators.Graph.affinityGraph(spark, sfDir); () }),
      ("lsh_bands", Nil, () => graft.functions.DedupOps.ensureBands(spark, sfDir)),
      ("dedup_ledger", Seq("lsh_bands"),
        () => { graft.functions.DedupOps.componentLedger(spark, sfDir); () }),
      ("bucketed_layout", Nil, () => { graft.sources.BucketedLayout.ensureTables(spark, sfDir); () }),
      ("packet_archive", Nil, () => { graft.operators.Geo.ensureArchive(spark, sfDir); () }),
      ("format_exports", Nil, () => graft.sources.FormatSources.ensureExports(spark, sfDir)),
      ("pca_iterate", Nil, () => graft.functions.VectorOps.ensurePcaIterate(spark, sfDir)),
      ("pq_model", Seq("pca_iterate"), () => graft.functions.VectorOps.ensurePqModel(spark, sfDir)))
    def runArtifact(n: String, f: () => Unit): (String, Double) = {
      sc.setJobGroup(s"artifact:$n", null)
      val t0 = System.nanoTime()
      // a FAILED build records -1 (the per-query convention), never its
      // time-to-failure — which read exactly like a successful fast build
      // in artifact sums and cross-round comparisons (r14 bench review)
      try { f(); n -> (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact $n failed: ${e.getMessage}")
        n -> -1.0
      } finally sc.clearJobGroup()
    }
    val artPool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val artWall0 = System.nanoTime()
    val artifactSec: Seq[(String, Double)] = try {
      implicit val artEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(artPool)
      val artFutures =
        scala.collection.mutable.Map[String, scala.concurrent.Future[(String, Double)]]()
      artifactDefs.foreach { case (n, deps, f) =>
        // runArtifact never throws (it records -1), so a dependent build
        // still runs after a failed dependency — exactly the sequential
        // behavior (it will recompute or fail on its own and record -1)
        val depF = scala.concurrent.Future.sequence(deps.map(artFutures))
        artFutures(n) = depF.map(_ => runArtifact(n, f))
      }
      artifactDefs.map { case (n, _, _) =>
        scala.concurrent.Await.result(artFutures(n),
          scala.concurrent.duration.Duration.Inf) }
    } finally artPool.shutdown()
    // the deployment-relevant artifact cost once builds overlap is the
    // phase WALL time; the per-build splits keep their per-build meaning
    // (under concurrency they include cpu-sharing inflation, so their sum
    // upper-bounds the old sequential total)
    val artifactsWallSec = (System.nanoTime() - artWall0) / 1e9
    mark("artifacts_done")

    // Warmup pass 2 — lazy queries at the BENCHED dir: prepare each query's
    // passes and run one untimed pass. This warms codegen/JIT on the real
    // data shapes AND triggers the one-time memoized layout writes (bucketed
    // saveAsTable copies, CSV/JSON exports) at sfDir, so timed passes measure
    // the query, never the ingest — at cluster scale those writes are the
    // nightly ingest job, not the query (BucketedLayout scaladoc).
    val builderJobCounter = jobCounter(sc)
    val builderWork = scala.collection.mutable.ArrayBuffer[String]()
    val passesOf: Map[String, Passes] = names.map { n =>
      n -> (try {
        val p = passes(spark, sfDir, n, builderJobCounter)
        if (p.builderWork) builderWork += n
        if (!isEager(n)) runPlan(p.warm())
        p
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup $n fell back to rebuild: ${e.getMessage}")
          rebuildPasses(spark, sfDir, n)
      })
    }.toMap
    if (builderWork.nonEmpty) System.err.println(
      "[bench] builder-work detection reclassified to rebuild mode " +
        s"(${builderWork.size}): ${builderWork.sorted.mkString(", ")}")
    // drop warmup-scale cached relations and collect the warmup garbage now,
    // so timed queries aren't hit by a stop-the-world pause mid-measurement
    spark.catalog.clearCache()
    System.gc()
    mark("warmup_done")

    // Median of 3 runs per query — the same method as the DuckDB baseline
    // (BASELINE.md). Samples are interleaved ROUND-ROBIN across queries
    // (pass 1 of every query, then pass 2, then pass 3), not 3 back-to-back:
    // this host shows occasional multi-second stalls lasting longer than one
    // query, and back-to-back sampling let one stall poison all 3 samples of
    // a single query (r1: q_agg_distinct 12.8 s median for a 2-shuffle agg).
    // Interleaved, a stall inflates ONE sample of several queries and the
    // per-query medians survive it.
    // A failed query reports -1 — a silent near-zero "success" would
    // under-report the total against the baseline with no signal.
    // In-bench job census (r14 verdict #6): docs/SCALE.md's health check — "a
    // NEW name in the ≥0.45 s census without an explanation is the regression
    // signal" — automated, so the driver artifact carries jobs/stages/tasks
    // per slow query and the next round's judge can diff it mechanically.
    // Attribution rides the job group (a thread-local property the timed loop
    // sets per query): onJobStart maps the job's stages to the owning query,
    // onStageCompleted charges them — fully async, so the census adds ZERO
    // waiting to the timed passes (JobCensus's per-query quiesce would cost
    // 316 × 3 × ~180 ms). Broadcast-exchange jobs are attributed too —
    // SQLExecution.withThreadLocalCaptured carries the submitting thread's
    // properties onto the broadcast pool. Streaming queries run their jobs
    // on the query's own microbatch thread (no group) and are excluded, as
    // in JobCensus. Counters are keyed per (query, pass) — the job group id
    // carries the pass number — and reported per-pass over the SUCCESSFUL
    // passes only: a pass that throws mid-query still started jobs, and
    // folding those partial counters into an unconditional /3 would skew the
    // census for intermittently failing queries (advisor r15). Warmup runs
    // set no group and are never counted.
    val censusCounts =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    def censusOf(q: String): Array[Long] =
      censusCounts.computeIfAbsent(q, _ => Array(0L, 0L, 0L))
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = if (j.properties == null) null
          else j.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("bench:")) {
          val q = g.substring(6)
          censusOf(q).synchronized { censusOf(q)(0) += 1 }
          j.stageInfos.foreach(si => stageOwner.put(si.stageId, q))
        }
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val q = stageOwner.get(s.stageInfo.stageId)
        if (q != null) censusOf(q).synchronized {
          censusOf(q)(1) += 1; censusOf(q)(2) += s.stageInfo.numTasks
        }
      }
    })

    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (pass <- 1 to 3) {
    mark(s"pass${pass}_start")
    for (name <- names) {
      sc.setJobGroup(s"bench:$name#$pass", null)
      val t = try {
        val t0 = System.nanoTime()
        runPlan(passesOf(name).next())
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
      samples(name) = samples(name) :+ t
      sc.clearJobGroup()
    }
    mark(s"pass${pass}_done")
    }
    // listener events arrive async on the bus thread: wait until the census
    // counters are stable across two consecutive samples (shared rule)
    quiesceBus(() => {
      var s = 0L
      censusCounts.forEach((_, v) => v.synchronized { s += v(0) + v(1) + v(2) })
      s
    })
    mark("census_quiesced")
    // Locale.ROOT: the f interpolator honors the default locale — a comma
    // decimal separator would corrupt the JSON line the driver captures
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // per-sample detail to stderr so anomalies are diagnosable without
    // growing the driver-captured JSON line (r1's tail was truncated)
    names.foreach { n =>
      System.err.println(
        s"[bench-samples] $n ${samples(n).map(r3).mkString(" ")}")
    }
    val results = names.map { name =>
      val s = samples(name)
      name -> (if (s.exists(_ < 0)) -1.0 else s.sorted.apply(s.size / 2))
    }.toMap
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total sums the successful queries; "failed" makes a regression explicit
    // so a shrunken total can never read as an improvement
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    // one-time artifact builds (index training, graph ingest, bucketed
    // layout, format exports), reported alongside — NOT summed into the
    // per-query total, which prices the amortized production path
    val artJson = artifactSec.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    System.err.println(s"[bench-artifacts] $artJson")
    // Same-window DuckDB pairing (r12 verdict #2): replay the exact oracle
    // set via tools/bench_duckdb.py IMMEDIATELY after the Spark passes, so
    // the round artifact carries BOTH engines' totals from one window and
    // the 2× criterion is verifiable from BENCH_rN alone (previously the
    // pairing lived only in BASELINE.md prose). Sequential on purpose:
    // running DuckDB concurrently with the timed passes would contend for
    // the same cores and poison both sides. 4 threads = the methodology of
    // every recorded BASELINE.md pairing. Best-effort: no python3/duckdb →
    // "duckdb":null, never a bench failure.
    mark("duckdb_start")
    val duckLine: Option[String] = try {
      val tool = java.nio.file.Paths.get(
        sys.props("user.dir"), "tools", "bench_duckdb.py")
      if (!java.nio.file.Files.isRegularFile(tool)) None
      else {
        def jq(v: String): String = "\"" + v.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        val oracleJson = SparkEntry.oracleSql
          .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
        val of = java.nio.file.Files.createTempFile("oracle_sql", ".json")
        of.toFile.deleteOnExit() // one-shot input for the pairing subprocess
        java.nio.file.Files.writeString(of, oracleJson)
        // arg 4: Spark-side FAILED query names — the replay still runs them
        // (full per-query split) but excludes them from its "total", so the
        // headline's value/duckdb_total ratio always compares the SAME query
        // set; a Spark failure previously shrank only the Spark side and the
        // ratio read better the more queries broke (r14 bench review).
        // Threads stay pinned at 4 (the methodology of every recorded
        // pairing); the Spark core count is recorded in the JSON lines.
        val pb = new ProcessBuilder(
          "python3", tool.toString, sfDir, of.toString, "4",
          if (failed.isEmpty) "-" else failed.mkString(","))
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        // watchdog so a wedged interpreter can never hang the driver's round
        val killer = new Thread(() => {
          if (!p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES))
            p.destroyForcibly()
        })
        killer.setDaemon(true); killer.start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        p.waitFor()
        if (p.exitValue() != 0) None
        else out.linesIterator.map(_.trim).find(_.startsWith("{"))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] duckdb pairing skipped: ${e.getMessage}")
      None
    }
    mark("duckdb_done")
    val duckJson = duckLine.getOrElse("null")
    // headline-sized scalar for the driver's 2000-char tail
    val duckTotal = duckLine
      .flatMap(l => "\"total\":\\s*([0-9.]+)".r.findFirstMatchIn(l))
      .map(_.group(1)).getOrElse("null")
    // Spark/DuckDB same-window ratio as a FIRST-CLASS field (r16 verdict
    // #3): raw seconds move with host condition — the r16 round read as
    // "regressed 0.835×" until the DuckDB control (43% slower same-window)
    // was pulled out of the tail by hand. The ratio is the host-invariant
    // comparison metric; emitting it ready-made lets PERF comparisons
    // self-defend against host drift.
    val duckRatio =
      if (duckTotal == "null" || total <= 0) "null"
      else r3(total / duckTotal.toDouble)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // census block: per-pass jobs/stages/tasks for every successful
    // non-streaming query at or above the SCALE.md census threshold (0.45 s)
    // Census membership uses the median over SUCCESSFUL samples, not the
    // headline median: the headline forces -1 on any failed pass (the
    // explicit regression signal — never weaken that), but keying the
    // census off it would make an intermittently failing slow query vanish
    // from the census AND the census_new check entirely, and would leave
    // the per-pass divisor below unreachable (r16 diff review — the
    // advisor-r15 skew fix was dead code under the -1 convention).
    val censusEntries: Seq[(String, String)] = names
      .filterNot(_.startsWith("q_stream_"))
      .flatMap { n =>
        val ok = samples(n).filter(_ >= 0)
        val med = if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.size / 2)
        if (med < 0.45) None
        else {
          // sum only the passes whose timed sample succeeded, divide by
          // that count — never by an unconditional 3 (advisor r15; see
          // listener note)
          val okCs = samples(n).zipWithIndex
            .collect { case (s, i) if s >= 0 => i + 1 }
            .flatMap(p => Option(censusCounts.get(s"$n#$p")))
            .map(c => c.synchronized(c.clone()))
          if (okCs.isEmpty) None
          else {
            val d = okCs.size.toDouble
            Some((med, n, "\"" + n + "\":{\"jobs\":" + r3(okCs.map(_(0)).sum / d) +
              ",\"stages\":" + r3(okCs.map(_(1)).sum / d) +
              ",\"tasks\":" + r3(okCs.map(_(2)).sum / d) + "}"))
          }
        }
      }
      .sortBy(-_._1).map(t => (t._2, t._3))
    val censusJson = censusEntries.map(_._2).mkString("{", ",", "}")
    // Automated census health check (r15 verdict #6): the committed rule —
    // "a NEW name in the ≥0.45 s census without an explanation is the
    // regression signal" — was judge-executed until now. Diff the live
    // census name-set against docs/census_allowlist.txt (each allowed name
    // carries a SCALE.md explanation pointer) and surface the newcomers in
    // the artifact itself; CensusAllowlistSpec gates the committed artifact
    // in `sbt test`. Window jitter moves borderline names across the 0.45 s
    // threshold, so the allowlist is the union of explained names, not one
    // window's snapshot.
    val censusNewJson: String = {
      val path = java.nio.file.Paths.get(
        sys.props("user.dir"), "docs", "census_allowlist.txt")
      if (!java.nio.file.Files.isRegularFile(path)) "null"
      else {
        import scala.jdk.CollectionConverters._
        val allowed = java.nio.file.Files.readAllLines(path).asScala
          .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSet
        val newcomers = censusEntries.map(_._1).filterNot(allowed)
        if (newcomers.nonEmpty) System.err.println(
          "[bench] census NEW names (unexplained = the regression signal; " +
            "explain in docs/SCALE.md, then allowlist): " +
            newcomers.mkString(", "))
        newcomers.map("\"" + _ + "\"").mkString("[", ",", "]")
      }
    }
    // host block: phase boundaries with wall time + 1/5-min loadavg — the
    // window-contamination evidence the drift rule needs (see `mark` above)
    val hostJson = phases.result().map { case (p, t, l1, l5) =>
      s"""{"p":"$p","t_ms":$t,"load1":${r3(l1)},"load5":${r3(l5)}}"""
    }.mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"artifacts":$artJson,""" +
        s""""artifacts_wall":${r3(artifactsWallSec)},""" +
        s""""duckdb":$duckJson,"duckdb_ratio":$duckRatio,""" +
        s""""builder_work":${builderWork.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""census":$censusJson,"census_new":$censusNewJson,""" +
        s""""host":$hostJson,""" +
        s""""cpus":$cpus,"sf":"$sfDir"}"""
    // The driver archives only a ~2000-char TAIL of this output and parses a
    // JSON line out of it; the full per-query line outgrew that window in
    // round 2 (parsed: null). Emit, in order:
    //   1. the full contract line (complete consumers parse everything),
    //   2. a full copy on disk (survives in the repo via the round-end commit),
    //   3. LAST — after spark.stop() has returned, so no shutdown stack trace
    //      (round 4: a netty-RPC trace flooded the 2000-char tail → parsed
    //      null) can land after it — a compact headline whose "queries" dict
    //      carries the slowest 15 (the ones a grader compares), plus the
    //      failed list and a pointer to the on-disk full copy.
    println(fullLine)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.props("user.dir"), "bench_full.json"), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] full-copy write failed: $e") }
    val top = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // artifacts_total in the PARSED headline (r13 verdict #7): the driver
    // artifact alone now shows queries + artifacts + duckdb from one window.
    // Since r17 (parallel builds) artifacts_total is the phase WALL time;
    // artifacts_serial_sum keeps the old sum-of-splits meaning for
    // cross-round comparison (declared in OPTIMIZATION_r17.md).
    val artTotal = artifactSec.map(_._2).filter(_ >= 0).sum
    val headline =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$top,""" +
        s""""n_queries":${results.size},"failed":$failedJson,""" +
        s""""duckdb_total":$duckTotal,"duckdb_ratio":$duckRatio,""" +
        s""""artifacts_total":${r3(artifactsWallSec)},""" +
        s""""artifacts_serial_sum":${r3(artTotal)},""" +
        s""""n_artifacts":${artifactSec.size},""" +
        s""""cpus":$cpus,""" +
        s""""note":"queries holds slowest 15 of ${results.size}; duckdb_total is the same-window 4-thread oracle replay over the non-failed query set; duckdb_ratio = value/duckdb_total (host-invariant); artifacts_total is the WALL of the ${artifactSec.size} write-once builds (3 in flight since r17), artifacts_serial_sum the per-build sum, failures as -1 (splits in bench_full.json)","sf":"$sfDir"}"""
    // silence Spark's shutdown chatter (rpc/netty teardown logs at ERROR),
    // stop the session, and only THEN print the headline: nothing can be
    // written after it before the JVM exits.
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(headline)
    System.out.flush()
    System.exit(0)
  }
}
