package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** The benchmark's JVM side. It drives the program only through the entry
  * points a user calls — the `SparkEntry` registry (plus the write-once
  * artifact builders the registry's queries read) for `analytics`, and
  * `PacketCollector.source`/`pipeline` with the sink `PacketCollector.main`
  * configures for `ingest` — and writes one result JSON file that
  * `perfbench/run.py` checks and reduces to metrics.
  *
  * Usage: Runner <analytics|ingest|list> --key value ...  (`run.py` passes
  * the keys; `list` prints every registered query with its module) */
object Runner {
  def main(args: Array[String]): Unit = {
    val o = Opts(args.toSeq.tail)
    args.head match {
      case "analytics" => Analytics.run(o)
      case "ingest" => Ingest.run(o)
      case "list" => Analytics.modules.foreach { case (m, qs) =>
        qs.foreach(q => println(s"${q.name}\t$m")) }
      case m => sys.error(s"unknown mode $m")
    }
  }
}

final case class Opts(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def get(k: String): Option[String] = kv.get(k)
}
object Opts {
  def apply(a: Seq[String]): Opts =
    Opts(a.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap)
}

/** Minimal JSON writer (the runner has no JSON library of its own). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(v: Iterable[String]): String = v.mkString("[", ",", "]")
}

/** Clock and process helpers shared by both modes. */
object Host {
  /** JVM start in epoch ms: set-up time is measured from here. */
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  /** Progress line on stderr (the runner's log). */
  def mark(what: String): Unit = System.err.println(f"[runner $sinceJvmStart%7.2fs] $what")
  /** Peak resident set of this process in MB (VmHWM), -1 where unreadable. */
  def peakRssMb: Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
  /** Heap in use after a full collection: what the process retains. */
  def retainedHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))
  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
}

/** Spans and per-layer counters of a traced run. Spans live in memory and
  * are written once at exit. Jobs and stages come from a SparkListener and
  * are attached to the operation span named by the job's `perfbench.key`
  * local property (analytics) or by its streaming run id and batch id
  * (ingest). Nothing here is installed in an untraced run. */
final case class Span(id: Int, parentKey: String, key: String, kind: String,
    name: String, startNs: Long, endNs: Long)

final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def span(parentKey: String, key: String, kind: String, name: String,
      startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parentKey, key, kind, name, startNs, endNs))

  /** Counters summed over the jobs started while `timed` is set. */
  @volatile var timed = false
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)

  /** Queries whose registry call itself launched Spark jobs. */
  val builderWork = ConcurrentHashMap.newKeySet[String]().asScala

  /** Maps a streaming run id to the key prefix of its batches. */
  val streamKeys = new ConcurrentHashMap[String, String]()

  def install(spark: SparkSession): Unit = if (on) {
    val jobKey = new ConcurrentHashMap[Int, String]()
    val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val timedStages = ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        val key =
          if (p == null) "unattributed"
          else Option(p.getProperty("perfbench.key")).getOrElse {
            val run = Option(p.getProperty("spark.jobGroup.id")).flatMap(g => Option(streamKeys.get(g)))
            val batch = Option(p.getProperty("streaming.sql.batchId"))
            (run, batch) match {
              case (Some(r), Some(b)) => s"$r:$b"
              case _ => "unattributed"
            }
          }
        jobKey.put(j.jobId, key)
        if (key.startsWith("q:") && key.endsWith(":build")) {
          builderWork.add(key.split(":")(1))
          if (timed) add("builder_jobs", 1)
        }
        jobStart.put(j.jobId, j.time)
        j.stageInfos.foreach(s => stageJob.put(s.stageId, j.jobId))
        if (timed) {
          add("jobs", 1)
          j.stageInfos.foreach(s => timedStages.add(s.stageId))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = Option(jobStart.get(j.jobId)).map(_.longValue).getOrElse(j.time)
        span(Option(jobKey.get(j.jobId)).getOrElse("unattributed"), s"job:${j.jobId}",
          "job", s"job ${j.jobId}", msToNs(st), msToNs(j.time))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val job = Option(stageJob.get(i.stageId)).map(_.toString).getOrElse("?")
        for (a <- i.submissionTime; b <- i.completionTime)
          span(s"job:$job", s"stage:${i.stageId}.${i.attemptNumber()}", "stage",
            s"stage ${i.stageId} (${i.numTasks} tasks)", msToNs(a), msToNs(b))
        if (timedStages.contains(i.stageId)) add("stages", 1)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (timedStages.contains(t.stageId) && t.taskMetrics != null) {
          val m = t.taskMetrics
          add("tasks", 1)
          add("task_run_s", m.executorRunTime / 1e3)
          add("task_cpu_s", m.executorCpuTime / 1e9)
          add("gc_s", m.jvmGCTime / 1e3)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
    })
  }

  /** Drain the listener bus, then write every span with its self time:
    * its duration minus the part of it that its children cover (parallel
    * children overlap, so their intervals are merged first). */
  def write(spark: SparkSession, path: String): Unit = if (on) {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val all = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
    val children = all.groupBy(_.parentKey)
    def covered(p: Span): Long = {
      val iv = (if (p.key.isEmpty) Nil else children.getOrElse(p.key, Nil))
        .map(c => (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L; var from = 0L; var to = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > to) { if (to > from) total += to - from; from = a; to = b }
        else to = math.max(to, b)
      }
      if (to > from) total + (to - from) else total
    }
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val rows = all.map { s =>
      val d = s.endNs - s.startNs
      Json.obj(Seq(
        "id" -> s.id.toString, "key" -> Json.str(s.key), "parent" -> Json.str(s.parentKey),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "dur_ms" -> Json.num(d / 1e6),
        "self_ms" -> Json.num((d - covered(s)) / 1e6)))
    }
    Host.write(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** `analytics`: the registered queries, each re-planned on every pass. */
object Analytics {
  /** The registry's modules, in `SparkEntry.registry` order. */
  def modules: Seq[(String, Seq[graft.GraftQuery])] = {
    import graft._
    Seq(
      "Scans" -> operators.Scans.all, "Joins" -> operators.Joins.all,
      "Aggregates" -> operators.Aggregates.all, "Windows" -> operators.Windows.all,
      "SortsSets" -> operators.SortsSets.all, "Scalars" -> functions.Scalars.all,
      "TimeSeries" -> operators.TimeSeries.all, "Geo" -> operators.Geo.all,
      "Graph" -> operators.Graph.all, "RankStats" -> operators.RankStats.all,
      "SeriesDecomp" -> operators.SeriesDecomp.all, "QualityOps" -> operators.QualityOps.all,
      "Warehouse" -> operators.Warehouse.all, "TextOps" -> functions.TextOps.all,
      "VectorOps" -> functions.VectorOps.all, "DedupOps" -> functions.DedupOps.all,
      "TextAnalysis" -> functions.TextAnalysis.all, "PipelineOps" -> functions.PipelineOps.all,
      "Similarity" -> functions.Similarity.all, "Multimodal" -> functions.Multimodal.all,
      "VectorAggregates" -> functions.VectorAggregates.all,
      "SketchAggregates" -> functions.SketchAggregates.all,
      "TypedOps" -> functions.TypedOps.all, "FormatSources" -> sources.FormatSources.all,
      "BucketedLayout" -> sources.BucketedLayout.all,
      "StreamQueries" -> streaming.StreamQueries.all)
  }

  /** The ten write-once artifacts the registry's queries read, with the
    * builds each one depends on. */
  def artifacts(spark: SparkSession, dir: String): Seq[(String, Seq[String], () => Unit)] = {
    import graft._
    Seq(
      ("ann_index", Nil, () => functions.Similarity.ensureIndex(spark, dir)),
      ("graph_edges", Nil, () => { operators.Graph.orderGraph(spark, dir); () }),
      ("affinity_graph", Nil, () => { operators.Graph.affinityGraph(spark, dir); () }),
      ("lsh_bands", Nil, () => functions.DedupOps.ensureBands(spark, dir)),
      ("dedup_ledger", Seq("lsh_bands"), () => { functions.DedupOps.componentLedger(spark, dir); () }),
      ("bucketed_layout", Nil, () => { sources.BucketedLayout.ensureTables(spark, dir); () }),
      ("packet_archive", Nil, () => { operators.Geo.ensureArchive(spark, dir); () }),
      ("format_exports", Nil, () => sources.FormatSources.ensureExports(spark, dir)),
      ("pca_iterate", Nil, () => functions.VectorOps.ensurePcaIterate(spark, dir)),
      ("pq_model", Seq("pca_iterate"), () => functions.VectorOps.ensurePqModel(spark, dir)))
  }

  /** Build the `wanted` artifacts (with the builds they depend on) one
    * after another, in table order. Returns (name, seconds, error) per
    * build; an unknown name is an error. */
  def buildArtifacts(spark: SparkSession, dir: String, wanted: Seq[String],
      tracer: Tracer): Seq[(String, Double, String)] = {
    val defs = artifacts(spark, dir)
    val unknown = wanted.filterNot(w => defs.exists(_._1 == w))
    def closure(n: String): Seq[String] =
      defs.find(_._1 == n).toSeq.flatMap(_._2.flatMap(closure)) :+ n
    val needed = wanted.flatMap(closure).toSet
    defs.filter(d => needed(d._1)).map { case (n, _, f) =>
      spark.sparkContext.setLocalProperty("perfbench.key", s"artifact:$n")
      val t0 = System.nanoTime()
      val err = try { f(); "" } catch {
        case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val t1 = System.nanoTime()
      spark.sparkContext.setLocalProperty("perfbench.key", null)
      tracer.span("phase:setup", s"artifact:$n", "artifact", n, t0, t1)
      (n, (t1 - t0) / 1e9, err)
    } ++ unknown.map(n => (n, 0.0, s"unknown artifact $n"))
  }

  def session(o: Opts, work: String): SparkSession = {
    val n = o.int("cores")
    val b = SparkSession.builder().master(s"local[$n]").appName("perfbench-analytics")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the settings every recorded bench window used; "default" keeps Spark's
    if (o.get("session").contains("default")) b.getOrCreate()
    else b.config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", math.min(math.max(4, n), 8).toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
  }

  final case class Op(name: String, pass: Int, buildS: Double, planS: Double,
      execS: Double, rows: Long, error: String)

  /** The timed sample and the value-compared names. The sample is the
    * `--sample` file's names (`#` starts a comment line; `artifact:` lines
    * name builds), in registry order; the value-compared names are a
    * `--seed`-chosen subset of it. */
  def sample(o: Opts, registered: collection.Set[String]): (Seq[String], Seq[String]) = {
    val listed = Host.lines(o("sample")).filterNot(l => l.startsWith("#") || l.contains(":"))
    val order = modules.flatMap(_._2.map(_.name)).zipWithIndex.toMap
    val names = listed.distinct.sortBy(n => order.getOrElse(n, -1))
    val values = new scala.util.Random(o("seed").toLong)
      .shuffle(names.filter(registered)).take(o.int("values"))
    (names, values)
  }

  def run(o: Opts): Unit = {
    val work = o("work")
    val dir = o("data")
    val tracer = new Tracer(o("trace") == "1")
    Host.mark("analytics: main")
    val spark = session(o, work)
    Host.mark("session up")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    val sc = spark.sparkContext
    val runStart = System.nanoTime()

    val registry = graft.SparkEntry.queries
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val (names, valueNames) = sample(o, registry.keySet)

    val setupStart = System.nanoTime()
    // set-up: the write-once artifact builds the sample reads, on their own
    // thread, overlapped with the warm-up pass (a query that reads an
    // artifact waits on the artifact's memo until its build is done)
    val wanted = Host.lines(o("sample")).filter(_.startsWith("artifact:")).map(_.stripPrefix("artifact:"))
    val artifactF = {
      implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
      scala.concurrent.Future(buildArtifacts(spark, dir, wanted, tracer))
    }

    def drain(it: Iterator[InternalRow]): Long = {
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
    }
    def once(name: String, pass: Int, phaseKey: String): Op = {
      val key = s"q:$name:$pass"
      def phase[T](p: String, t0: Long)(f: => T): (T, Long) = {
        sc.setLocalProperty("perfbench.key", s"$key:$p")
        val r = f
        val t1 = System.nanoTime()
        tracer.span(key, s"$key:$p", "step", p, t0, t1)
        (r, t1)
      }
      val t0 = System.nanoTime()
      var tb = t0; var tp = t0; var te = t0
      var rows = -1L
      val err = try {
        val fn = registry.getOrElse(name, sys.error(s"$name is not registered"))
        val (df, t1) = phase("build", t0)(fn(spark, dir)); tb = t1
        val (plan, t2) = phase("plan", t1)(df.queryExecution.executedPlan); tp = t2
        val (n, t3) = phase("execute", t2)(sc.runJob(plan.execute(), drain _).sum); te = t3
        rows = n
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      finally sc.setLocalProperty("perfbench.key", null)
      val end = System.nanoTime()
      tracer.span(phaseKey, key, "query", name, t0, end)
      if (err.nonEmpty) Op(name, pass, 0, 0, (end - t0) / 1e9, -1, err)
      else Op(name, pass, (tb - t0) / 1e9, (tp - tb) / 1e9, (te - tp) / 1e9, rows, "")
    }

    // warm-up: one untimed pass, so the timed pass runs compiled code
    val warmStart = System.nanoTime()
    val warmOps = names.map(n => once(n, 0, "phase:warmup"))
    tracer.span("run", "phase:warmup", "phase", "warm-up", warmStart, System.nanoTime())

    val artifactS = scala.concurrent.Await.result(artifactF, scala.concurrent.duration.Duration.Inf)
    tracer.span("run", "phase:setup", "phase", "setup (artifact builds)", setupStart,
      setupStart + (artifactS.map(_._2).sum * 1e9).toLong)
    // timed: whole passes until --seconds have elapsed
    val setupS = Host.sinceJvmStart
    Host.mark(s"warm-up and ${artifactS.size} artifact build(s) done")
    val seconds = o("seconds").toDouble
    val ops = mutable.ArrayBuffer[Op]()
    val timedStart = System.nanoTime()
    tracer.timed = true
    var pass = 0
    while (pass == 0 || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      pass += 1
      names.foreach(n => ops += once(n, pass, "phase:timed"))
    }
    tracer.timed = false
    val timedS = (System.nanoTime() - timedStart) / 1e9
    Host.mark(s"timed phase done: $pass pass(es)")
    tracer.span("run", "phase:timed", "phase", "timed", timedStart, System.nanoTime())
    val peak = Host.peakRssMb
    val retained = Host.retainedHeapMb

    // answers of the value-compared queries, written after the timed phase
    val valueDir = s"$work/values"
    val valueErr = valueNames.map { n =>
      n -> (try {
        registry(n)(spark, dir).write.mode("overwrite").parquet(s"$valueDir/$n"); ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" })
    }
    val oracle = graft.SparkEntry.oracleSql
    tracer.span("", "run", "run", "analytics", runStart, System.nanoTime())
    tracer.write(spark, s"$work/spans.json")

    def opJson(q: Op): String = Json.obj(Seq(
      "name" -> Json.str(q.name), "pass" -> q.pass.toString,
      "module" -> Json.str(moduleOf.getOrElse(q.name, "?")),
      "build_s" -> Json.num(q.buildS), "plan_s" -> Json.num(q.planS),
      "exec_s" -> Json.num(q.execS), "rows" -> q.rows.toString, "error" -> Json.str(q.error)))
    Host.write(s"$work/result.json", Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peak),
      "heap_retained_mb" -> Json.num(retained),
      "timed_s" -> Json.num(timedS),
      "passes" -> pass.toString,
      "artifacts" -> Json.arr(artifactS.map { case (n, s, e) =>
        Json.obj(Seq("name" -> Json.str(n), "s" -> Json.num(s), "error" -> Json.str(e))) }),
      "warmup" -> Json.arr(warmOps.map(opJson)),
      "ops" -> Json.arr(ops.map(opJson)),
      "oracle" -> Json.obj(names.distinct.flatMap(n => oracle.get(n).map(s => n -> Json.str(s)))),
      "builder_work" -> Json.arr(tracer.builderWork.toSeq.sorted.map(Json.str)),
      "value_errors" -> Json.obj(valueErr.map { case (n, e) => n -> Json.str(e) }),
      "counters" -> Json.obj(tracer.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v.doubleValue) }))))
    Host.mark("result written")
    spark.stop()
  }
}

/** `ingest`: the collector over a drop directory, fed one staged file per
  * micro-batch by one feeder thread (this one), back to back. One query
  * runs for the whole run: the warm-up files first, then timed rounds,
  * each round feeding every staged file once under a new name. */
object Ingest {
  final case class Batch(round: Int, batchId: Long, rows: Long,
      durations: Map[String, Long], inputRate: Double, processedRate: Double)

  def txtFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".txt")).toSeq.sortBy(_.getFileName.toString)

  def run(o: Opts): Unit = {
    val work = o("work")
    val tracer = new Tracer(o("trace") == "1")
    val n = o.int("cores")
    Host.mark("ingest: main")
    // the session PacketCollector.main builds: Spark defaults plus UTC
    val spark = SparkSession.builder().master(s"local[$n]")
      .appName("graft-packet-collector")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    val runStart = System.nanoTime()

    val progress = new LinkedBlockingQueue[StreamingQueryListener.QueryProgressEvent]()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    // the sink PacketCollector.main configures, with back-to-back triggers
    // in place of its 10 s processing-time trigger
    val in = Paths.get(work, "in"); Files.createDirectories(in)
    val queryStart = System.nanoTime()
    val q = graft.streaming.PacketCollector.pipeline(
        graft.streaming.PacketCollector.source(spark, in.toString, None))
      .repartition(col("station_bucket"))
      .writeStream
      .format("parquet")
      .option("path", s"$work/sink")
      .option("checkpointLocation", s"$work/checkpoint")
      .partitionBy("station_bucket")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    tracer.streamKeys.put(q.runId.toString, "batch")
    var err = ""

    /** Feed `files` one at a time, each under `prefix`, waiting for each
      * one's commit. Returns the committed batches and the time of the last
      * commit. */
    def feed(r: Int, prefix: String, files: Seq[Path], phaseKey: String): (Seq[Batch], Long) = {
      val out = mutable.ArrayBuffer[Batch]()
      var lastCommit = System.nanoTime()
      val it = files.iterator
      while (it.hasNext && err.isEmpty) {
        val f = it.next()
        Files.createLink(in.resolve(prefix + f.getFileName), f)
        var e: StreamingQueryListener.QueryProgressEvent = null
        while (e == null && err.isEmpty) {
          e = progress.poll(100, TimeUnit.MILLISECONDS)
          if (e == null && !q.isActive)
            err = q.exception.map(_.toString).getOrElse("query stopped")
        }
        if (e != null) {
          lastCommit = System.nanoTime()
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          out += Batch(r, p.batchId, p.numInputRows, d, p.inputRowsPerSecond,
            p.processedRowsPerSecond)
          val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
          val key = s"batch:${p.batchId}"
          tracer.span(phaseKey, key, "batch", s"batch ${p.batchId}", tracer.msToNs(startMs),
            tracer.msToNs(startMs + d.getOrElse("triggerExecution", 0L)))
          // the durationMs parts, laid end to end in the order the engine
          // runs them (progress reports their lengths, not their starts)
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            .foldLeft(startMs) { (at, k) =>
              val v = d.getOrElse(k, 0L)
              tracer.span(key, "", "duration", k, tracer.msToNs(at), tracer.msToNs(at + v))
              at + v
            }
        }
      }
      (out.toSeq, lastCommit)
    }

    tracer.span("run", "phase:setup", "phase", "setup", runStart, System.nanoTime())
    val warmStart = System.nanoTime()
    val (warm, warmEnd) = feed(0, "warm-", o.get("warmup").map(txtFiles).getOrElse(Nil), "phase:warmup")
    tracer.span("run", "phase:warmup", "phase", "warm-up", warmStart, System.nanoTime())

    val setupS = Host.sinceJvmStart
    Host.mark("warm-up done")
    val staged = txtFiles(o("staging"))
    val seconds = o("seconds").toDouble
    val timedStart = System.nanoTime()
    tracer.timed = true
    val batches = mutable.ArrayBuffer[Batch]()
    var lastCommit = timedStart
    var r = 0
    while (err.isEmpty && (r == 0 || (System.nanoTime() - timedStart) / 1e9 < seconds)) {
      r += 1
      val (b, t) = feed(r, s"r$r-", staged, "phase:timed")
      batches ++= b
      lastCommit = t
    }
    tracer.timed = false
    val timedS = (System.nanoTime() - timedStart) / 1e9
    Host.mark(s"timed phase done: $r round(s)")
    tracer.span("run", "phase:timed", "phase", "timed", timedStart, System.nanoTime())
    q.stop()
    val peak = Host.peakRssMb
    val retained = Host.retainedHeapMb

    // parse layer on its own (traced runs only): the TNC2 parse over the
    // staged replay, drained with no sink
    val parse = if (!tracer.on) Seq.empty else {
      val lines = spark.read.text(staged.map(_.toString): _*).withColumnRenamed("value", "raw")
      val parsed = graft.streaming.PacketParse.parse(lines)
      spark.sparkContext.setLocalProperty("perfbench.key", "parse")
      val t0 = System.nanoTime()
      val plan = parsed.queryExecution.executedPlan
      spark.sparkContext.runJob(plan.execute(), (it: Iterator[InternalRow]) => {
        var k = 0L; while (it.hasNext) { it.next(); k += 1 }; k })
      val parseS = (System.nanoTime() - t0) / 1e9
      tracer.span("run", "parse", "parse", "PacketParse.parse", t0, System.nanoTime())
      val total = parsed.count().toDouble
      val typed = parsed.filter(col("packet_type") =!= "other").count().toDouble
      Seq("parse_s" -> Json.num(parseS), "parsed_ratio" -> Json.num(typed / total))
    }
    tracer.span("", "run", "run", "ingest", runStart, System.nanoTime())
    tracer.write(spark, s"$work/spans.json")

    def batchJson(x: Batch): String = Json.obj(Seq(
      "round" -> x.round.toString, "batch_id" -> x.batchId.toString, "rows" -> x.rows.toString,
      "input_rate" -> Json.num(x.inputRate), "processed_rate" -> Json.num(x.processedRate),
      "duration_ms" -> Json.obj(x.durations.toSeq.sorted.map { case (k, v) => k -> v.toString })))
    Host.write(s"$work/result.json", Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peak),
      "heap_retained_mb" -> Json.num(retained),
      "timed_s" -> Json.num(timedS),
      "rounds" -> r.toString,
      "commit_s" -> Json.num((lastCommit - warmEnd) / 1e9),
      "query_start_to_warm_commit_s" -> Json.num((warmEnd - queryStart) / 1e9),
      "error" -> Json.str(err),
      "sink" -> Json.str(s"$work/sink"),
      "warmup" -> Json.arr(warm.map(batchJson)),
      "batches" -> Json.arr(batches.map(batchJson)),
      "parse" -> Json.obj(parse),
      "counters" -> Json.obj(tracer.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v.doubleValue) }))))
    Host.mark("result written")
    spark.stop()
  }
}
