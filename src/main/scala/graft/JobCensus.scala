package graft

/** Floor-profiling probe (not part of the contract): per-query job/stage/task
  * census under the exact Bench execution scheme — each pass prepared by
  * [[Bench.passes]] (re-planned from the optimized plan, or the builder
  * re-invoked when it does the work) and timed the way Bench times it, under
  * the same session config ([[Bench.buildSession]]; local[32] only when
  * CENSUS-specific SPARK_GRAFT_CPUS asks for it). The per-query "floor" is
  * scheduling overhead × jobs/stages — a query running 4+ sequential jobs
  * pays ~4× the ~80 ms/job local floor, so this census ranks the
  * floor-reduction targets the round-11 verdict asked for. Usage:
  * CENSUS_QUERIES="q_a,q_b" or default = every non-streaming query slower
  * than CENSUS_MIN (default 0.45 s) in bench_full.json.
  *
  * Each query runs one untimed warm-up pass, then one counted pass. Listener
  * counters are read only after the bus quiesces (count stable across two
  * samples), not after a fixed sleep — events arrive asynchronously on the
  * listener-bus thread.
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val names: Seq[String] = sys.env.get("CENSUS_QUERIES") match {
      case Some(qs) => qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        val minSec = sys.env.getOrElse("CENSUS_MIN", "0.45").toDouble
        val txt = scala.io.Source.fromFile("bench_full.json").mkString
        val re = """"(q_[a-z0-9_]+)":([0-9.]+)""".r
        re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (n, v) => v >= minSec && !n.startsWith("q_stream_") }
          .toSeq.sortBy(-_._2).map(_._1).distinct
    }

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks
      }
    })
    // wait until the async listener bus stops delivering: the counter
    // triple is unchanged across two consecutive 60 ms samples — the ONE
    // quiesce rule shared with the in-bench census (Bench.quiesceBus),
    // which also bounds the wait (the old local copy could spin forever
    // on a counter that never settled)
    def quiesce(): Unit = Bench.quiesceBus(() => (jobs, stages, tasks))

    val builderJobs = Bench.jobCounter(sc)
    val rows = names.flatMap { n =>
      try {
        val p = Bench.passes(spark, sfDir, n, builderJobs)
        Bench.runPlan(sc, p.warm())
        quiesce()
        jobs = 0; stages = 0; tasks = 0
        val t0 = System.nanoTime()
        Bench.runPlan(sc, p.next())
        val sec = (System.nanoTime() - t0) / 1e9
        quiesce()
        Some((n, sec, jobs, stages, tasks))
      } catch {
        case e: Throwable =>
          System.err.println(s"[census] $n failed: ${e.getMessage}"); None
      }
    }
    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s")
    rows.sortBy(-_._2).foreach { case (n, s, j, st, t) =>
      println(f"$n%-28s $s%7.3f $j%5d $st%7d $t%6d")
    }
    spark.stop()
  }
}
