package graft

import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Spill-path gate (r14 verdict #3): the 100 TB posture leans on Spark's
  * memory-pressure fallbacks — HashAggregate's sort-based fallback and the
  * window/session/SMJ buffer spill to UnsafeExternalSorter — but until this
  * spec no test ever FORCED those paths and proved the results bit-identical.
  * Memory pressure itself can't be manufactured in the shared test JVM
  * (executor memory is fixed at context start), so this uses the
  * session-settable knobs Spark ships for exactly this purpose:
  *  - `spark.sql.TungstenAggregate.testFallbackStartsAt` = "F,N" — the hash
  *    agg's own test hook. Its generated counter counts INPUT ROWS since the
  *    last fallback, not keys: after F rows the fast hash map hands off to
  *    the BytesToBytesMap, and after N rows the map "fails", destructs into
  *    an UnsafeKVExternalSorter spill file, and the counter resets. At the
  *    end the task merges every spill file and finishes sort-based — the
  *    code path a 100 TB aggregation takes when the map exceeds task memory.
  *    N is bounded on both sides. Each spill file the final merge holds
  *    open costs two 1 MiB heap read-ahead buffers
  *    (`spark.unsafe.sorter.spill.reader.buffer.size`: default and minimum),
  *    and a task writes (its input rows / N) files. N = 2 made each of
  *    q_hist_equidepth's 4 concurrent ~1,500-row tasks hold ~750 files open
  *    (≈1.5 GiB heap per task; ~5,760 files over the query), and the test
  *    JVM died of an OOM at 7g. At N = 64, q_agg_tpch_q1's one ~2,600-row
  *    task holds ≈41 files (≈82 MiB) and q_hist_equidepth ≈24 files per
  *    task (≈190 MiB over 4 tasks).
  *    N must also stay below the smallest per-task input of the hash-agg
  *    family (documents: 500 rows at sf0.001), so that every query named
  *    below still falls back several times and merges several spill files.
  *  - `spark.sql.windowExec.buffer.{in.memory,spill}.threshold` — window
  *    partition buffers move to UnsafeExternalSorter after N rows and
  *    FORCE a disk spill after M — the real spill-file write+readback.
  *  - `spark.sql.sessionWindow.buffer.*` — the native batch session_window
  *    merge buffer takes the same sorter path (q_ts_session_native).
  *  - `spark.sql.sortMergeJoinExec.buffer.*` + broadcast disabled — the
  *    SMJ buffered-match array takes the same spill path.
  * Assertions are PER KNOB FAMILY, not aggregated across all queries: with
  * one global `fellBack > 0` + `diskSpilled > 0`, a single query tripping the
  * hash-agg fallback plus one SMJ spill satisfied every assert, so an
  * individual knob silently regressing to a no-op (say the sessionWindow
  * thresholds) went undetected while the test still passed (advisor r15).
  * Each family below names the queries that must exercise ITS knob, and the
  * per-query spill delta is read between listener quiesces.
  * Equality is legal to demand bitwise: every gated query already
  * hash-matches the oracle at 4 and 32 threads (the partitioning probe),
  * i.e. the contract queries are accumulation-order-insensitive by design
  * (exact decimal sums, tie-broken window frames), and the fallback only
  * reorders accumulation. */
class SpillSpec extends SparkSuite {

  private val spillConfs = Seq(
    // input rows since the last fallback, not keys: hand off to the
    // BytesToBytesMap after 2, spill it every 64 (N's bounds: scaladoc)
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "2,64",
    // ObjectHashAggregate (TypedImperativeAggregate buffers: sketches,
    // collect_set) falls back to sort-based after 2 in-memory keys
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
    // thresholds sized to the sf0.001 fixture's PER-PARTITION row counts
    // (user_id window partitions run ~5-30 rows): 8/32 never tripped for
    // q_win_running_sum alone — exactly the silent no-op the per-family
    // asserts below exist to catch
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.windowExec.buffer.spill.threshold" -> "4",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "2",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "4",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "2",
    // no broadcast escape hatch: the join legs must take the sort/SMJ path
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    // a concrete final plan, so the fallback metrics are readable per node
    "spark.sql.adaptive.enabled" -> "false")

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // knob family -> the queries that must exercise it. hash-agg/object-hash
  // families assert the plan's own numTasksFallBacked metric per query; the
  // sorter-buffer families assert a per-query diskBytesSpilled delta (the
  // spill-file write is the observable of those knobs).
  private val hashAggQueries =
    Seq("q_agg_tpch_q1", "q_agg_distinct", "q_dedup_exact")
  private val objectHashQueries = Seq("q_agg_approx_quantile")
  private val windowSpillQueries = Seq("q_win_running_sum", "q_hist_equidepth")
  private val sessionSpillQueries = Seq("q_ts_session_native")
  private val smjSpillQueries = Seq("q_join_large", "q_join_multiway")
  private val queries = (hashAggQueries ++ objectHashQueries ++
    windowSpillQueries ++ sessionSpillQueries ++ smjSpillQueries).distinct

  test("forced spill/fallback paths produce bit-identical results, per knob") {
    @volatile var diskSpilled = 0L
    @volatile var memSpilled = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          diskSpilled += t.taskMetrics.diskBytesSpilled
          memSpilled += t.taskMetrics.memoryBytesSpilled
        }
    }
    // task-metric events arrive async on the bus thread: per-query deltas
    // are only attributable between quiesces (Bench's shared stable-twice
    // rule), never after a fixed sleep
    def quiesce(): Unit = Bench.quiesceBus(() => (diskSpilled, memSpilled))
    val baselines = queries.map(n => n -> run(n).collect().toSeq).toMap
    spark.sparkContext.addSparkListener(listener)
    try {
      val fellBack = scala.collection.mutable.Map[String, Long]()
      val diskDelta = scala.collection.mutable.Map[String, Long]()
      withConfs(spillConfs) {
        queries.foreach { n =>
          quiesce()
          val d0 = diskSpilled
          val df = run(n)
          val got = df.collect().toSeq
          assert(got == baselines(n),
            s"$n diverged under forced spill/fallback")
          fellBack(n) = df.queryExecution.executedPlan.collect {
            case h: HashAggregateExec =>
              h.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
            case o: ObjectHashAggregateExec =>
              o.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
          }.sum
          quiesce()
          diskDelta(n) = diskSpilled - d0
        }
      }
      hashAggQueries.foreach(n => assert(fellBack(n) > 0,
        s"$n: no HashAggregate task took the sort-based fallback — " +
          "testFallbackStartsAt no-op'd for this query"))
      objectHashQueries.foreach(n => assert(fellBack(n) > 0,
        s"$n: no ObjectHashAggregate task fell back to sort-based — " +
          "sortBased.fallbackThreshold no-op'd"))
      (windowSpillQueries ++ sessionSpillQueries ++ smjSpillQueries)
        .foreach(n => assert(diskDelta(n) > 0,
          s"$n: no task wrote a spill file — its buffer-spill threshold " +
            "no-op'd (knob families: window/sessionWindow/SMJ)"))
      assert(memSpilled > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
