package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.graft.PlanBridge

/** Pins the per-pass physical re-plan every bench pass runs
  * ([[PlanBridge.replanner]], through [[Bench.passes]]):
  *
  *  1. Two consecutive re-plans share no `Exchange` instance, subquery plans
  *     included: no pass can stage-skip through an exchange result an
  *     earlier pass cached.
  *  2. Each re-plan returns the same rows as the stock `executedPlan`.
  *  3. The shared-exchange plans keep their `ReusedExchangeExec` nodes, so
  *     each pass computes its shared exchange once, not twice.
  *  4. A plan with an internal shuffle and no `Exchange` node runs its map
  *     stage on every pass. Spark memoizes a plan's `execute()` RDD, so
  *     re-running one instance skipped that stage: `q_sort_multi`'s
  *     `TakeOrderedAndProject` over a multi-partition scan ran 2 stages
  *     on its first pass and 1 on every later one.
  */
class ReplanSpec extends SparkSuite {

  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // the bench session plans with AQE off
  private val benchPlanning = "spark.sql.adaptive.enabled" -> "false"

  private def exchanges(p: SparkPlan): Seq[Exchange] =
    p.collectWithSubqueries { case e: Exchange => e }

  private def rows(p: SparkPlan): Seq[String] =
    p.executeCollectPublic().map(_.toString).toSeq.sorted

  // one single-reuse banded fold, the chained 3-rank RFM, a 2-chain vector
  // rank and a broadcast-reuse dedup quality gate
  private val reuseBearing =
    Seq("q_text_entropy", "q_agg_rfm", "q_vec_rrf", "q_dedup_minhash_quality")
  // DPP reuse (inside the scan's pruning expression, out of `collect`'s
  // reach) and a subquery-bearing plan
  private val others = Seq("q_source_dpp", "q_ann_recall")

  test("each re-plan is fresh, answer-identical and keeps its exchange reuse") {
    withConfs(benchPlanning) {
      (reuseBearing ++ others).foreach { n =>
        val qe = run(n).queryExecution
        val next = PlanBridge.replanner(qe)
        val p1 = next()
        val p2 = next()
        val ids1 = exchanges(p1).map(System.identityHashCode).toSet
        assert(ids1.nonEmpty, s"$n plans no exchange — update this spec")
        assert(exchanges(p2).forall(e => !ids1(System.identityHashCode(e))),
          s"$n: two re-plans share an exchange instance — passes would stage-skip")
        if (reuseBearing.contains(n)) Seq(p1, p2).foreach { p =>
          assert(p.collect { case r: ReusedExchangeExec => r }.nonEmpty,
            s"$n re-plan lost its exchange reuse")
        }
        val expected = rows(qe.executedPlan)
        assert(rows(p1) == expected, s"$n first re-plan answer diverged")
        assert(rows(p2) == expected, s"$n second re-plan answer diverged")
      }
    }
  }

  test("q_sort_multi runs its map stage on every re-planned pass") {
    val completed = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        completed.incrementAndGet()
    }
    val sc = spark.sparkContext
    def stagesOf(plan: SparkPlan): Int = {
      ListenerBridge.waitUntilEmpty(sc)
      val before = completed.get
      Bench.runPlan(sc, plan)
      ListenerBridge.waitUntilEmpty(sc)
      completed.get - before
    }
    sc.addSparkListener(listener)
    // split the sf0.001 lineitem file into several scan partitions, as the
    // bench's sf0.1 file is: a one-partition child needs no merge shuffle
    try withConfs(benchPlanning, "spark.sql.files.maxPartitionBytes" -> "32k") {
      val next = PlanBridge.replanner(run("q_sort_multi").queryExecution)
      val first = stagesOf(next())
      val second = stagesOf(next())
      assert(first == 2, s"q_sort_multi ran $first stages — expected the " +
        "per-partition top-k and the single-partition merge")
      assert(second == first,
        s"second pass ran $second stages against $first — it stage-skipped")
    } finally sc.removeSparkListener(listener)
  }
}
