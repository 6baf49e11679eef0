package graft

import org.apache.spark.sql.functions._

/** Fixed-point PageRank invariants (operators/Graph.scala) beyond the oracle
  * gate: ranking shape, the teleport floor, and bit-exact determinism
  * (the operator's whole reason to use integer arithmetic). */
class GraphSpec extends SparkSuite {

  test("pagerank: top-20 suppliers, descending, above the teleport floor") {
    val rows = run("q_graph_pagerank").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val prs = rows.map(_.getAs[Long]("pr")).toSeq
    assert(prs == prs.sorted.reverse)
    // every node keeps at least the damping teleport mass
    assert(prs.forall(_ >= 150000000L))
    rows.foreach { r =>
      val k = r.getAs[Long]("supp_key")
      assert(k >= 0 && k < 10000)
    }
  }

  test("pagerank: bit-exact across reruns (integer arithmetic, no float reduction order)") {
    val a = run("q_graph_pagerank").collect().toSeq
    val b = run("q_graph_pagerank").collect().toSeq
    assert(a == b)
  }

  test("pagerank: supplier ranks dominated by high-degree suppliers on the fixture") {
    // the undirected order graph concentrates rank on suppliers touched by
    // many customers: the top supplier's rank must exceed the uniform start
    val rows = run("q_graph_pagerank").collect()
    assert(rows.head.getAs[Long]("pr") > 1000000000L)
  }

  test("label propagation: per-round fingerprints are monotone and converge to the min id") {
    val rows = run("q_graph_label_prop").collect()
    assert(rows.length == 3)
    val byRound = rows.map(r => (r.getAs[Int]("rnd"),
      (r.getAs[Long]("n_labels"), r.getAs[Long]("label_mass"), r.getAs[Long]("max_lbl"))))
      .sortBy(_._1).map(_._2)
    // min-propagation is monotone: every fingerprint is non-increasing
    assert(byRound.sliding(2).forall { w =>
      val (a, b) = (w(0), w(1))
      b._1 <= a._1 && b._2 <= a._2 && b._3 <= a._3 })
    // labels are node ids: mass and max stay non-negative
    assert(byRound.forall(t => t._1 >= 1 && t._2 >= 0 && t._3 >= 0))
  }

  test("label propagation round: edges never shuffle, one slim exchange into the min-agg") {
    val (edges, deg) = operators.Graph.orderGraph(spark, sf)
    val l0 = deg.select(col("node"), col("node").as("lbl"))
    val plan = operators.Graph.lpRound(edges, l0).queryExecution.executedPlan.toString
    // labels broadcast; the only hash exchange is the (node, lbl) min-agg
    assert(plan.contains("BroadcastExchange"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("order-graph artifact: equals the inline derivation, served as a cached parquet scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val (edges, deg) = operators.Graph.orderGraph(spark, sf)
    // the derivation the artifact replaced: join → distinct → union → count
    val base = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val sym = base.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(base.select(col("s").as("src"), col("c").as("dst")))
    val d = sym.groupBy("src").agg(count(lit(1)).as("d")).withColumnRenamed("src", "node")
    val e = sym.join(d.select(col("node").as("src"), col("d").as("sd")), "src")
    assert(edges.columns.toSeq == Seq("src", "dst", "sd"))
    assert(deg.columns.toSeq == Seq("node", "d"))
    assert(edges.count() > 0 && deg.count() > 0)
    assert(edges.exceptAll(e).isEmpty && e.exceptAll(edges).isEmpty)
    assert(deg.exceptAll(d).isEmpty && d.exceptAll(deg).isEmpty)
    Seq(edges, deg).foreach { a =>
      val p = a.queryExecution.optimizedPlan
      val cached = p.collect { case r: InMemoryRelation => r }
      assert(cached.size == 1, p)
      assert(cached.head.cachedPlan.collectFirst { case f: FileSourceScanExec => f }
        .exists(_.relation.fileFormat.isInstanceOf[ParquetFileFormat]), cached.head.cachedPlan)
      assert(p.collect { case r: LogicalRDD => r }.isEmpty, p)
    }
  }
}
