package graft

import org.apache.spark.sql.functions._

/** Gates for the r17 staged-fold superstep device (graft.Staged): the fused
  * materialize+fold must agree with the two-job shape it replaced — the
  * relation bit-for-bit, the scalar with the replaced aggregate — and its
  * consumers must return what a driver-side reference computes: the
  * components fixpoint here, HITS in Round12Spec. */
class StagedSpec extends SparkSuite {
  import spark.implicits._

  test("eagerFold: fold equals the aggregate it replaced, relation unchanged") {
    val df = spark.range(1000).select(
      col("id").as("k"), (col("id") * 7 % 101).as("v"))
    val (staged, mx) = Staged.eagerFold(df, "v", math.max)
    assert(mx.contains(df.agg(max("v")).head.getLong(0)))
    val (staged2, sm) = Staged.eagerFold(df, "v", Math.addExact(_, _))
    assert(sm.contains(df.agg(sum("v")).head.getLong(0)))
    // relation survives the bridge bit-for-bit (same rows, same schema)
    assert(staged.schema == df.schema)
    assert(staged.exceptAll(df).isEmpty && df.exceptAll(staged).isEmpty)
    assert(staged2.count() == 1000)
  }

  test("eagerFold: empty relation folds to None; nulls are skipped like sum()") {
    val empty = spark.range(10).filter(col("id") < 0)
      .select(col("id").as("v"))
    val (stagedE, foldE) = Staged.eagerFold(empty, "v", math.max)
    assert(foldE.isEmpty && stagedE.count() == 0)
    val withNulls = spark.range(10).select(
      when(col("id") % 2 === 0, col("id")).as("v"))
    val (stagedN, foldN) = Staged.eagerFold(withNulls, "v", Math.addExact(_, _))
    assert(foldN.contains(0L + 2 + 4 + 6 + 8))
    assert(stagedN.filter(col("v").isNull).count() == 5)
  }

  test("eagerFold: staged relation keeps the source partitioning (no re-exchange)") {
    // AQE off, the Bench posture where the property is claimed: under AQE
    // the executed plan is an AdaptiveSparkPlanExec leaf, which `collect`
    // does not enter, so the assertion below would hold whatever the plan
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = spark.range(200).select(col("id").as("k"), col("id").as("v"))
        .repartition(4, col("k"))
      val (staged, _) = Staged.eagerFold(df, "v", math.max)
      val agg = staged.groupBy("k").agg(sum("v"))
      // a partitioning-blind bridge (the first cut's UnknownPartitioning)
      // would re-shuffle here; fromStaged must carry hashpartitioning(k)
      assert(agg.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }.isEmpty,
        "groupBy over the staged relation re-introduced an Exchange — the " +
          "bridge lost the source partitioning")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("components fixpoint equals a driver-side union-find over the LSH collisions") {
    // two docs collide when they share a band; every doc outside a
    // collision (or without a signature) is its own component
    val docs = Tables.table(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val byBand = functions.DedupOps.lshBands(spark, sf).collect()
      .groupBy(_.getString(1)).values.map(_.map(_.getLong(0)).distinct)
    byBand.foreach(ids => ids.tail.foreach { b =>
      val (ra, rb) = (find(ids.head), find(b))
      if (ra != rb) parent(ra) = rb
    })
    val sizes = docs.groupBy(find).values.map(_.length.toLong)
    assert(byBand.exists(_.length > 1), "fixture has no LSH collisions")
    assert(sizes.exists(_ > 2), "fixture has no component beyond a pair")
    val r = run("q_dedup_components").head()
    assert(r.getAs[Long]("n_docs") == docs.length.toLong)
    assert(r.getAs[Long]("n_comp") == sizes.size.toLong)
    assert(r.getAs[Long]("n_merged") == docs.length.toLong - sizes.size)
    assert(r.getAs[Long]("max_comp") == sizes.max)
  }
}
