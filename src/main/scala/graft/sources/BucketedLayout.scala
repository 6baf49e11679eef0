package graft.sources

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed storage layout (SURVEY.md §4, docs/SCALE.md) — the shuffle-free
  * repeated-join story, under the ORACLE gate.
  *
  * A 100 TB archive that is joined on the same key every day should be
  * WRITTEN bucketed+sorted on that key: `bucketBy(N, key).sortBy(key)` makes
  * every later join and key-keyed aggregation exchange-free AND sort-free —
  * the shuffle is paid once at write time, not per query. q_join_bucketed
  * runs lineitem⋈orders over bucketed copies of both facts and aggregates on
  * the join key; its DuckDB oracle reads the ORIGINAL parquet, so the gate
  * proves the bucketed layout changes the plan, never the answer.
  * PlanShapeSpec pins the no-Exchange/no-Sort plan through this same builder.
  *
  * That plan holds only when the join cannot broadcast: broadcast is
  * disabled, or the `orders` copy is above
  * `spark.sql.autoBroadcastJoinThreshold`. PlanShapeSpec pins it with
  * broadcast disabled. Under the bench session at sf0.1 the 150k-row
  * `orders` copy fits under the 10 MB default, so the timed plan is a
  * BroadcastHashJoin whose broadcast is rebuilt on every pass.
  *
  * The bucketed copies are written once per (session, sf-dir) and memoized —
  * the same discipline as FormatSources' exports, so bench samples time the
  * bucketed JOIN, not the one-time layout write (at cluster scale that write
  * is the nightly ingest job, not the query).
  */
object BucketedLayout {

  // sized to the scan parallelism the join should get (buckets = max tasks
  // for an exchange-free join): 8 capped the 32-thread session at a quarter
  // of its cores (measured 0.63 s median); 16 halves per-task work for the
  // same one-time layout cost. At cluster scale this is rows_per_bucket ≈
  // target_partition_bytes / row_width, not a constant.
  val Buckets = 16

  private val built =
    graft.Tables.registerSessionScoped(new java.util.concurrent.ConcurrentHashMap[(Long, String), String]())

  /** Returns the table-name suffix for this (session, dir), writing the
    * bucketed copies on first use. private[graft]: Bench times this as a
    * separately reported artifact step. */
  private[graft] def ensureTables(s: SparkSession, dir: String): String =
    built.computeIfAbsent((Tables.sessionId(s), dir), _ => {
      // sessionId in the table name, matching the memo key: without it a
      // second session on the same SparkContext would mode("overwrite") the
      // files underneath a first session's in-flight scan. The dir hash
      // disambiguates dirs that sanitize to the same text (all punctuation
      // maps to '_', so 'sf0.1' and 'sf0_1' collided and the second
      // ensureTables overwrote the first dir's tables — r14 sweep)
      val dirHash = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir))
      val suffix = s"${Tables.sessionId(s)}_${dirHash}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      Tables.table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"graft_bkt_orders_$suffix")
      Tables.table(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"graft_bkt_lineitem_$suffix")
      suffix
    })

  /** The bucketed fact-fact join + join-key aggregation, pre-limit — shared
    * between the gated query and PlanShapeSpec's no-Exchange pin. l_quantity
    * holds small integral values, so the per-row LONG cast makes the sum
    * exact under any partitioning. */
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    val suffix = ensureTables(s, dir)
    s.table(s"graft_bkt_lineitem_$suffix")
      .join(s.table(s"graft_bkt_orders_$suffix"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_join_bucketed",
      "Fact-fact join + join-key aggregation over bucketed+sorted copies of both " +
        "facts — exchange-free and sort-free at query time when the join cannot " +
        "broadcast (broadcast disabled, or orders above the broadcast threshold; " +
        "PlanShapeSpec pins that plan with broadcast disabled), while under the " +
        "bench session at sf0.1 the orders copy is broadcast, a BroadcastHashJoin " +
        "rebuilt every pass; the oracle reads the original parquet, proving layout " +
        "changes the plan, not the answer.",
      (s, dir) =>
        joinAgg(s, dir)
          .orderBy("o_orderkey")
          .limit(1000),
      Some(
        "SELECT o_orderkey, o_orderpriority, count(*) AS n, " +
          "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY o_orderkey, o_orderpriority ORDER BY o_orderkey LIMIT 1000"))
  )
}
