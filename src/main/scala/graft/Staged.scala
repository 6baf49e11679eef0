package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Staged-fold superstep device (r17): materialize an iteration's relation
  * eagerly — the localCheckpoint(true) superstep discipline of the HITS /
  * components fixpoints — AND compute its one-row driver statistic (the
  * normalization max, the convergence sum) in the SAME job.
  *
  * The committed shapes paid TWO scheduler round-trips per superstep: one
  * job to materialize the checkpoint, then a second full pass over the
  * cached rows for the scalar (as a broadcast max-agg in HITS, a head()
  * sum in the components loop). The scalar is a fold over exactly the rows
  * the materialization job already streams past, so it rides along in the
  * same pass (guide §1.2 step 1: don't run passes you can fuse; §2.4
  * "remove shuffles/passes outright"). Per superstep that is one job +
  * one cached-scan job saved — on a 4-half-step HITS that is 4 of 12 jobs,
  * on a k-round fixpoint k+1 of its ~2k+2 (the per-job scheduling floor is
  * ~30–80 ms local; on a cluster each job is a full scheduling barrier).
  *
  * Only LONG columns are foldable here on purpose: every superstep scalar
  * in this library is exact integer arithmetic (the determinism
  * discipline), so the fold is order-insensitive by construction and
  * `Math.addExact`-style ops keep ANSI's loud-overflow behavior.
  *
  * HITS and the components fixpoint run only this fused shape. The two-job
  * shapes it replaced, and their measured head-to-head, are recorded in
  * OPTIMIZATION_r17.md. StagedSpec pins the fold against the aggregates it
  * replaced; StagedSpec (components) and Round12Spec (HITS) pin the
  * consumers' results against driver-side references.
  */
object Staged {

  /** Materialize `df` (cached like localCheckpoint(true): internal rows,
    * MEMORY_AND_DISK) and fold `op` over the non-null values of LONG column
    * `colName` in the same job. Returns the staged relation and the fold
    * (None when no non-null value exists — mirrors an agg over an empty
    * relation returning NULL). `op` must be associative+commutative (the
    * partition folds combine on the driver in partition order; every call
    * site passes max or addExact). */
  def eagerFold(df: DataFrame, colName: String, op: (Long, Long) => Long)
      : (DataFrame, Option[Long]) = {
    val schema = df.schema
    val idx = schema.fieldIndex(colName)
    require(schema(idx).dataType == LongType,
      s"eagerFold needs a LONG column, got ${schema(idx).dataType} for $colName")
    // the copy() is load-bearing: toRdd streams reused UnsafeRow instances;
    // caching them without a copy would alias every row in the partition to
    // the last one (the same reason Dataset.localCheckpoint copies)
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // one job: computing the per-partition folds pulls every partition
    // through the cache (populating it) and returns numPartitions scalars —
    // the only driver-side data is one (Long, Boolean) per partition
    val parts = rdd.mapPartitions { it =>
      var acc = 0L
      var any = false
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(idx)) {
          acc = if (any) op(acc, r.getLong(idx)) else r.getLong(idx)
          any = true
        }
      }
      Iterator.single((acc, any))
    }.collect()
    val vals = parts.collect { case (v, true) => v }
    val folded = if (vals.isEmpty) None else Some(vals.reduce(op))
    (org.apache.spark.sql.graft.DataFrameBridge.fromStaged(df, rdd), folded)
  }
}
