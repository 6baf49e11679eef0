package graft

/** Dev-only streaming cost decomposition: runs gated streaming queries and
  * prints every micro-batch's durationMs map from StreamingQueryProgress —
  * the ground truth for where an AvailableNow pass spends its time
  * (triggerExecution, queryPlanning, walCommit, stateStore commit,
  * addBatch). Runs on the bench session ([[Bench.buildSession]],
  * SPARK_GRAFT_CPUS cores), two passes per query, so pass 2 is the warm
  * one. Not part of the driver contract.
  *
  * Usage: runMain graft.StreamProbe <sfDir> <query> [<query> ...]
  * (multiple queries share one JVM/session — r17: a per-query JVM paid
  * ~20 s of sbt+session startup per pipeline for an 8-pipeline sweep)
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qnames = args.drop(1).toSeq
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[sprobe] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[sprobe] batch=${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[sprobe] terminated")
    }
    spark.streams.addListener(listener)
    for (name <- qnames; pass <- 1 to 2) {
      println(s"[sprobe] === $name pass $pass ===")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      println(f"[sprobe] $name pass=$pass stream=${(t1 - t0) / 1e9}%.3f s readback=${(t2 - t1) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
