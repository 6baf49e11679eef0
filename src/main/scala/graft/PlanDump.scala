package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan archiver (optimization-round deliverable support): writes
  * `explain("formatted")` for every non-eager registry query to a target
  * directory, one `<query>.txt` per query, under the SAME session config the
  * bench times (Bench.buildSession — shuffle width, AQE off, UTC). Eager
  * queries (streaming pipelines, superstep builders) are skipped by default:
  * their builders EXECUTE inside the planning call, and their read-back plan
  * is a bare scan with no optimization surface ([[Bench.isEager]]).
  * Pass query names as trailing args to dump only those (including eager
  * ones, whose read-back plan is then captured after the builder runs).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark: SparkSession = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.isEager)
    var ok = 0
    names.foreach { n =>
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        val txt = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"$n.txt"), txt)
        ok += 1
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[plandump] $n FAILED: ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    println(s"[plandump] wrote $ok/${names.size} plans to $outDir")
    spark.stop()
  }
}
