package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference system's end-to-end job — an APRS packet collector — as a
  * standalone Structured Streaming app (SURVEY.md §2.10, BASELINE.json north
  * star: "Structured Streaming for APRS packet ingestion + DataFrame writes").
  *
  * Usage: PacketCollector <inDir> <outDir> <checkpointDir>
  *          [--socket host:port | --aprsis host:port:callsign[:filter]]
  *
  * Default source is a drop-dir of text files (one TNC2 packet line each) —
  * the replayable deployment mode; `--socket` switches to a raw TCP line
  * feed, and `--aprsis` to a REAL APRS-IS connection: the [[AprsIsRelay]]
  * performs the `user CALL pass … filter …` login handshake, records the
  * server banner / `# logresp` acknowledgement, strips keepalive comments,
  * and re-serves the packet stream to the socket source.
  * Pipeline: readStream text → PacketParse (callsign/path/DTI/position) →
  * ingest timestamp → partitioned parquet (exactly-once via checkpoint).
  *
  * Scale notes: parsing is map-side only; the sink partitions by callsign
  * prefix so per-station queries prune files; state is nil (stateless parse),
  * so the collector scales with input rate alone. Downstream analytics are
  * the batch operators in graft.operators / graft.functions over the same
  * parquet — the aprsdb "collect into DB, query with SQL" loop, Spark-native.
  */
object PacketCollector {

  /** Source selection — drop-dir text files (replayable, exactly-once) or a
    * live TCP line feed (the APRS-IS deployment shape; Spark's socket source
    * is at-most-once, acceptable for a broadcast radio feed whose drop-dir
    * twin is the durable mode). Split out of main so the socket branch is
    * testable against a loopback feeder (StreamingSpec). */
  def source(spark: SparkSession, inDir: String,
      socket: Option[(String, Int)]): org.apache.spark.sql.DataFrame =
    socket match {
      case Some((host, port)) =>
        spark.readStream.format("socket")
          .option("host", host).option("port", port).load()
          .withColumnRenamed("value", "raw")
      case None =>
        spark.readStream.text(inDir).withColumnRenamed("value", "raw")
    }

  /** The collector transform: production parse + ingest timestamp + station
    * bucket for sink partition pruning. Identical for both sources. */
  def pipeline(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    PacketParse.parse(raw).select(col("*"),
      current_timestamp().as("ingest_ts"),
      when(col("callsign") === "", lit("_"))
        .otherwise(upper(substring(col("callsign"), 1, 1))).as("station_bucket"))

  /** The collector's sink: partitioned parquet, exactly once through the
    * checkpoint. Each station_bucket is owned by ONE task per micro-batch
    * before the partitioned write: without the repartition every task fans
    * out across all ~38 bucket dirs, and at a 10 s trigger that is hundreds
    * of thousands of tiny files a day (the Geo archive writer's lesson,
    * applied to the live sink — r13 review). */
  def sink(df: org.apache.spark.sql.DataFrame, outDir: String, ckptDir: String,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery =
    df.repartition(col("station_bucket"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .partitionBy("station_bucket")
      .outputMode("append")
      .trigger(trigger)
      .start()

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && !args.take(3).exists(_.startsWith("--")),
      "usage: PacketCollector <inDir> <outDir> <checkpointDir> " +
        "[--socket host:port | --aprsis host:port:callsign[:filter]]")
    val Array(inDir, outDir, ckptDir) = args.take(3)

    // bounded ASCII port parse: Char.isDigit admits Unicode digits and a
    // bare forall admits 11-digit strings whose toInt then throws a raw
    // NumberFormatException past the friendly require (r13 review)
    def parsePort(v: String, what: String): Int = {
      // lower bound 1: both --socket and --aprsis ports are CONNECT targets,
      // and port 0 (bind-time "any") only fails later with an obscure
      // connect error (advisor r13)
      require(v.nonEmpty && v.length <= 5 && v.forall(c => c >= '0' && c <= '9')
          && v.toInt >= 1 && v.toInt <= 65535,
        s"$what port must be 1-65535, got '$v'")
      v.toInt
    }
    val spark = SparkSession.builder()
      .appName("graft-packet-collector")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    // the usage string documents the modes as mutually exclusive; without
    // this guard --socket silently won and the --aprsis spec (including its
    // login callsign/filter) was ignored unvalidated (r14 sweep)
    require(!(args.contains("--socket") && args.contains("--aprsis")),
      "--socket and --aprsis are mutually exclusive")
    val sock =
      if (args.contains("--socket")) {
        val idx = args.indexOf("--socket")
        require(idx + 1 < args.length, "--socket requires a host:port value")
        val hp = args(idx + 1).split(":", 2)
        require(hp.length == 2,
          s"--socket value must be host:port, got '${args(idx + 1)}'")
        Some((hp(0), parsePort(hp(1), "--socket")))
      } else if (args.contains("--aprsis")) {
        val idx = args.indexOf("--aprsis")
        require(idx + 1 < args.length,
          "--aprsis requires a host:port:callsign[:filter] value")
        val parts = args(idx + 1).split(":", 4)
        require(parts.length >= 3,
          s"--aprsis value must be host:port:callsign[:filter], got '${args(idx + 1)}'")
        val relay = new AprsIsRelay(parts(0), parsePort(parts(1), "--aprsis"), parts(2),
          if (parts.length == 4) Some(parts(3)) else None).start()
        // surface upstream failures + login progress once a minute: a refused
        // or dropped APRS-IS connection must never read as an empty-but-
        // healthy feed
        val monitor = new Thread(() => {
          while (true) {
            Thread.sleep(60000)
            relay.readerError.foreach(e => System.err.println(
              s"[collector] APRS-IS upstream connection failed: $e"))
            System.err.println(
              s"[collector] aprsis banner=${relay.serverBanner.getOrElse("-")} " +
                s"logresp=${relay.logresp.getOrElse("-")} dropped=${relay.dropped}")
          }
        }, "aprsis-monitor")
        monitor.setDaemon(true)
        monitor.start()
        Some(("127.0.0.1", relay.localPort))
      } else None

    val query = sink(pipeline(source(spark, inDir, sock)), outDir, ckptDir,
      Trigger.ProcessingTime("10 seconds"))
    query.awaitTermination()
  }
}
