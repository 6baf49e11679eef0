package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{EventStream, PacketParse}

/** Streaming self-oracle (SURVEY §2.10 / §5.4): run the stream with
  * Trigger.AvailableNow over the static events fixture and assert the result
  * equals the batch twin — exact DataFrame equality via except() both ways. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dropDir: String = {
    // normalize the nanos fixture once into a micro-precision drop-dir
    val d = Files.createTempDirectory("graft_stream_in").toString
    Tables.table(spark, sf, "events").write.mode("overwrite").parquet(d)
    d
  }

  test("streaming tumbling agg equals batch twin (AvailableNow self-oracle)") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val q = EventStream.writeParquet(
      EventStream.tumblingCounts(EventStream.readEvents(spark, dropDir)), out, ckpt)
    q.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("s"))
    val batch = Tables.table(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("s"))
    // append mode emits a window once its END passes the watermark
    // (maxTs - 2h); compare exactly on a horizon safely clear of the
    // boundary (window start ≤ maxTs - 4h ⇒ end ≤ maxTs - 3h < watermark).
    // Epoch-micros arithmetic keeps this fixture-type-agnostic: max(ts) on
    // an NTZ fixture materializes as LocalDateTime, so getTimestamp throws.
    val maxUs = Tables.table(spark, sf, "events")
      .agg(max(graft.Ts.epochMicros(col("ts")))).head().getLong(0)
    val horizonUs = maxUs - 4L * 3600 * 1000000L
    val closedBatch = batch.filter(graft.Ts.epochMicros(col("w")) <= horizonUs)
    val closedStream = streamed.filter(graft.Ts.epochMicros(col("w")) <= horizonUs)
    assert(closedBatch.count() > 0)
    assert(closedStream.except(closedBatch).isEmpty && closedBatch.except(closedStream).isEmpty)
    // and everything the stream emitted must exist in the batch result
    assert(streamed.except(batch).isEmpty)
  }

  test("checkpoint restart: two-phase ingest equals one-shot, exactly once") {
    // THE operational claim of the ingest pipeline: kill a stream, add more
    // data, restart with the SAME checkpoint — offsets and window state
    // recover, nothing is reprocessed, nothing is lost. Input is split on
    // time (first half / second half) so phase-2 data stays ahead of the
    // recovered watermark, matching a live feed's monotonic arrival.
    val in = Files.createTempDirectory("graft_restart_in").toString
    val out = Files.createTempDirectory("graft_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val ev = Tables.table(spark, sf, "events")
    val midUs = ev.agg(
      ((min(graft.Ts.epochMicros(col("ts"))) + max(graft.Ts.epochMicros(col("ts")))) / 2)
        .cast("long")).head().getLong(0)
    ev.filter(graft.Ts.epochMicros(col("ts")) <= midUs)
      .write.mode("overwrite").parquet(in)
    // phase 1: drain the first half, then the query terminates
    EventStream.writeParquet(
      EventStream.tumblingCounts(EventStream.readEvents(spark, in)), out, ckpt)
      .awaitTermination()
    val phase1Rows = spark.read.parquet(out).count()
    // phase 2: append the rest, RESTART from the same checkpoint
    ev.filter(graft.Ts.epochMicros(col("ts")) > midUs)
      .write.mode("append").parquet(in)
    EventStream.writeParquet(
      EventStream.tumblingCounts(EventStream.readEvents(spark, in)), out, ckpt)
      .awaitTermination()
    val streamed = spark.read.parquet(out)
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("s"))
    // exactly-once across the restart: no (window, type) appears twice
    assert(streamed.groupBy("w", "event_type").count().filter(col("count") > 1).isEmpty)
    assert(streamed.count() > phase1Rows, "restart emitted nothing new")
    // and the union of both phases equals the one-shot batch aggregate on
    // every window closed under the final watermark
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("s"))
    val maxUs = ev.agg(max(graft.Ts.epochMicros(col("ts")))).head().getLong(0)
    val horizonUs = maxUs - 4L * 3600 * 1000000L
    val closedBatch = batch.filter(graft.Ts.epochMicros(col("w")) <= horizonUs)
    val closedStream = streamed.filter(graft.Ts.epochMicros(col("w")) <= horizonUs)
    assert(closedBatch.count() > 0)
    assert(closedStream.except(closedBatch).isEmpty && closedBatch.except(closedStream).isEmpty)
    assert(streamed.except(batch).isEmpty)
  }

  test("streaming dedup drops re-delivered events") {
    val dupDir = Files.createTempDirectory("graft_stream_dup").toString
    val ev = Tables.table(spark, sf, "events").limit(100)
    ev.union(ev).write.mode("overwrite").parquet(dupDir) // simulate redelivery
    val out = Files.createTempDirectory("graft_dedup_out").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val q = EventStream.writeParquet(
      EventStream.dedup(EventStream.readEvents(spark, dupDir)), out, ckpt)
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 100)
  }

  test("packet parse extracts callsign/path/position, null on malformed") {
    val lines = Seq(
      "N0CALL>APRS,WIDE1-1:!4903.50N/07201.75W-test comment",
      "DB0XYZ-10>APDG03,TCPIP*:=5230.25S/01323.50E#",
      "garbage with no structure").toDF("raw")
    val parsed = PacketParse.parse(lines).collect()
    val p0 = parsed(0)
    assert(p0.getAs[String]("callsign") == "N0CALL")
    assert(p0.getAs[String]("path") == "APRS,WIDE1-1")
    assert(p0.getAs[String]("dti") == "!")
    assert(math.abs(p0.getAs[Double]("lat") - (49 + 3.50 / 60)) < 1e-9)
    assert(math.abs(p0.getAs[Double]("lon") - -(72 + 1.75 / 60)) < 1e-9)
    val p1 = parsed(1)
    assert(p1.getAs[String]("callsign") == "DB0XYZ-10")
    assert(math.abs(p1.getAs[Double]("lat") - -(52 + 30.25 / 60)) < 1e-9)
    assert(math.abs(p1.getAs[Double]("lon") - (13 + 23.50 / 60)) < 1e-9)
    val p2 = parsed(2)
    assert(p2.getAs[String]("callsign") == "")
    assert(p2.isNullAt(p2.fieldIndex("lat")))
  }

  test("packet collector pipeline: text drop-dir → parse → parquet, end to end") {
    val in = Files.createTempDirectory("graft_pkt_in").toString
    val out = Files.createTempDirectory("graft_pkt_out").toString
    val ckpt = Files.createTempDirectory("graft_pkt_ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "feed0.txt"),
      "N0CALL>APRS,WIDE1-1:!4903.50N/07201.75W-hello\n" +
        "K1ABC-9>APDR16,TCPIP*:=3725.00N/12200.00W>\n" +
        "noise line\n")
    // same pipeline as PacketCollector.main, with the test-friendly trigger
    val parsed = PacketParse.parse(
      spark.readStream.text(in).withColumnRenamed("value", "raw"))
      .withColumn("station_bucket",
        when(col("callsign") === "", lit("_"))
          .otherwise(upper(substring(col("callsign"), 1, 1))))
    val q = parsed.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .partitionBy("station_bucket")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val res = spark.read.parquet(out)
    assert(res.count() == 3)
    assert(res.filter(col("callsign") === "N0CALL").count() == 1)
    assert(res.filter(col("station_bucket") === "_").count() == 1) // the noise line
    // partition pruning works on the station bucket
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("station_bucket=")))
  }

  test("packet collector --socket branch: loopback TNC2 feed equals the batch parse") {
    // a tiny in-test APRS-IS stand-in: serve 20 TNC2 lines over a loopback
    // TCP socket, run the collector's socket source + pipeline, and pin the
    // sink contents against the batch parse of the same lines (the drop-dir
    // test above pins file-source ≡ batch, so this closes the last untested
    // branch of the collector's source selection)
    val lines = (0 until 20).map { i =>
      if (i % 5 == 4) s"noise $i"
      else f"U$i%d>APRS,TCPIP*:!${40 + i}%02d03.50N/072${i}%02d.75W-pkt$i"
    }
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val s = server.accept()
        val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        lines.foreach(w.println)
        w.flush()
        // hold the connection open until the server socket is closed below —
        // the socket source treats EOF as a source failure
        while (!server.isClosed) Thread.sleep(50)
        s.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()
    val out = Files.createTempDirectory("graft_sock_out").toString
    val ckpt = Files.createTempDirectory("graft_sock_ckpt").toString
    val q = graft.streaming.PacketCollector.pipeline(
      graft.streaming.PacketCollector.source(
        spark, "", Some(("127.0.0.1", server.getLocalPort))))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .partitionBy("station_bucket")
      .outputMode("append")
      .start()
    try {
      // drain until every fed line has been committed (the feeder and the
      // source run asynchronously, so poll processAllAvailable)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def committed(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      while (committed() < lines.size && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      assert(committed() == lines.size, s"only ${committed()} of ${lines.size} rows landed")
    } finally {
      q.stop()
      server.close()
    }
    val parseCols = Seq("raw", "callsign", "path", "payload", "packet_type",
      "lat", "lon", "grid", "station_bucket")
    val viaSocket = spark.read.parquet(out)
      .select(parseCols.map(col): _*).orderBy("raw").collect().toSeq
    val viaBatch = graft.streaming.PacketParse.parse(lines.toDF("raw"))
      .withColumn("station_bucket",
        when(col("callsign") === "", lit("_"))
          .otherwise(upper(substring(col("callsign"), 1, 1))))
      .select(parseCols.map(col): _*).orderBy("raw").collect().toSeq
    assert(viaSocket == viaBatch)
    // the noise lines landed in the dead-letter bucket
    assert(viaSocket.count(_.getAs[String]("station_bucket") == "_") == 4)
  }

  test("aprs-is relay: client reconnect loses no line (failed write carried over)") {
    import graft.streaming.AprsIsRelay
    // mock upstream: banner + 2 packets immediately, 4 more on demand
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val sendRest = new java.util.concurrent.CountDownLatch(1)
    val lines = (1 to 6).map(i => s"U$i>APRS,TCPIP*:>status $i")
    val mock = new Thread(() => {
      try {
        val s = server.accept()
        val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        w.println("# mock"); lines.take(2).foreach(w.println); w.flush()
        sendRest.await()
        lines.drop(2).foreach(w.println); w.flush()
        while (!server.isClosed) Thread.sleep(50)
      } catch { case _: Throwable => () }
    })
    mock.setDaemon(true); mock.start()
    val relay = new AprsIsRelay("127.0.0.1", server.getLocalPort, "TEST").start()
    def connect() = {
      val s = new java.net.Socket("127.0.0.1", relay.localPort)
      s.setSoTimeout(10000) // a lost line must FAIL the assertion, not hang
      s
    }
    def readLines(s: java.net.Socket, n: Int): Seq[String] = {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      try {
        var i = 0
        var l: String = ""
        while (i < n && l != null) {
          l = r.readLine(); if (l != null) buf += l; i += 1
        }
      } catch {
        case _: java.net.SocketTimeoutException => buf += "<timeout>"
      }
      buf.toSeq
    }
    try {
      // client 1 consumes the first 2 packets, then dies with an immediate
      // RST (SO_LINGER 0) so the relay's next write fails rather than
      // landing in a dead socket buffer
      val c1 = connect()
      val got1 = readLines(c1, 2)
      c1.setSoLinger(true, 0); c1.close()
      Thread.sleep(300) // let the RST land before more lines flow
      sendRest.countDown()
      // client 2 must see EVERY remaining line: the line whose write
      // failed at the disconnect is carried over, not silently lost
      val c2 = connect()
      val got2 = readLines(c2, 4)
      assert(got1 == lines.take(2), got1.toString)
      assert(got2.toSet == lines.drop(2).toSet,
        s"reconnect lost lines: got $got2, want ${lines.drop(2)}")
      assert(relay.dropped == 0L)
    } finally { relay.stop(); server.close() }
  }

  test("aprs-is login handshake: passcode, login line, logresp, comment stripping") {
    import graft.streaming.{AprsIs, AprsIsRelay}
    // the public passcode algorithm, pinned on hand-computed spot values
    assert(AprsIs.passcode("N0CALL") == 13023)
    assert(AprsIs.passcode("n0call-9") == 13023) // case + SSID insensitive
    assert(AprsIs.passcode("TEST") == 29939)
    assert(AprsIs.loginLine("TEST", Some("r/49/-72/100")) ==
      "user TEST pass 29939 vers graft 1.0 filter r/49/-72/100")
    assert(AprsIs.loginLine("TEST", None) == "user TEST pass 29939 vers graft 1.0")

    // mock APRS-IS server: banner, read + record the login, logresp ack,
    // then packets with a keepalive comment injected mid-stream
    val pkt = (0 until 10).map(i =>
      f"U$i%d>APRS,TCPIP*:!${40 + i}%02d03.50N/072${i}%02d.75W-p$i")
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var seenLogin: String = null
    val mock = new Thread(() => {
      try {
        val s = server.accept()
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(
          s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        w.println("# aprsc 2.1.15-gC67551A"); w.flush()
        seenLogin = r.readLine()
        w.println("# logresp TEST verified, server T2MOCK"); w.flush()
        pkt.zipWithIndex.foreach { case (l, i) =>
          if (i == 5) w.println("# keepalive 20260814")
          w.println(l)
        }
        w.flush()
        while (!server.isClosed) Thread.sleep(50)
        s.close()
      } catch { case _: Throwable => () }
    })
    mock.setDaemon(true)
    mock.start()

    val relay = new AprsIsRelay("127.0.0.1", server.getLocalPort,
      "TEST", Some("r/49/-72/100")).start()
    val out = Files.createTempDirectory("graft_aprsis_out").toString
    val ckpt = Files.createTempDirectory("graft_aprsis_ckpt").toString
    val q = graft.streaming.PacketCollector.pipeline(
      graft.streaming.PacketCollector.source(
        spark, "", Some(("127.0.0.1", relay.localPort))))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .partitionBy("station_bucket")
      .outputMode("append")
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def committed(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      while (committed() < pkt.size && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      assert(committed() == pkt.size, s"only ${committed()} of ${pkt.size} rows landed")
    } finally {
      q.stop()
      relay.stop()
      server.close()
    }
    // the relay sent a correct login and captured the handshake responses
    assert(seenLogin == "user TEST pass 29939 vers graft 1.0 filter r/49/-72/100")
    assert(relay.serverBanner.exists(_.startsWith("# aprsc")))
    assert(relay.logresp.exists(_.contains("logresp TEST verified")))
    assert(relay.dropped == 0L)
    // comment lines never reached the sink; packets parse exactly as batch
    val parseCols = Seq("raw", "callsign", "packet_type", "lat", "lon", "grid")
    val viaRelay = spark.read.parquet(out)
      .select(parseCols.map(col): _*).orderBy("raw").collect().toSeq
    val viaBatch = graft.streaming.PacketParse.parse(pkt.toDF("raw"))
      .select(parseCols.map(col): _*).orderBy("raw").collect().toSeq
    assert(viaRelay == viaBatch)
    assert(!viaRelay.exists(_.getAs[String]("raw").startsWith("#")))
  }

  test("packet parse: payload families — timestamped position, message, status, grid") {
    val lines = Seq(
      "N0CALL>APRS:@092345z4903.50N/07201.75W>mobile",        // timestamped position
      "W1AW>APRS,TCPIP*::K1ABC-9  :hello there{001",          // message
      "DB0XYZ>APRS:>station up and running",                  // status
      "K2DEF>APRS:!4741.10N/12217.50W-Seattle area").toDF("raw")
    val p = graft.streaming.PacketParse.parse(lines).collect()
    assert(p(0).getAs[String]("packet_type") == "position_ts")
    assert(math.abs(p(0).getAs[Double]("lat") - (49 + 3.5 / 60)) < 1e-9)
    assert(p(1).getAs[String]("packet_type") == "message")
    assert(p(1).getAs[String]("msg_addressee") == "K1ABC-9")
    assert(p(1).getAs[String]("msg_text") == "hello there{001")
    assert(p(2).getAs[String]("packet_type") == "status")
    assert(p(2).getAs[String]("status_text") == "station up and running")
    assert(p(3).getAs[String]("packet_type") == "position")
    // CN87 is the Seattle Maidenhead square; subsquare for 47.685, -122.2917 is 'uq'
    assert(p(3).getAs[String]("grid").startsWith("CN87"))
  }

  test("packet parse: object / telemetry / weather payload families") {
    val lines = Seq(
      "N0CALL>APRS:;LEADER   *092345z4903.50N/07201.75W>chase car", // live object w/ position
      "N0CALL>APRS:;OLDOBJ   _092345z4903.50N/07201.75W>gone",      // killed object
      "W1AW>APRS:T#005,199.9,27.0,3.5,12.1,0.0,10110001",           // telemetry
      "K7WX>APRS:_10090556c220s004g005t077r000p000P000h50b09900",   // positionless weather
      "K7BAD>APRS:_10090556c...s...g...t077r000",                   // weather, wind not reported
      "W2BAD>APRS:T#12,bogus,1,2,3,4,00000000").toDF("raw")          // malformed analog
    // collect order is not guaranteed across partitions — key rows by callsign
    val p = graft.streaming.PacketParse.parse(lines).collect()
      .map(r => r.getAs[String]("raw") -> r).toMap
    val live = p("N0CALL>APRS:;LEADER   *092345z4903.50N/07201.75W>chase car")
    assert(live.getAs[String]("packet_type") == "object")
    assert(live.getAs[String]("obj_name") == "LEADER")
    assert(live.getAs[Boolean]("obj_killed") == false)
    assert(math.abs(live.getAs[Double]("lat") - (49 + 3.5 / 60)) < 1e-9)
    assert(p("N0CALL>APRS:;OLDOBJ   _092345z4903.50N/07201.75W>gone")
      .getAs[Boolean]("obj_killed") == true)
    val tlm = p("W1AW>APRS:T#005,199.9,27.0,3.5,12.1,0.0,10110001")
    assert(tlm.getAs[String]("packet_type") == "telemetry")
    assert(tlm.getAs[Int]("tlm_seq") == 5)
    assert(math.abs(tlm.getAs[Double]("tlm_a1") - 199.9) < 1e-9)
    assert(tlm.getAs[String]("tlm_bits") == "10110001")
    val wx = p("K7WX>APRS:_10090556c220s004g005t077r000p000P000h50b09900")
    assert(wx.getAs[String]("packet_type") == "weather")
    assert(wx.getAs[Int]("wx_wind_dir") == 220)
    assert(wx.getAs[Int]("wx_gust") == 5)
    assert(wx.getAs[Int]("wx_temp_f") == 77)
    // unreported fields parse as null, packet still classified (ANSI-safe try_cast)
    val wxBad = p("K7BAD>APRS:_10090556c...s...g...t077r000")
    assert(wxBad.getAs[String]("packet_type") == "weather")
    assert(wxBad.isNullAt(wxBad.fieldIndex("wx_wind_dir")))
    assert(wxBad.getAs[Int]("wx_temp_f") == 77)
    // malformed analog value: telemetry classification survives, field is null
    val tlmBad = p("W2BAD>APRS:T#12,bogus,1,2,3,4,00000000")
    assert(tlmBad.getAs[String]("packet_type") == "telemetry")
    assert(tlmBad.isNullAt(tlmBad.fieldIndex("tlm_a1")))
  }

  test("packet parse: regex-valid but out-of-range coordinates dead-letter safely") {
    val lines = Seq("N0BAD>APRS:!9999.99N/19999.99W-junk").toDF("raw")
    val p = graft.streaming.PacketParse.parse(lines).collect().head
    assert(p.isNullAt(p.fieldIndex("lat")))
    assert(p.getAs[String]("packet_type") == "other")
    assert(p.isNullAt(p.fieldIndex("grid")))
  }

  test("stateful tracker: cumulative haversine distance across micro-batches") {
    import graft.streaming.{PacketFix, StationTracker}
    val in = Files.createTempDirectory("graft_fix_in").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // two batches (files) for one station moving 1° north each step, plus a
    // parked station. One file per write + explicit mtimes: the file source
    // orders batches by modification time, and the tracker (correctly) folds
    // in ARRIVAL order — an order-ambiguous fixture would make the expected
    // distance nondeterministic.
    def stampNew(stamp: Long, seen: Set[String]): Set[String] = {
      val files = new java.io.File(in).listFiles().filter(_.getName.endsWith(".parquet"))
      files.filterNot(f => seen(f.getName)).foreach(_.setLastModified(stamp))
      files.map(_.getName).toSet
    }
    val base = 1700000000000L
    Seq(PacketFix("N0CALL", t("2024-01-01 00:00:00"), 40.0, -75.0),
        PacketFix("N0CALL", t("2024-01-01 00:10:00"), 41.0, -75.0),
        PacketFix("PARKED", t("2024-01-01 00:00:00"), 10.0, 10.0))
      .toDS().coalesce(1).write.mode("append").parquet(in)
    val firstBatch = stampNew(base, Set.empty)
    Seq(PacketFix("N0CALL", t("2024-01-01 00:20:00"), 42.0, -75.0))
      .toDS().coalesce(1).write.mode("append").parquet(in)
    val secondBatch = stampNew(base + 60000, firstBatch)
    // a LATE fix (event time before the last folded fix) arriving in a later
    // micro-batch must be dropped — folding it in arrival order would count
    // the 42°→40.5° backtrack and inflate total_km
    Seq(PacketFix("N0CALL", t("2024-01-01 00:05:00"), 40.5, -75.0))
      .toDS().coalesce(1).write.mode("append").parquet(in)
    stampNew(base + 120000, secondBatch)

    val out = Files.createTempDirectory("graft_fix_out").toString
    val ckpt = Files.createTempDirectory("graft_fix_ckpt").toString
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[PacketFix]].schema)
      .option("maxFilesPerTrigger", 1) // force multiple micro-batches → state carries over
      .parquet(in).as[PacketFix]
    val q = StationTracker.track(stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val finalStats = spark.read.parquet(out)
      .orderBy(col("n_fixes").desc) // latest emission has the max n_fixes per station
      .collect().groupBy(_.getAs[String]("callsign")).map { case (k, rs) => k -> rs.head }
    val n0 = finalStats("N0CALL")
    // 3, not 4: the late batch-3 fix was dropped, not folded
    assert(n0.getAs[Long]("n_fixes") == 3)
    // 2 × ~111.19 km per degree of latitude — unchanged by the late fix
    assert(math.abs(n0.getAs[Double]("total_km") - 222.39) < 0.5)
    assert(finalStats("PARKED").getAs[Double]("total_km") == 0.0)
  }

  test("transformWithState twin emits exactly what flatMapGroupsWithState emits") {
    import graft.streaming.{PacketFix, StationTracker, StationTrackerTws}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // same fixture discipline as the tracker test: one file per micro-batch,
    // mtime-stamped so arrival order is deterministic
    val in = Files.createTempDirectory("graft_tws_in").toString
    def stampNew(stamp: Long, seen: Set[String]): Set[String] = {
      val files = new java.io.File(in).listFiles().filter(_.getName.endsWith(".parquet"))
      files.filterNot(f => seen(f.getName)).foreach(_.setLastModified(stamp))
      files.map(_.getName).toSet
    }
    val base = 1700000000000L
    Seq(PacketFix("N0CALL", t("2024-01-01 00:00:00"), 40.0, -75.0),
        PacketFix("N0CALL", t("2024-01-01 00:10:00"), 41.0, -75.0),
        PacketFix("TWIN", t("2024-01-01 00:00:00"), 10.0, 10.0),
        // distinct fix with a TIED timestamp — folds deterministically
        PacketFix("TWIN", t("2024-01-01 00:00:00"), 10.0, 11.0))
      .toDS().coalesce(1).write.mode("append").parquet(in)
    val b1 = stampNew(base, Set.empty)
    Seq(PacketFix("N0CALL", t("2024-01-01 00:20:00"), 42.0, -75.0),
        // late cross-batch fix — dropped by both implementations
        PacketFix("TWIN", t("2023-12-31 23:59:00"), 10.0, 12.0))
      .toDS().coalesce(1).write.mode("append").parquet(in)
    stampNew(base + 60000, b1)

    def runTracker(fn: org.apache.spark.sql.Dataset[PacketFix] =>
        org.apache.spark.sql.Dataset[graft.streaming.StationStat]): Set[(String, Long, Long)] = {
      val out = Files.createTempDirectory("graft_tws_out").toString
      val ckpt = Files.createTempDirectory("graft_tws_ckpt").toString
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[PacketFix]].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in).as[PacketFix]
      val q = fn(stream).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => (r.getAs[String]("callsign"), r.getAs[Long]("n_fixes"),
          math.round(r.getAs[Double]("total_km") * 1e6)))
        .toSet
    }

    val viaFmgws = runTracker(StationTracker.track)
    // transformWithState refuses the HDFS-backed default store — RocksDB only
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val viaTws =
      try runTracker(StationTrackerTws.track)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(viaFmgws.nonEmpty)
    assert(viaTws == viaFmgws,
      s"tws=$viaTws\nfmgws=$viaFmgws")
    // the tied-timestamp TWIN fixes both folded (one degree of longitude
    // apart at lat 10 ≈ 109.5 km); the late cross-batch fix stayed dropped
    assert(viaFmgws.exists { case (c, n, km) => c == "TWIN" && n == 2 && km > 0 })
  }

  test("streaming session windows: count preserved per user") {
    val out = Files.createTempDirectory("graft_sess_out").toString
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString
    val q = EventStream.writeParquet(
      EventStream.sessionCounts(EventStream.readEvents(spark, dropDir)), out, ckpt)
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    // all sessions fully closed by the watermark must carry their full counts
    assert(streamed.agg(sum(col("n"))).head().getLong(0) > 0)
    assert(streamed.filter(col("n") <= 0).count() == 0)
    // every emitted (user, session-size) must exist in the batch
    // gaps-and-islands result as a multiset — session_window(30 min) and the
    // batch gap>1800s logic agree except on measure-zero exact-boundary gaps
    def multiset(rows: Array[org.apache.spark.sql.Row]): Map[(Long, Long), Int] =
      rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n")))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val streamedMs = multiset(streamed.select("user_id", "n").collect())
    val batchMs = multiset(run("q_ts_session").select("user_id", "n").collect())
    streamedMs.foreach { case (pair, cnt) =>
      assert(batchMs.getOrElse(pair, 0) >= cnt,
        s"streamed session $pair x$cnt missing from batch result")
    }
  }

  test("gated streaming family runs on the RocksDB state store; conf restored after") {
    import graft.streaming.StreamQueries
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val shufKey = "spark.sql.shuffle.partitions"
    val prevProv = spark.conf.getOption(provKey)
    val prevShuf = spark.conf.get(shufKey)
    // inside the wrapper: provider is RocksDB, width is the stream width —
    // this is the exact code path all seven q_stream_* builders run through
    val out = Files.createTempDirectory("graft_rdb_out").toString
    val ckpt = Files.createTempDirectory("graft_rdb_ckpt").toString
    val lastProgress = StreamQueries.withStreamConf(spark) {
      assert(spark.conf.get(provKey) == StreamQueries.StateStoreProvider)
      val q = EventStream.writeParquet(
        EventStream.tumblingCounts(EventStream.readEvents(spark, dropDir)),
        out, ckpt)
      q.awaitTermination()
      q.lastProgress
    }
    // conf scoping: both keys restored on exit
    assert(spark.conf.getOption(provKey) == prevProv)
    assert(spark.conf.get(shufKey) == prevShuf)
    // state-size sanity from the query's own progress: the stateful operator
    // reported rows in state, and the store's custom metrics are RocksDB's
    // (the HDFS provider emits loadedMapCache* metrics, never rocksdb*)
    val ops = lastProgress.stateOperators
    assert(ops.nonEmpty, lastProgress.prettyJson)
    // numRowsTotal is deliberately NOT asserted: the family runs with
    // trackTotalNumberOfRows=false (counting does a point-get before every
    // put/delete purely for this metric), which reports it as -1/0. State
    // presence shows through memoryUsedBytes instead — RocksDB's own
    // memtable/block-cache accounting, nonzero whenever state was written.
    assert(ops.exists(_.memoryUsedBytes > 0), lastProgress.prettyJson)
    val metricKeys = ops.flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
    assert(metricKeys.exists(_.startsWith("rocksdb")),
      s"no rocksdb* custom metric in ${metricKeys.mkString(",")}")
  }

  /** Lines from this spec's fixtures: every payload family the parse tests
    * above pin, plus noise and a malformed analog. */
  private val fixtureLines = Seq(
    "N0CALL>APRS,WIDE1-1:!4903.50N/07201.75W-test comment",
    "DB0XYZ-10>APDG03,TCPIP*:=5230.25S/01323.50E#",
    "garbage with no structure",
    "K1ABC-9>APDR16,TCPIP*:=3725.00N/12200.00W>",
    "N0CALL>APRS:@092345z4903.50N/07201.75W>mobile",
    "W1AW>APRS,TCPIP*::K1ABC-9  :hello there{001",
    "DB0XYZ>APRS:>station up and running",
    "K2DEF>APRS:!4741.10N/12217.50W-Seattle area",
    "N0CALL>APRS:;LEADER   *092345z4903.50N/07201.75W>chase car",
    "N0CALL>APRS:;OLDOBJ   _092345z4903.50N/07201.75W>gone",
    "W1AW>APRS:T#005,199.9,27.0,3.5,12.1,0.0,10110001",
    "K7WX>APRS:_10090556c220s004g005t077r000p000P000h50b09900",
    "K7BAD>APRS:_10090556c...s...g...t077r000",
    "W2BAD>APRS:T#12,bogus,1,2,3,4,00000000",
    "N0BAD>APRS:!9999.99N/19999.99W-junk")

  test("packet parse: one projection, same schema, rows and optimized plan as the withColumn chain") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graft.ColumnBridge
    // the parse as a chain of withColumn calls, the shape it replaced
    def chained(lines: DataFrame): DataFrame = {
      val pf = ColumnBridge.column(
        graft.streaming.PacketFields(ColumnBridge.expression(col("raw"))))
      val fields = Seq("callsign", "path", "payload", "dti", "lat", "lon")
        .map(f => f -> col(s"_pf.$f")) ++
        Seq("packet_type" -> coalesce(col("_pf.packet_type"), lit("other")),
          "obj_name" -> col("_pf.obj_name"), "obj_killed" -> col("_pf.obj_killed"),
          "tlm_seq" -> expr("try_cast(_pf.tlm_seq_s AS INT)"),
          "tlm_a1" -> expr("try_cast(_pf.tlm_a1_s AS DOUBLE)"),
          "tlm_bits" -> col("_pf.tlm_bits"),
          "wx_wind_dir" -> expr("try_cast(_pf.wx_dir_s AS INT)"),
          "wx_wind_speed" -> expr("try_cast(_pf.wx_speed_s AS INT)"),
          "wx_gust" -> expr("try_cast(_pf.wx_gust_s AS INT)"),
          "wx_temp_f" -> expr("try_cast(_pf.wx_temp_s AS INT)")) ++
        Seq("msg_addressee", "msg_text", "status_text", "grid", "mice_speed",
          "mice_course", "tp_callsign", "pos_ambiguity").map(f => f -> col(s"_pf.$f"))
      fields.foldLeft(lines.withColumn("_pf", pf)) { case (d, (n, c)) => d.withColumn(n, c) }
        .drop("_pf")
    }
    // a real text scan: a LocalRelation would be constant-folded whole
    val in = Files.createTempDirectory("graft_parse_eq").toString
    Files.writeString(java.nio.file.Path.of(in, "lines.txt"), fixtureLines.mkString("", "\n", "\n"))
    val lines = spark.read.text(in).withColumnRenamed("value", "raw")
    val got = PacketParse.parse(lines)
    val want = chained(lines)
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == fixtureLines.size)
    val plan = got.queryExecution.optimizedPlan
    assert("graft_packet_fields\\(".r.findAllIn(plan.toString).size == 1, plan)
    assert(plan.sameResult(want.queryExecution.optimizedPlan),
      s"optimized plans differ:\n$plan\n${want.queryExecution.optimizedPlan}")
  }

  test("collector sink: source → pipeline → sink writes one file per station_bucket per batch") {
    // two drop files, each holding every bucket, read as two input splits of
    // one AvailableNow batch: without the sink's repartition each split would
    // write its own file into every bucket dir
    val in = Files.createTempDirectory("graft_sink_in").toString
    val out = Files.createTempDirectory("graft_sink_out").toString
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    (0 until 2).foreach { f =>
      Files.writeString(java.nio.file.Path.of(in, s"feed$f.txt"),
        (fixtureLines ++ fixtureLines.map(l => s"Q$f$l")).mkString("", "\n", "\n"))
    }
    import graft.streaming.PacketCollector
    PacketCollector.sink(PacketCollector.pipeline(PacketCollector.source(spark, in, None)),
      out, ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val res = spark.read.parquet(out)
    assert(res.count() == 4L * fixtureLines.size)
    assert(res.columns.contains("ingest_ts"))
    // each committed file's batch, from the sink's own log
    val log = new java.io.File(out, "_spark_metadata")
    val perBatch = log.listFiles().filter(_.getName.forall(_.isDigit)).toSeq.map { b =>
      val files = scala.io.Source.fromFile(b).getLines().drop(1)
        .map(l => "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)).toSeq
      b.getName -> files
    }
    assert(perBatch.nonEmpty)
    perBatch.foreach { case (batch, files) =>
      val byBucket = files.groupBy(f => "station_bucket=[^/]+".r.findFirstIn(f).get)
      assert(byBucket.size > 2, s"batch $batch wrote only ${byBucket.keys}")
      byBucket.foreach { case (bucket, fs) =>
        assert(fs.size == 1, s"batch $batch wrote ${fs.size} files into $bucket: $fs")
      }
    }
  }
}
