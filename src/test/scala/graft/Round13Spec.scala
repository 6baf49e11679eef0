package graft

import org.apache.spark.sql.functions._

/** Behavior gates for the round-13 surface: the three new packet families
  * (Mic-E, compressed base-91, NMEA), the third-party tunnel metamorphic
  * relation, the value-banded global rank, and the APRS-IS passcode. Each
  * decode is checked against an independent driver-side brute-force
  * computed straight from the generating integers — a THIRD formulation
  * beside the fused char parser and the regex reference (PacketFieldsSpec),
  * pinning semantics rather than cross-implementation agreement.
  */
class Round13Spec extends SparkSuite {
  import spark.implicits._

  private def parseAll(lines: Seq[String]) =
    graft.streaming.PacketParse.parse(lines.toDF("raw"))

  test("mice: encode∘decode identity against driver-side arithmetic, all encoder branches") {
    // the q_packet_mice rendering scheme replayed in plain Scala
    def render(id: Long): (String, Double, Double, Long, Long) = {
      val latDeg = (id % 90).toInt; val latMinC = ((id * 7) % 6000).toInt
      val lonDeg = ((id * 3) % 180).toInt; val lonMinC = ((id * 13) % 6000).toInt
      val north = id % 2 == 0; val west = id % 3 != 0
      val spd = ((id * 11) % 800).toInt; val crs = ((id * 17) % 400).toInt
      val digits = Array(latDeg / 10, latDeg % 10, latMinC / 1000,
        latMinC / 100 % 10, latMinC / 10 % 10, latMinC % 10)
      val off = lonDeg <= 9 || lonDeg >= 100
      def dc(i: Int, flag: Boolean) = (if (flag) 'P' + digits(i) else '0' + digits(i)).toChar
      val dest = "" + ('P' + digits(0)).toChar + ('P' + digits(1)).toChar +
        ('P' + digits(2)).toChar + dc(3, north) + dc(4, off) + dc(5, west)
      val b1 =
        if (lonDeg <= 9) lonDeg + 118 else if (lonDeg <= 99) lonDeg + 28
        else if (lonDeg <= 109) lonDeg + 8 else lonDeg - 72
      val lonMin = lonMinC / 100
      val b2 = lonMin + 28 + (if (lonMin <= 9) 60 else 0)
      val info = Array(b1, b2, lonMinC % 100 + 28, spd / 10 + 28,
        spd % 10 * 10 + crs / 100 + 28, crs % 100 + 28).map(_.toChar).mkString
      val raw = s"U$id>$dest,TCPIP*:`$info>/"
      val lat = (latDeg.toDouble + latMinC.toDouble / 100.0 / 60.0) * (if (north) 1.0 else -1.0)
      val lon = (lonDeg.toDouble + lonMinC.toDouble / 100.0 / 60.0) * (if (west) -1.0 else 1.0)
      (raw, lat, lon, spd.toLong, crs.toLong)
    }
    // ids picked to hit all four lon-degree encoder branches (0-9 needs
    // id*3 % 180 <= 9 etc.) plus both hemisphere combos
    val cases = (0L until 400L).map(render)
    val got = parseAll(cases.map(_._1))
      .select("raw", "packet_type", "lat", "lon", "mice_speed", "mice_course")
      .collect().map(r => r.getAs[String]("raw") -> r).toMap
    cases.foreach { case (raw, lat, lon, spd, crs) =>
      val r = got(raw)
      assert(r.getAs[String]("packet_type") == "mice", raw)
      assert(r.getAs[Double]("lat") == lat, raw)
      assert(r.getAs[Double]("lon") == lon, raw)
      assert(r.getAs[Long]("mice_speed") == spd, raw)
      assert(r.getAs[Long]("mice_course") == crs, raw)
    }
    // branch coverage proof: the generated ids really exercise all four
    val degs = (0L until 400L).map(id => ((id * 3) % 180).toInt)
    assert(degs.exists(_ <= 9) && degs.exists(d => d >= 10 && d <= 99) &&
      degs.exists(d => d >= 100 && d <= 109) && degs.exists(_ >= 110))
  }

  test("mice: the >=800 speed and >=400 course wraps decode per the spec rule") {
    // encoder that ADDS the wrap offsets (the alternative legal encoding):
    // speed 123 stored as 923, course 251 stored as 651
    val spd = 123; val crs = 251
    val s9 = spd + 800; val c6 = crs + 400
    val info = Array('(', 'a', 'b',
      (s9 / 10 + 28).toChar, (s9 % 10 * 10 + c6 / 100 + 28).toChar,
      (c6 % 100 + 28).toChar).mkString
    val raw = s"W1AW>T7SUPW:`$info>/"
    val r = parseAll(Seq(raw)).select("packet_type", "mice_speed", "mice_course").head()
    assert(r.getAs[String]("packet_type") == "mice")
    assert(r.getAs[Long]("mice_speed") == spd)
    assert(r.getAs[Long]("mice_course") == crs)
  }

  test("compressed: base-91 decode identity incl. the exact ±90/±180 boundaries") {
    def render(lval: Long, nval: Long): String = {
      def b91(v: Long) = Array(v / 753571, v / 8281 % 91, v / 91 % 91, v % 91)
        .map(d => (33 + d).toChar).mkString
      s"K1ABC>APRS,TCPIP*:!/${b91(lval)}${b91(nval)}>   "
    }
    val vals = Seq(0L, 1L, 91L, 8281L, 753571L, 12345678L, 68566680L)
    val lines = for (l <- vals; n <- vals) yield (l, n, render(l, n))
    val got = parseAll(lines.map(_._3)).select("raw", "packet_type", "lat", "lon")
      .collect().map(r => r.getAs[String]("raw") -> r).toMap
    lines.foreach { case (l, n, raw) =>
      val r = got(raw)
      assert(r.getAs[String]("packet_type") == "position", raw)
      assert(r.getAs[Double]("lat") == 90.0 - l.toDouble / 380926.0, raw)
      assert(r.getAs[Double]("lon") == -180.0 + n.toDouble / 190463.0, raw)
    }
    // the extreme corners land EXACTLY on the gates (380926·180 = 190463·360
    // = 68566680), so the boundary is inclusive, not rounded away
    val corner = got(render(68566680L, 68566680L))
    assert(corner.getAs[Double]("lat") == -90.0 && corner.getAs[Double]("lon") == 180.0)
    // one past the representable domain decodes out of range → other
    val over = parseAll(Seq(render(68566681L, 0L))).select("packet_type", "lat").head()
    assert(over.getAs[String]("packet_type") == "other" && over.isNullAt(1))
  }

  test("nmea: RMC and GGA layouts decode to the same arithmetic as the geo oracle") {
    def coords(id: Long) = {
      val latDeg = id % 90; val latMinC = (id * 7) % 6000
      val lonDeg = (id * 3) % 180; val lonMinC = (id * 13) % 6000
      val ns = if (id % 2 == 0) "N" else "S"; val ew = if (id % 3 == 0) "E" else "W"
      val latS = f"$latDeg%02d${latMinC / 100}%02d.${latMinC % 100}%02d,$ns"
      val lonS = f"$lonDeg%03d${lonMinC / 100}%02d.${lonMinC % 100}%02d,$ew"
      val lat = (latDeg.toDouble + latMinC.toDouble / 100.0 / 60.0) * (if (id % 2 == 0) 1.0 else -1.0)
      val lon = (lonDeg.toDouble + lonMinC.toDouble / 100.0 / 60.0) * (if (id % 3 == 0) 1.0 else -1.0)
      (latS, lonS, lat, lon)
    }
    val lines = (0L until 200L).map { id =>
      val (latS, lonS, lat, lon) = coords(id)
      val raw =
        if (id % 2 == 0) s"T$id>APRS,TCPIP*:$$GPRMC,120000,A,$latS,$lonS,000.5,054.7,191194,,*00"
        else s"T$id>APRS,TCPIP*:$$GPGGA,120000,$latS,$lonS,1,08,0.9,100.0,M,,M,,*00"
      (raw, lat, lon)
    }
    val got = parseAll(lines.map(_._1)).select("raw", "packet_type", "lat", "lon")
      .collect().map(r => r.getAs[String]("raw") -> r).toMap
    lines.foreach { case (raw, lat, lon) =>
      val r = got(raw)
      assert(r.getAs[String]("packet_type") == "nmea", raw)
      assert(r.getAs[Double]("lat") == lat, raw)
      assert(r.getAs[Double]("lon") == lon, raw)
    }
  }

  test("thirdparty: metamorphic — outer position equals the direct parse of the inner line") {
    val inners = Seq(
      "U7>APRS,TCPIP*:!4903.50N/07201.75W-x",
      "W1AW>T7SUPW:`l?Ns>/m",
      "K1ABC>APRS:!/5L!!<*e7>7P[c",
      "N0TRK>APRS:$GPRMC,120000,A,4916.45,N,12311.12,W,1,2,3,,",
      "DB0XYZ>APRS:>status only")
    val innerRows = parseAll(inners)
      .select("raw", "callsign", "lat", "lon", "mice_speed")
      .collect().map(r => r.getAs[String]("raw") -> r).toMap
    val outers = inners.map(i => s"IGATE-1>APRS,TCPIP*:}$i")
    val outerRows = parseAll(outers)
      .select("raw", "packet_type", "tp_callsign", "lat", "lon", "mice_speed")
      .collect().map(r => r.getAs[String]("raw") -> r).toMap
    inners.zip(outers).foreach { case (i, o) =>
      val ir = innerRows(i); val or = outerRows(o)
      assert(or.getAs[String]("packet_type") == "thirdparty", o)
      assert(or.getAs[String]("tp_callsign") == ir.getAs[String]("callsign"), o)
      assert(or.getAs[java.lang.Double]("lat") == ir.getAs[java.lang.Double]("lat"), o)
      assert(or.getAs[java.lang.Double]("lon") == ir.getAs[java.lang.Double]("lon"), o)
      assert(or.getAs[java.lang.Long]("mice_speed") == ir.getAs[java.lang.Long]("mice_speed"), o)
    }
  }

  test("rowNumberBanded equals the bare global row_number window, any band width") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // three NaN scores: floor(-NaN*k) CASTS TO 0 (GlobalRank.scala scaladoc),
    // which would land NaN mid-order — so every caller must band NaN
    // explicitly to Long.MinValue, matching NaN-first DESC window order
    val data = (0 until 500).map(i => (i.toLong,
      if (i % 167 == 0) Double.NaN else rnd.nextDouble() * 200 - 100))
      .toDF("id", "score")
    val expect = data
      .withColumn("rk", row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    for (k <- Seq(1, 8, 1024)) {
      // the NaN guard the helper's scaladoc prescribes: NaN sorts first
      // under DESC, so it bands to Long.MinValue
      val band = when(isnan(col("score")), lit(Long.MinValue))
        .otherwise(floor(-col("score") * k).cast("long"))
      val got = graft.operators.GlobalRank.rowNumberBanded(
        data, band, Seq(col("score").desc, col("id")), "rk")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(got.sameElements(expect), s"band width $k diverged")
    }
  }

  test("rowNumberBanded: null bands, totalOut, and chained ranks") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // score null every 43rd row: nulls sort FIRST under ASC in Spark SQL,
    // and the null band must form its own band (the <=> join device), not
    // drop its rows or collide with band 0. ASC only: the offsets fold
    // always orders the null band first, so a DESC sort on a nullable key
    // (Spark: NULLS LAST) needs explicit null banding — see the scaladoc.
    val data = (0 until 400).map(i => (i.toLong,
      if (i % 43 == 0) null else java.lang.Double.valueOf(rnd.nextDouble() * 50),
      rnd.nextInt(20).toLong))
      .toDF("id", "score", "f")
    val expect = data
      .withColumn("r1", row_number().over(
        Window.orderBy(col("score").asc, col("id"))).cast("long"))
      .withColumn("r2", row_number().over(
        Window.orderBy(col("f").desc, col("id"))).cast("long"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    // null scores band to null (floor(null) = null) — their own band,
    // ordered first like the window's NULLS FIRST default under ASC
    val t1 = graft.operators.GlobalRank.rowNumberBanded(
      data, floor(col("score") * 4).cast("long"),
      Seq(col("score").asc, col("id")), "r1", "nn")
    val t2 = graft.operators.GlobalRank.rowNumberBanded(
      t1, -col("f"), Seq(col("f").desc, col("id")), "r2")
    val got = t2.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("r1"), r.getAs[Long]("r2")))
    assert(got.sameElements(expect), "chained banded ranks diverged")
    // totalOut: every row carries the global count, through the chain
    val nn = t2.select("nn").distinct().collect().map(_.getLong(0))
    assert(nn.sameElements(Array(400L)), s"totalOut wrong: ${nn.toSeq}")
  }

  test("q_dedup_substring: interval-union coverage equals a driver-side brute force") {
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val K = 8
    // brute force: string 8-gram occurrence counts, repeated positions,
    // per-doc interval union, per-source rollup
    val grams = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val perDoc = docs.map { case (id, src, text) =>
      val toks = text.split(" ", -1)
      val gs = if (toks.length < K) Array.empty[String]
        else (0 to toks.length - K).map(i => toks.slice(i, i + K).mkString(" ")).toArray
      gs.foreach(g => grams(g) += 1)
      (id, src, toks.length, gs)
    }.filter(_._4.nonEmpty)
    val expect = perDoc.groupBy(_._2).map { case (src, ds) =>
      var nDocs = 0L; var withRep = 0L; var repTok = 0L; var total = 0L
      ds.foreach { case (_, _, ntok, gs) =>
        nDocs += 1; total += ntok
        val pos = gs.zipWithIndex.collect { case (g, p) if grams(g) >= 2 => p }
        if (pos.nonEmpty) {
          withRep += 1
          repTok += K + pos.sliding(2).collect { case Array(a, b) => math.min(K, b - a) }.sum
        }
      }
      src -> (nDocs, withRep, repTok, total)
    }
    val got = run("q_dedup_substring").collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val (n, w, rep, tot) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("docs_with_rep") == w &&
        r.getAs[Long]("rep_tokens") == rep && r.getAs[Long]("total_tokens") == tot,
        r.toString)
    }
  }

  test("dropMemo retires every session-scoped cache, not just the table memo") {
    // populate the table memo AND a module-level artifact cache (the LSH
    // band index), then retire the session: r13 review found six module
    // caches outside the dropMemo hook keeping the retired session's
    // checkpointed plans reachable forever. The caches are pure latency
    // memos, so clearing them mid-run only forces recomputation.
    Tables.table(spark, sf, "orders")
    graft.functions.DedupOps.ensureBands(spark, sf)
    // and a columnar-cached parquet artifact: retiring the session must
    // also release its cached blocks, not just forget the DataFrames
    val (edges, deg) = operators.Graph.orderGraph(spark, sf)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached(df: org.apache.spark.sql.DataFrame) =
      cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cached(edges).nonEmpty && cached(deg).nonEmpty)
    assert(Tables.sessionScopedEntries(spark) > 0)
    Tables.dropMemo(spark)
    assert(Tables.sessionScopedEntries(spark) == 0)
    assert(cached(edges).isEmpty, "dropMemo left the edge artifact cached")
    assert(cached(deg).isEmpty, "dropMemo left the degree artifact cached")
    // and the caches simply refill on next use
    Tables.table(spark, sf, "orders")
    assert(Tables.sessionScopedEntries(spark) > 0)
  }

  test("aprs-is passcode: 15-bit range, SSID/case invariance, spot values") {
    import graft.streaming.AprsIs.passcode
    val rnd = new scala.util.Random(11)
    val calls = (0 until 200).map(_ =>
      (0 until 2 + rnd.nextInt(5)).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString +
        rnd.nextInt(10))
    calls.foreach { c =>
      val p = passcode(c)
      assert(p >= 0 && p <= 0x7fff, c)
      assert(passcode(c.toLowerCase) == p, c)
      assert(passcode(c + "-9") == p, c)
    }
    assert(passcode("N0CALL") == 13023)
  }
}
