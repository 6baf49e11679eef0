package graft

/** Dev probe: A/B SESSION-level conf variants over a query subset, in ONE
  * JVM, each pass prepared by Bench's own rule ([[Bench.passes]]). Each
  * variant is a `;`-joined `k=v` list applied via spark.conf.set BEFORE the
  * variant's plans are built (shuffle width, broadcast threshold, … —
  * anything read at planning time; context-level confs need separate JVMs
  * and are out of scope). Timed passes are INTERLEAVED across variants
  * (v1 pass1, v2 pass1, v1 pass2, …) so a host stall poisons one sample of
  * each arm, not one whole arm — the same discipline as Bench's
  * round-robin. The re-plan is non-adaptive, so an AQE-on variant is not
  * expressible.
  *
  * Usage:
  *   CONF_VARIANTS="base=|w4=spark.sql.shuffle.partitions=4" \
  *   CONF_QUERIES="q_a,q_b" CONF_PASSES=5 \
  *   sbt "runMain graft.ConfProbe <sfDir>"
  * (variant syntax: `name=k=v;k=v`, empty conf list = baseline). With
  * CONF_VARIANTS unset it runs the one `base=` variant: single-query timing
  * under Bench's pass rule.
  *
  * Delimiter limits (advisor r16): conf VALUES containing ';' or '|' are
  * inexpressible (the split runs before k=v parsing) and a key repeated
  * within one variant restores in declaration order on exit (last restore
  * wins) — fine for the flat sweeps this probe runs; don't feed it richer
  * conf values.
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val passes = sys.env.getOrElse("CONF_PASSES", "5").toInt
    val queries = sys.env.getOrElse("CONF_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val variants: Seq[(String, Seq[(String, String)])] =
      sys.env.getOrElse("CONF_VARIANTS", "base=")
        .split('|').map(_.trim).filter(_.nonEmpty).toSeq
        .map { v =>
          val name = v.takeWhile(_ != '=')
          val confs = v.drop(name.length + 1).split(';').toSeq
            .filter(_.contains("=")).map { kv =>
              val Array(k, vv) = kv.split("=", 2); (k, vv)
            }
          (name, confs)
        }

    def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // Prepare each (query, variant) under that variant's confs and run one
    // untimed pass: every variant gets the same warm-up, so pass-1 cold costs
    // (JIT, page cache, codegen) do not land on whichever variant runs first
    // (advisor r16).
    val prepared = scala.collection.mutable.Map[(String, String), Bench.Passes]()
    val builderJobs = Bench.jobCounter(sc)
    for (q <- queries; (vn, confs) <- variants) withConfs(confs) {
      try {
        val p = Bench.passes(spark, sfDir, q, builderJobs)
        prepared((q, vn)) = p
        Bench.runPlan(sc, p.warm())
      } catch { case e: Throwable =>
        System.err.println(s"[conf] warmup $q/$vn failed: ${e.getMessage}") }
    }

    val samples = scala.collection.mutable.Map[(String, String), Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // Alternate variant order per pass: with a fixed order, any systematic
    // first-runner handicap (GC debt from the previous query, page-cache
    // state) is charged to the same arm every pass and reads as a causal
    // difference — observed as a join-only conf "improving" a session-window
    // query by 1 s. Reversing on odd passes cancels the position effect in
    // the median.
    for (p <- 1 to passes; q <- queries;
         (vn, confs) <- (if (p % 2 == 0) variants.reverse else variants)) {
      withConfs(confs) {
        val t = try {
          val prep = prepared((q, vn))
          val t0 = System.nanoTime()
          Bench.runPlan(sc, prep.next())
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[conf] $q/$vn failed: ${e.getMessage}"); -1.0
        }
        samples((q, vn)) = samples((q, vn)) :+ t
      }
    }
    def med(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1 else ok(ok.size / 2)
    }
    println(f"[conf] ${"query"}%-28s ${variants.map(_._1).map(v => f"$v%10s").mkString}")
    val totals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    queries.foreach { q =>
      val meds = variants.map { case (vn, _) => med(samples((q, vn))) }
      variants.map(_._1).zip(meds).foreach { case (vn, m) => totals(vn) += m }
      println(f"[conf] $q%-28s ${meds.map(m => f"$m%10.3f").mkString}")
    }
    println(f"[conf] ${"TOTAL"}%-28s ${variants.map(v => f"${totals(v._1)}%10.3f").mkString}")
    spark.stop()
  }
}
