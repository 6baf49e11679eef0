package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest (SURVEY.md §2.10) — the reference's reason to
  * exist is collecting a live APRS-IS packet feed into queryable storage
  * (BASELINE.json north star: "Structured Streaming for APRS packet ingestion
  * + DataFrame writes"). This module is that pipeline, Spark-native:
  *
  *   readStream (drop-dir / socket)  →  parse (PacketParse)  →
  *   watermarked windowed aggregates / dedup  →  parquet sink (checkpointed)
  *
  * Every transformation is the SAME DataFrame expression as its batch twin in
  * graft.operators.TimeSeries — Structured Streaming reuses them unchanged,
  * which is what makes the batch queries the correctness oracle for the
  * stream (see StreamingSpec: AvailableNow over static input ≡ batch result).
  *
  * Scale design: state (window aggs, dedup keys) is bounded by the watermark —
  * late rows beyond 2 h are dropped and their state evicted, so executor
  * state-store size is O(active windows × key cardinality), independent of
  * stream length. Checkpointing makes the sink exactly-once.
  */
object EventStream {

  /** Event schema as produced by a normalized ingest drop-dir (micros ts). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a drop directory of event parquet files. */
  def readEvents(spark: SparkSession, dropDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dropDir)

  /** Streaming twin of q_ts_tumbling: per-hour counts/sums per event_type.
    * The sum uses the exact-decimal discipline (graft.Exact): streaming state
    * merges add doubles in yet another order, so only an associative exact
    * accumulation keeps stream ≡ batch ≡ oracle bit-for-bit. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Exact.moneySum(col("value")).as("s"))

  /** Streaming twin of q_ts_session: 30-min-gap session windows per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming dedup on the event id, state bounded by the watermark.
    * The WATERMARKED ts column must be part of the dedup keys: without it
    * Spark keeps every id's state forever (the guide's "stores the data
    * from all the past records" case) and the watermark evicts nothing —
    * the exact unbounded-growth liability the RocksDB move exists to
    * avoid (r13 review). Re-deliveries are exact copies sharing ts, so
    * the keyed results are unchanged. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours").dropDuplicates("event_id", "ts")

  /** APRS-IS 30-second duplicate suppression — the server-side dupe filter
    * every collector implements: drop a packet whose (callsign, payload)
    * content was seen under 30 s ago. A kept packet is by definition the
    * first of a run of same-content packets chained closer than 30 s — i.e.
    * the START of a 30-second-gap session — so the filter is EXACTLY a
    * native session window keyed on the content: per session, the first
    * packet is the kept one and `n − 1` copies were suppressed. (aprsc's
    * variant restarts the window from the last ACCEPTED packet instead of
    * the last SEEN one; the seen-based rule is the one expressible as a
    * session/lag computation on both engines, and the two agree on the
    * dominant real case — identical copies digipeated within seconds.)
    * Session state is watermark-bounded like [[sessionCounts]]. */
  def dupeFilterCounts(events: DataFrame): DataFrame =
    events
      .select(col("ts"),
        concat(lit("U"), col("user_id").cast("string")).as("callsign"),
        col("event_type").as("payload"))
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 seconds"),
        col("callsign"), col("payload"))
      .agg(count(lit(1)).as("n"))

  /** Stream-STATIC enrichment join — the dimension-lookup shape every
    * event pipeline runs (enrich each event with its account/customer/device
    * row, then aggregate): watermarked stream inner-joined to a broadcast
    * static dim, per-hour windowed aggregates per segment. The join is
    * STATELESS (each micro-batch probes the broadcast dim; no join state
    * store), and the watermark is established on the source BEFORE the join,
    * so window emission follows the source's event-time progress exactly as
    * in [[tumblingCounts]]. At 100 TB the static side is a snapshot dim
    * table refreshed between runs — broadcast while it fits, else a
    * shuffle join against the (already-keyed) stream. */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), graft.Exact.moneySum(col("value")).as("s"))

  /** Stream-stream self-join: pairs of events of the same user within ±5 min
    * (the co-occurrence/correlation shape). Both sides carry watermarks and
    * the join condition carries the time bound, so each side's buffered state
    * is evicted once the other side's watermark passes the range — state is
    * O(5-min window × rate), independent of stream length. In append mode a
    * match is emitted as soon as both rows have arrived; over static
    * AvailableNow input that is ALL matches, which is what makes the batch
    * join the exact oracle. */
  def pairCounts(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.withWatermark("ts", "2 hours")
      .select(col("event_id").as("ida"), col("user_id").as("ua"), col("ts").as("tsa"))
    val b = right.withWatermark("ts", "2 hours")
      .select(col("event_id").as("idb"), col("user_id").as("ub"), col("ts").as("tsb"))
    a.join(b,
      col("ua") === col("ub") && col("ida") < col("idb") &&
        col("tsb") >= col("tsa") - expr("interval 5 minutes") &&
        col("tsb") <= col("tsa") + expr("interval 5 minutes"))
  }

  /** CUSTOM-state streaming aggregation via flatMapGroupsWithState — the
    * arbitrary-state API gated against a relational oracle (StationTracker
    * uses the same surface but is only self-oracled): per-user running
    * (count, exact cents, first/last event micros). Every state field is
    * ORDER-INSENSITIVE (count/sum associative, min/max commutative), which
    * is the design requirement for this API on a real stream — micro-batch
    * boundaries and in-batch row order are not deterministic, so any
    * order-sensitive fold here would be a run-to-run hash hazard. One row
    * per (user, batch) is appended; fields are monotone, so the read-back
    * count is strictly monotone across emits, so the read-back picks the
    * final state via max_by(_, n) — never max() of the running sum, which
    * is only monotone for non-negative values. */
  def userRunningState(events: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (n, c, mn, mx) =
            state.getOption.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { r =>
            n += 1; c += r._2
            mn = math.min(mn, r._3); mx = math.max(mx, r._3)
          }
          state.update((n, c, mn, mx))
          Iterator((user, n, c, mn, mx))
      }
  }

  /** Checkpointed parquet sink, processing all available input then stopping
    * (Trigger.AvailableNow) — the batch-refresh deployment mode; drop the
    * trigger for a continuously-running collector. */
  def writeParquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
}

/** APRS-flavored packet parsing as pure DataFrame expressions (no UDFs), the
  * parse stage between the raw text feed and the typed events table.
  *
  * Handles the TNC2 text form an APRS-IS feed delivers:
  * `CALLSIGN>DEST,PATH:payload`, covering the common payload families:
  *  - position reports, bare (`!` `=`) and timestamped (`/` `@`, 7-char
  *    DHM/HMS timestamp prefix), ddmm.hh minutes notation;
  *  - messages (`:ADDRESSEE :text`) with addressee + text extraction;
  *  - status reports (`>`);
  *  - objects (`;NAME*ddhhmmz` + position body) with name, alive/killed
  *    flag and the object's own position;
  *  - telemetry (`T#SSS,a1,..,a5,bits`): sequence, first analog channel,
  *    digital bits;
  *  - positionless weather (`_ddhhmmmc...s...g...t...`): wind dir/speed,
  *    gust, temperature;
  *  - COMPRESSED positions (base-91 body after `!` `=` `/` `@` `;`):
  *    lat = 90 − yyyy/380926, lon = −180 + xxxx/190463;
  *  - Mic-E (`` ` `` and `'` DTIs): latitude digits, N/S, longitude offset
  *    and E/W decoded from the DESTINATION field, longitude and
  *    speed/course from the byte−28 info field (`mice_speed`,
  *    `mice_course` columns; ambiguity digits K/L/Z zero-fill);
  *  - third-party tunnels (`}`): the inner TNC2 packet is re-parsed one
  *    level — inner position/speed surface on the outer row plus the inner
  *    source callsign as `tp_callsign`;
  *  - a `packet_type` classification column and the Maidenhead grid locator
  *    (6 characters) derived from the parsed position.
  *
  * Unparseable fields are null/empty — the stream never dies on a malformed
  * packet; `packet_type` = 'other' routes them to a dead-letter-style branch.
  */
object PacketParse {

  /** One fused pass: [[PacketFields]] evaluates once per row (the optimizer
    * keeps the expensive struct-producing projection separate from the
    * 24-field extraction above it — CollapseProject refuses to duplicate a
    * non-cheap expression — and whole-stage codegen fuses both into one
    * stage), replacing the ~15 regex executions per row of the original
    * expression-tree formulation. The numeric fields come out of the struct
    * as the RAW matched substrings and go through the SAME ANSI `try_cast`s
    * as before: under Spark 4's ANSI-on default a plain cast of a malformed
    * field off the air would KILL the stream, and try_cast nulls it instead —
    * and keeping the cast at this layer pins cast semantics bit-for-bit to
    * the replaced regexp_extract formulation (StreamingSpec's malformed
    * telemetry/weather fixtures, Round7Spec's format∘parse identity).
    * The parsed fields are appended to `lines`' columns, so `lines` must not
    * already carry a column of the same name. */
  def parse(lines: DataFrame, raw: String = "raw"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val pf = ColumnBridge.column(PacketFields(ColumnBridge.expression(col(raw))))
    // one projection for the 24 fields (a withColumn chain re-analyzes the
    // growing plan once per call), over `_pf`'s own child projection
    lines.select(col("*"), pf.as("_pf"))
      .select(col("*"),
        col("_pf.callsign").as("callsign"),
        col("_pf.path").as("path"),
        col("_pf.payload").as("payload"),
        col("_pf.dti").as("dti"),
        col("_pf.lat").as("lat"),
        col("_pf.lon").as("lon"),
        // null raw → null struct → coalesce reproduces the classifier's
        // otherwise("other") branch
        coalesce(col("_pf.packet_type"), lit("other")).as("packet_type"),
        col("_pf.obj_name").as("obj_name"),
        col("_pf.obj_killed").as("obj_killed"),
        expr("try_cast(_pf.tlm_seq_s AS INT)").as("tlm_seq"),
        expr("try_cast(_pf.tlm_a1_s AS DOUBLE)").as("tlm_a1"),
        col("_pf.tlm_bits").as("tlm_bits"),
        expr("try_cast(_pf.wx_dir_s AS INT)").as("wx_wind_dir"),
        expr("try_cast(_pf.wx_speed_s AS INT)").as("wx_wind_speed"),
        expr("try_cast(_pf.wx_gust_s AS INT)").as("wx_gust"),
        expr("try_cast(_pf.wx_temp_s AS INT)").as("wx_temp_f"),
        col("_pf.msg_addressee").as("msg_addressee"),
        col("_pf.msg_text").as("msg_text"),
        col("_pf.status_text").as("status_text"),
        col("_pf.grid").as("grid"),
        col("_pf.mice_speed").as("mice_speed"),
        col("_pf.mice_course").as("mice_course"),
        col("_pf.tp_callsign").as("tp_callsign"),
        col("_pf.pos_ambiguity").as("pos_ambiguity"))
      .drop("_pf")
  }
}
