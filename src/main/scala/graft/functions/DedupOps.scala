package graft.functions

import graft.{Exact, GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines, beyond exact dedup
  * (SURVEY.md §2.11 stretch set): MinHash+LSH banding, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup. Every operator is oracle-checked
  * against DuckDB via engine-portable constructions (md5-based hashing,
  * relational set algebra) — no engine-specific sketches.
  *
  * Scale design (the 100 TB story):
  *  - MinHash/LSH: per-doc signatures are a map-side pass; candidate
  *    generation shuffles only (band-key, doc_id) pairs — never text — and
  *    the self-join is blocked by band key, so cost follows collision count,
  *    not n². This is the canonical massive-corpus near-dup shape.
  *  - SimHash: one 16-bit fingerprint per doc via a relational per-bit
  *    aggregation (codegen-friendly; no per-row lambda), pairs blocked by
  *    source and compared with xor+bit_count.
  *  - n-gram Jaccard: exact verification, blocked by source so the shingle
  *    join never goes quadratic in the corpus.
  *  - Embedding cosine: label-blocked pair generation + codegen'd dot.
  */
object DedupOps {
  import Tables.table

  /** DuckDB-side shingle list (semantically = the relational form below). */
  private val shingleSql =
    "list_distinct(list_transform(range(1, len(toks)-1), i -> " +
      "toks[i]||' '||toks[i+1]||' '||toks[i+2]))"

  /** DuckDB-side minhash signature columns (m0..m7) and the banded key
    * list — THE one copy of the sketch derivation shared by every
    * minhash-family oracle (previously pasted verbatim into seven oracle
    * templates; a banding-scheme change had to hit all seven — r13
    * review). Must stay in lock-step with the Spark-side signature in
    * [[signatures]]. */
  private lazy val mh: String = (0 until NumHashes)
    .map(k => s"list_min(list_transform(sh, x -> md5('$k|' || x))) AS m$k").mkString(", ")
  private lazy val bandList: String = (0 until NumHashes / BandSize)
    .map(b => s"'$b|' || " + (0 until BandSize).map(j => s"m${b * BandSize + j}").mkString(" || "))
    .mkString(", ")

  /** 3-gram shingles as a RELATION (doc_id, source, g), one row per shingle
    * occurrence: the codegen-era StringShingles expression (one compiled eval
    * per document — no per-element lambda dispatch, no window shuffle; an
    * earlier window-lead formulation paid a 500k-row exchange here) exploded
    * map-side. Short docs (<3 tokens) naturally yield zero rows. */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, table(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        explode(VectorExpr.shingles(split(col("text"), " "))).as("g"))

  private val NumHashes = 8
  private val BandSize = 2 // 4 bands of 2 → catches jaccard ≳ 0.5 reliably

  /** Upper bound on a simhash source-block's membership before pair
    * generation (quadratic in block size) — see q_dedup_simhash. */
  private val SimhashBlockCap = 65536

  /** (doc_id, band) LSH banding relation — the shared candidate-generation
    * core of q_dedup_minhash / q_dedup_canonical / q_dedup_components /
    * q_dedup_incremental / q_dedup_cluster_rep. Write-once per (session,
    * sf-dir), like the ANN index and the graph edge artifact: in production
    * the band index over a static corpus IS a persisted table (the
    * incremental query joins new batches against it daily), so the five
    * consumers here read a materialized O(4·docs)-row relation instead of
    * re-running the shingle → 8×salted-md5 signature pass each. Bench
    * reports the build under artifacts.lsh_bands; every oracle twin still
    * re-derives the bands inline, so the gate pins the derivation math. */
  private val sigMemo =
    graft.Tables.registerSessionScoped(new java.util.concurrent.ConcurrentHashMap[(Long, String), DataFrame]())

  private[graft] def ensureBands(s: SparkSession, dir: String): Unit = {
    minhashSig(s, dir); ()
  }

  /** The persisted artifact is the SIGNATURE table (doc_id, m0..m7) — one
    * row per doc, the minimal index production writes; banding is a
    * map-side explode over it, so every consumer derives bands for free. */
  private[graft] def minhashSig(s: SparkSession, dir: String): DataFrame =
    sigMemo.computeIfAbsent((Tables.sessionId(s), dir), _ => {
      val mh = (0 until NumHashes).map(k =>
        min(md5(concat(lit(s"$k|"), col("g")))).as(s"m$k"))
      shingleRows(s, dir).groupBy("doc_id").agg(mh.head, mh.tail: _*)
        .localCheckpoint(true)
    })

  private[graft] def lshBands(s: SparkSession, dir: String): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      concat((lit(s"$b|") +: (0 until BandSize).map(j => col(s"m${b * BandSize + j}"))): _*)
    }
    minhashSig(s, dir).select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
  }

  /** The connected-components fixpoint over the LSH collision graph (see
    * q_dedup_components for the full discipline notes). Returns the
    * converged (doc_id, lbl) relation; each call runs the loop live. */
  private[graft] def labelFixpoint(s: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(s, dir)
    // both orientations of every collision pair (the =!= self-join emits
    // (a,b) and (b,a)) → one relation drives min propagation both ways
    val edges = bands.select(col("doc_id").as("ida"), col("band"))
      .join(bands.select(col("doc_id").as("idb"), col("band").as("band2")),
        col("band") === col("band2") && col("ida") =!= col("idb"))
      .select("ida", "idb").distinct()
      .localCheckpoint()
    // r17 staged-fold fusion (graft.Staged): each round's label
    // materialization computes the convergence SUM in the same job, so a
    // round costs ONE job instead of checkpoint + head()-sum — k+1 jobs
    // removed from a k-round fixpoint (14 jobs → ~8 at the fixtures' 4-5
    // rounds). Math.addExact keeps ANSI's loud-overflow semantics of the
    // replaced sum() agg; None (empty relation) maps to the coalesce(sum,0)
    // the agg shape used — sum over ZERO rows was NULL and getLong would
    // NPE on an empty documents table (the oracle twin returns its empty
    // relation fine).
    def stagedLabels(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Long) = {
      val (staged, s) = graft.Staged.eagerFold(df, "lbl", Math.addExact)
      (staged, s.getOrElse(0L))
    }
    var (labels, curSum) = stagedLabels(
      table(s, dir, "documents").select(col("doc_id"), col("doc_id").as("lbl")))
    var prevSum = Long.MinValue
    var rounds = 0
    while (curSum != prevSum) {
      val nbrMin = edges.join(labels, col("ida") === col("doc_id"))
        .groupBy(col("idb")).agg(min(col("lbl")).as("nmin"))
      val next = labels.join(nbrMin, col("doc_id") === col("idb"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      prevSum = curSum
      val staged = stagedLabels(next)
      labels = staged._1
      curSum = staged._2
      rounds += 1
    }
    System.err.println(s"[components] converged in $rounds rounds")
    labels
  }

  /** Converged dedup LEDGER (doc → canonical component label), write-once
    * per (session, sf-dir): in production the component assignment over a
    * static corpus is a persisted table the audit/reporting queries read —
    * rerunning the fixpoint per downstream consumer would repay the whole
    * propagation for every dashboard panel. q_dedup_components still runs
    * the fixpoint LIVE each execution (it is the gate on the iteration
    * itself); only secondary consumers read the ledger. Bench reports the
    * build under artifacts.dedup_ledger; oracle twins re-derive inline. */
  private val ledgerMemo =
    graft.Tables.registerSessionScoped(new java.util.concurrent.ConcurrentHashMap[(Long, String), DataFrame]())

  private[graft] def componentLedger(s: SparkSession, dir: String): DataFrame =
    ledgerMemo.computeIfAbsent((Tables.sessionId(s), dir),
      _ => labelFixpoint(s, dir))


  /** Source-blocked exact shingle-overlap pairs with per-doc sizes —
    * (ida, idb, shared, sza, szb) — THE shared pipeline of
    * q_dedup_ngram_jaccard and q_dedup_containment (only the final
    * normalizer differs; the block previously existed verbatim in both —
    * r13 review). Per-doc sizes are one row per doc — broadcastable at
    * bench scale; at 100 TB the size joins become shuffle joins on the
    * (already-partitioned) doc_id key, still never touching text. */
  private def sharedShinglePairs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val sh = Tables.spread(s, table(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        explode(VectorExpr.shingleHashes(split(col("text"), " "))).as("g"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("ida"), col("source").as("srca"), col("g"))
    val b = sh.select(col("doc_id").as("idb"), col("source").as("srcb"), col("g").as("g2"))
    val shared = a.join(b, col("g") === col("g2") && col("srca") === col("srcb") &&
        col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(sizes.select(col("doc_id").as("ida"), col("sz").as("sza"))), "ida")
      .join(broadcast(sizes.select(col("doc_id").as("idb"), col("sz").as("szb"))), "idb")
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_dedup_minhash",
      s"MinHash($NumHashes)+LSH banding (bands of $BandSize): shingle → salted-md5 minhash " +
        "signature → band keys → candidate pairs via band-key equi-join. Output is the " +
        "candidate-pair count. Hash = md5 hex string, min = lexicographic — engine-portable.",
      (s, dir) => {
        // min over the shingle MULTISET ≡ min over the distinct set, so the
        // relation needs no dedup; the 8 salted-md5 mins are one codegen'd
        // aggregation pass. Both self-join sides read the write-once band
        // artifact (tiny: 4 rows/doc), so neither side recomputes the
        // signature pass.
        val bands = lshBands(s, dir)
        val a = bands.select(col("doc_id").as("ida"), col("band"))
        val b = bands.select(col("doc_id").as("idb"), col("band").as("band2"))
        a.join(b, col("band") === col("band2") && col("ida") < col("idb"))
          .select("ida", "idb").distinct()
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some {
        s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM sh),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig)
           |SELECT count(*) AS n_pairs FROM (
           |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin
      }),

    GraftQuery(
      "q_dedup_ngram_jaccard",
      "Exact n-gram Jaccard similarity on source-blocked pairs: distinct (doc, shingle) " +
        "rows self-join on shingle within a source block; |A∩B| from the join, sizes from " +
        "a per-doc count — pure relational set algebra, identical on both engines.",
      (s, dir) => {
        // distinct per doc is per-ROW (array_distinct before explode) — no
        // global DISTINCT exchange. The shingle relation is consumed three
        // times (sizes + both join sides) and REGENERATED each time: it is a
        // cheap map-side pass (StringShingles is one compiled eval per doc),
        // and every alternative has been measured slower at this scale:
        // materialize-to-scratch-parquet (round 2: the write dominates),
        // cache() (round 2: large block allocations → GC pauses mid-suite),
        // and bucket-collect pair generation per (source, shingle) with
        // generator fan-out (round 3: ~1.8 s vs ~1.45 s — millions of
        // size-one shingle groups make per-group collect overhead exceed the
        // join-side exchanges it saves; the same pattern WINS for simhash,
        // whose 20 source blocks amortize the collect). Fourth measured
        // alternative (round 11, DevProbe @jac_full_posting /
        // @jac_full_shj at sf0.1, 5 passes): sorted capped posting lists
        // per (source, g) with slice-based ordered pair fan-out — warm
        // 0.58–0.86 s; forcing the self-join to shuffle-hash (one reused
        // exchange instead of the broadcast build) — warm 0.68–1.16 s;
        // this formulation as shipped — warm 0.43–0.61 s. The broadcast
        // self-join Spark picks IS the fastest at bench scale (the hashed
        // relation of 8-byte keys fits comfortably); at 100 TB AQE flips
        // it to the shuffle join automatically once the build side
        // outgrows the threshold. At 100 TB also write the shingle
        // relation to storage once and re-scan it.
        // shingles are hashed to 64-bit longs MAP-SIDE, before anything
        // shuffles: the self-join's two exchanges and the per-doc size
        // aggregation ship 8-byte keys instead of ~20-40 byte shingle
        // strings, and the join compares longs, not strings. The fused
        // DistinctShingleHashes expression builds each shingle, dedupes on
        // the STRING (so a hash collision could only merge shingles across
        // documents — 2^-64 per pair, astronomically unlikely at any corpus
        // size; the string-keyed DuckDB oracle pins the results as
        // identical), and hashes in ONE compiled pass — the previous
        // xxhash64∘explode∘array_distinct∘shingles chain materialized the
        // shingle-string array twice per regeneration.
        sharedShinglePairs(s, dir)
          .select(col("ida"), col("idb"),
            round(col("shared") / (col("sza") + col("szb") - col("shared")), 6).as("jac"))
          .orderBy(col("jac").desc, col("ida"), col("idb"))
          .limit(20)
      },
      Some(
        s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, source, $shingleSql AS sh FROM (SELECT * FROM d WHERE len(toks) >= 3) t),
           |sh AS (SELECT DISTINCT doc_id, source, unnest(sh) AS g FROM shl),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
           |  FROM sh a JOIN sh b ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT ida, idb, round(shared / (sa.sz + sb.sz - shared), 6) AS jac
           |FROM shared JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
           |ORDER BY jac DESC, ida, idb LIMIT 20""".stripMargin)),

    GraftQuery(
      "q_dedup_substring",
      "EXACT-SUBSTRING duplication census (the deduplicate-text-datasets " +
        "operator): any 8-token span that occurs more than once in the " +
        "corpus is duplicated text; per source the query reports how many " +
        "documents contain such a span and the EXACT duplicated-token " +
        "mass — the union length of all repeated 8-token windows per " +
        "document, computed as an integer interval union (first window " +
        "pays 8, each next pays min(8, position gap) in one doc-keyed lag " +
        "window). Scale shape: positional 8-gram HASHES built map-side " +
        "(8-byte keys through the exchange, never text), occurrence " +
        "counts as ONE hash-keyed window over the slim (doc, pos, g) " +
        "relation — the single-subtree form reads and tokenizes the " +
        "corpus exactly once, where an aggregate-plus-semi-join pair " +
        "would re-derive the gram relation in its pruned second branch — " +
        "then a doc-keyed window+agg and a doc-grain join: two slim " +
        "exchanges total. A 2^-64 hash collision could only overcount " +
        "one span; the string-keyed oracle pins the masses as identical. " +
        "Docs shorter than 8 tokens carry no span and are excluded " +
        "from both sides.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val K = 8
        val d = Tables.spread(s, table(s, dir, "documents"))
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= K)
        val sh = d.select(col("doc_id"),
          posexplode(expr(
            s"transform(sequence(0, size(toks) - $K), " +
              s"i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $K))))"))
            .as(Seq("pos", "g")))
        val rep = sh
          .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
          .filter(col("df") >= 2)
        val wD = Window.partitionBy("doc_id").orderBy("pos")
        val cov = rep
          .withColumn("gap", col("pos") - lag(col("pos"), 1).over(wD))
          .withColumn("covered", when(col("gap").isNull, lit(K.toLong))
            .otherwise(least(lit(K.toLong), col("gap").cast("long"))))
          .groupBy("doc_id")
          .agg(sum(col("covered")).as("rep_tokens"))
        d.select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("ntok"))
          .join(cov, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rep_tokens").isNotNull, 1L).otherwise(0L)).as("docs_with_rep"),
            sum(coalesce(col("rep_tokens"), lit(0L))).as("rep_tokens"),
            sum(col("ntok")).as("total_tokens"))
          .select(col("source"), col("n_docs"), col("docs_with_rep"),
            col("rep_tokens"), col("total_tokens"),
            round(col("rep_tokens").cast("double") /
              col("total_tokens").cast("double"), 6).as("dup_ratio"))
          .orderBy("source")
      },
      Some {
        val g8 = (0 to 7).map(j => s"toks[i+$j]").mkString("||' '||")
        s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks
           |    FROM documents),
           |dd AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS ntok
           |  FROM d WHERE len(toks) >= 8),
           |sh AS (SELECT doc_id, u.i AS pos, u.g AS g FROM (
           |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
           |      i -> struct_pack(i := i - 1, g := $g8))) AS u
           |    FROM dd)),
           |rep AS (SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS df FROM sh)
           |  WHERE df >= 2),
           |cov AS (SELECT doc_id,
           |    CAST(sum(CASE WHEN lp IS NULL THEN 8
           |      ELSE least(8, pos - lp) END) AS BIGINT) AS rep_tokens
           |  FROM (SELECT doc_id, pos,
           |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp FROM rep)
           |  GROUP BY doc_id)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN rep_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS docs_with_rep,
           |  CAST(sum(coalesce(rep_tokens, 0)) AS BIGINT) AS rep_tokens,
           |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
           |  round(CAST(sum(coalesce(rep_tokens, 0)) AS DOUBLE)
           |    / CAST(sum(ntok) AS DOUBLE), 6) AS dup_ratio
           |FROM dd LEFT JOIN cov USING (doc_id)
           |GROUP BY source ORDER BY source""".stripMargin
      }),

    GraftQuery(
      "q_dedup_canonical",
      "Canonical-representative assignment over the MinHash/LSH candidate graph: " +
        "every doc maps to min(doc_id) among its band-collision partners (self if " +
        "none) — the keep-one decision that turns candidate pairs into an actual " +
        "dedup. This is exactly ONE min-propagation step — the first iteration of " +
        "the fixpoint that q_dedup_components runs to convergence (chains A~B~C " +
        "with no A~C edge need the iterated form to share one canonical).",
      (s, dir) => {
        val bands = lshBands(s, dir)
        val partners = bands.select(col("doc_id").as("ida"), col("band"))
          .join(bands.select(col("doc_id").as("idb"), col("band").as("band2")),
            col("band") === col("band2") && col("ida") =!= col("idb"))
          .groupBy("ida").agg(min(col("idb")).as("mp"))
        table(s, dir, "documents").select(col("doc_id"))
          .join(partners, col("doc_id") === col("ida"), "left")
          .select(col("doc_id"),
            least(coalesce(col("mp"), col("doc_id")), col("doc_id")).as("canonical"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("canonical") < col("doc_id"), 1L).otherwise(0L)).as("n_merged"),
            countDistinct(col("canonical")).as("n_canon"))
      },
      Some {
        s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
           |p AS (SELECT a.doc_id AS ida, min(b.doc_id) AS mp FROM bands a
           |      JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id GROUP BY 1),
           |c AS (SELECT doc_id, least(coalesce(mp, doc_id), doc_id) AS canonical
           |      FROM documents LEFT JOIN p ON doc_id = ida)
           |SELECT count(*) AS n_docs,
           |  CAST(sum(CASE WHEN canonical < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_merged,
           |  count(DISTINCT canonical) AS n_canon FROM c""".stripMargin
      }),

    GraftQuery(
      "q_dedup_components",
      "Connected-components FIXPOINT over the MinHash/LSH collision graph — the " +
        "iterated form of q_dedup_canonical's single min-propagation step: labels " +
        "start at doc_id and each round takes the min over self ∪ neighbors until " +
        "no label changes, so every near-dup CHAIN collapses to one canonical. One " +
        "edge-keyed shuffle round per iteration (Pregel shape), converging in " +
        "O(component diameter) rounds — LSH collision components are band-clique " +
        "unions, so diameter stays small at any corpus size. The edge relation is " +
        "localCheckpoint'ed once (every iteration reuses it; recomputing the " +
        "minhash pass per round would dominate) and each round's labels are " +
        "checkpointed to truncate lineage — the standard iterative-DataFrame " +
        "discipline; at cluster scale swap localCheckpoint for a reliable " +
        "checkpoint dir. Convergence is detected from sum(label), which strictly " +
        "decreases until the fixpoint (labels only ever decrease) — one scalar " +
        "per round to the driver, no data collected; past ~2^52 total label mass " +
        "switch the monitor to a changed-row count. Oracle: DuckDB recursive CTE " +
        "reachability over the same edge relation (9.3 s at sf0.1 vs 3.1 s here, " +
        "BASELINE.md round-3 medians — set enumeration vs log-round propagation).",
      (s, dir) => {
        labelFixpoint(s, dir).groupBy("lbl").agg(count(lit(1)).as("sz"))
          .agg(
            sum(col("sz")).cast("long").as("n_docs"),
            count(lit(1)).as("n_comp"),
            max(col("sz")).as("max_comp"),
            (sum(col("sz")) - count(lit(1))).cast("long").as("n_merged"))
      },
      Some {
        s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
           |edges AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb FROM bands a
           |          JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id),
           |reach(doc, r) AS (SELECT doc_id, doc_id FROM documents
           |  UNION SELECT e.idb, reach.r FROM reach JOIN edges e ON e.ida = reach.doc),
           |lbl AS (SELECT doc, min(r) AS l FROM reach GROUP BY doc),
           |comp AS (SELECT l, count(*) AS sz FROM lbl GROUP BY l)
           |SELECT CAST(sum(sz) AS BIGINT) AS n_docs, count(*) AS n_comp,
           |  CAST(max(sz) AS BIGINT) AS max_comp,
           |  CAST(sum(sz) - count(*) AS BIGINT) AS n_merged FROM comp""".stripMargin
      }),

    GraftQuery(
      "q_dedup_cluster_sizes",
      "Near-duplicate cluster-size distribution — the dedup AUDIT view " +
        "(how much of the corpus is singletons vs pairs vs big clusters " +
        "drives retention-policy choices): clusters per size and doc mass " +
        "per size over the converged component labels. Reads the write-" +
        "once dedup LEDGER (the fixpoint q_dedup_components gates live; " +
        "in production the component assignment is a persisted table every " +
        "audit panel reads — re-running the propagation per consumer would " +
        "repay the whole fixpoint for each dashboard). The query itself is " +
        "two tiny hash aggs over the node-sized label relation; the oracle " +
        "re-derives labels via recursive-CTE reachability, so the gate " +
        "still pins the full derivation.",
      (s, dir) => {
        componentLedger(s, dir)
          .groupBy("lbl").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_comp"))
          .select(col("sz"), col("n_comp"),
            (col("sz") * col("n_comp")).cast("long").as("n_docs"))
          .orderBy("sz")
      },
      Some {
        s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
           |edges AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb FROM bands a
           |          JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id),
           |reach(doc, r) AS (SELECT doc_id, doc_id FROM documents
           |  UNION SELECT e.idb, reach.r FROM reach JOIN edges e ON e.ida = reach.doc),
           |lbl AS (SELECT doc, min(r) AS l FROM reach GROUP BY doc),
           |comp AS (SELECT l, count(*) AS sz FROM lbl GROUP BY l)
           |SELECT sz, count(*) AS n_comp, CAST(sz * count(*) AS BIGINT) AS n_docs
           |FROM comp GROUP BY sz ORDER BY sz""".stripMargin
      }),

    GraftQuery(
      "q_dedup_simhash",
      "16-bit SimHash near-dup: one codegen'd SimHash16 eval per document (md5-prefix " +
        "per-token vote accumulation inside the expression — no explode, no 16-way " +
        "agg, no per-doc shuffle), then source-blocked pair generation from ONE " +
        "fingerprint pass: (doc_id ≪ 16 | fp) packed longs collected per source " +
        "block, intra-block pairs fanned out by generators — a self-join would run " +
        "the md5 pass once per side, measured as the dominant cost. Scale note, " +
        "measured on this corpus: 31% of blocked pairs qualify (191,890 at sf0.1) " +
        "and the mean number of equal 4-bit bands per qualifying pair is ~3, so " +
        "LSH banding on fingerprint nibbles generates MORE candidate rows than " +
        "all-pairs here; on a real sparse corpus (near-dups rare) the banding " +
        "variant — bucket on (source, band, nibble), emit each pair from its first " +
        "equal band — is the 100 TB shape, with per-block pair generation bounded " +
        "by a block-size cap either way. The oracle keeps the all-pairs relational " +
        "spelling of the same hash, so the gate pins the expression bit-for-bit.",
      (s, dir) => {
        // source.isNotNull: the oracle's a.source = b.source join never pairs
        // NULL-source docs, but groupBy would make NULL a real block — filter
        // up front so the blocking matches the join semantics exactly
        val fp = Tables.spread(s, table(s, dir, "documents"))
          .filter(col("source").isNotNull)
          .select(col("doc_id"), col("source"),
            VectorExpr.simhash16(split(col("text"), " ")).as("fp"))
        // packed (doc_id ≪ 16 | fp): fp < 2^16, so xor stays field-aligned and
        // the block arrays are primitive longs — no struct serialization in
        // collect/explode; sort_array gives ida < idb via the id high bits
        // Enforced block-size cap: pair generation inside a block is
        // quadratic, so a pathological block (one source owning a huge slice
        // of the corpus) is truncated to its first SimhashBlockCap members in
        // deterministic packed-long (= doc_id) order. Inert on this corpus
        // (blocks are O(100) docs at sf0.1); at 100 TB the real move is to
        // sub-shard oversized blocks on a fingerprint nibble before pairing —
        // the cap is the backstop that keeps a skewed block from going n².
        val blocks = fp
          .select(col("source"), (col("doc_id") * lit(65536L) + col("fp")).as("p"))
          .groupBy("source")
          .agg(sort_array(collect_list(col("p"))).as("xs"))
          .filter(size(col("xs")) > 1)
          .select(col("source"), slice(col("xs"), 1, SimhashBlockCap).as("xs"))
        val xorv = col("x").bitwiseXOR(col("y")).bitwiseAND(lit(65535L))
        blocks
          .select(col("xs"), posexplode(col("xs")).as(Seq("i", "x")))
          .select(col("x"),
            explode(slice(col("xs"), col("i") + lit(2), size(col("xs")))).as("y"))
          .filter(call_function("bit_count", xorv) <= 3)
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some {
        val votes = (0 until 16)
          .map(bt => s"sum(CASE WHEN (h // ${1 << bt}) % 2 = 1 THEN 1 ELSE -1 END) AS s$bt")
          .mkString(", ")
        val fp = (0 until 16).map(bt => s"CASE WHEN s$bt > 0 THEN ${1 << bt} ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (SELECT DISTINCT doc_id, source, unnest(string_split(text,' ')) AS w FROM documents),
           |h AS (SELECT doc_id, source, CAST('0x' || substr(md5(w),1,4) AS INTEGER) AS h FROM tok),
           |v AS (SELECT doc_id, source, $votes FROM h GROUP BY doc_id, source),
           |fp AS (SELECT doc_id, source, $fp AS fp FROM v)
           |SELECT count(*) AS n_pairs FROM fp a JOIN fp b
           |ON a.source = b.source AND a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
      }),

    GraftQuery(
      "q_dedup_decontaminate",
      "Train/test CONTAMINATION check — the decontamination staple of every " +
        "training-data pipeline: split the corpus with the same content-free md5 " +
        "id-hash as q_split_assign, then count test documents sharing at least one " +
        "5-gram with any train document (a left-semi join on the shingle key). " +
        "On this near-dup corpus 97 of 281 test docs are contaminated — exactly " +
        "the leakage a held-out split inherits when dedup runs after splitting. " +
        "Scale shape: distinct shingle HASHES are built map-side in one fused " +
        "compiled pass per doc (DistinctShingleHashes — dedup on the string, " +
        "ship the 64-bit hash), the semi join shuffles (hash, doc_id) only and " +
        "ships no text; a cross-document hash collision could only ADD a " +
        "false contamination flag at 2^-64 per pair, and the string-keyed " +
        "oracle pins the counts as identical.",
      (s, dir) => {
        val d = Tables.spread(s, table(s, dir, "documents"))
          .withColumn("b",
            pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
              .cast("int"), lit(100)))
        val sh = d.select(col("doc_id"), col("b"),
          explode(VectorExpr.shingleHashes(split(col("text"), " "), 5)).as("g"))
        val contaminated = sh.filter(col("b") >= 95).select("doc_id", "g")
          .join(sh.filter(col("b") < 90).select("g"), Seq("g"), "left_semi")
          .agg(countDistinct(col("doc_id")).as("n_contaminated"))
        d.filter(col("b") >= 95).agg(count(lit(1)).as("n_test"))
          .crossJoin(broadcast(contaminated))
      },
      Some(
        """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
          |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) % 100 AS b
          |  FROM documents),
          |sh AS (SELECT doc_id, b, unnest(list_distinct(list_transform(range(1, len(toks)-3),
          |    i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) AS g
          |  FROM d WHERE len(toks) >= 5)
          |SELECT (SELECT count(*) FROM d WHERE b >= 95) AS n_test,
          |  count(DISTINCT doc_id) AS n_contaminated
          |FROM (SELECT doc_id, g FROM sh WHERE b >= 95) t
          |WHERE g IN (SELECT g FROM sh WHERE b < 90)""".stripMargin)),

    GraftQuery(
      "q_dedup_incremental",
      "INCREMENTAL near-dup — the production daily-crawl shape: dedupe a new " +
        "batch against the existing corpus instead of re-running the one-shot " +
        "join over everything. The corpus is split with the same content-free " +
        "md5 id-hash as q_split_assign (batch = buckets ≥ 95, corpus = the " +
        "rest); the new batch's MinHash/LSH band signatures are LEFT-SEMI " +
        "joined against the corpus band relation, so a new doc is flagged iff " +
        "it collides with ANY indexed doc on at least one band. Scale shape: " +
        "at 100 TB the corpus bands are a persisted index (written once, like " +
        "BucketedLayout) — the daily job computes bands for the new batch only " +
        "and the semi join ships (band, doc_id) pairs, never text; cost " +
        "follows batch size, not corpus size.",
      (s, dir) => {
        val bands = lshBands(s, dir)
          .withColumn("b",
            pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
              .cast("int"), lit(100)))
        val newBatch = bands.filter(col("b") >= 95)
        val corpus = bands.filter(col("b") < 95).select("band")
        val dup = newBatch.select("doc_id", "band")
          .join(corpus, Seq("band"), "left_semi")
          .agg(countDistinct(col("doc_id")).as("n_dup"))
        newBatch.agg(countDistinct(col("doc_id")).as("n_new"))
          .crossJoin(broadcast(dup))
      },
      Some {
        s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band,
           |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) % 100 AS b
           |  FROM sig)
           |SELECT (SELECT count(DISTINCT doc_id) FROM bands WHERE b >= 95) AS n_new,
           |  count(DISTINCT doc_id) AS n_dup
           |FROM bands WHERE b >= 95
           |  AND band IN (SELECT band FROM bands WHERE b < 95)""".stripMargin
      }),

    GraftQuery(
      "q_dedup_cluster_rep",
      "Cluster-representative selection — the keep-WHICH-copy decision that " +
        "follows candidate generation: every doc maps to its canonical " +
        "min-id partner over the band-collision graph (q_dedup_canonical's " +
        "one-step assignment), then each multi-member cluster keeps the " +
        "HIGHEST-QUALITY member (longest text, tie min doc_id) rather than " +
        "blindly the smallest id. Output: the 20 biggest clusters with their " +
        "representative. Scale shape: the argmax is min(struct(-quality, id)) " +
        "— a hash aggregate over slim (canonical, n_chars, doc_id) rows, no " +
        "window, no re-join of text.",
      (s, dir) => {
        val bands = lshBands(s, dir)
        val partners = bands.select(col("doc_id").as("ida"), col("band"))
          .join(bands.select(col("doc_id").as("idb"), col("band").as("band2")),
            col("band") === col("band2") && col("ida") =!= col("idb"))
          .groupBy("ida").agg(min(col("idb")).as("mp"))
        val canon = table(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .join(partners, col("doc_id") === col("ida"), "left")
          .select(col("doc_id"), col("n_chars"),
            least(coalesce(col("mp"), col("doc_id")), col("doc_id")).as("canonical"))
        canon.groupBy("canonical").agg(
            count(lit(1)).as("n_members"),
            min(struct((-col("n_chars")).as("nc"), col("doc_id").as("id"))).as("st"))
          .filter(col("n_members") >= 2)
          .select(col("canonical"), col("n_members"),
            col("st.id").as("rep_doc"), (-col("st.nc")).as("rep_chars"))
          .orderBy(col("n_members").desc, col("canonical"))
          .limit(20)
      },
      Some {
        s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, $shingleSql AS sh FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
           |p AS (SELECT a.doc_id AS ida, min(b.doc_id) AS mp FROM bands a
           |      JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id GROUP BY 1),
           |c AS (SELECT doc_id, n_chars, least(coalesce(mp, doc_id), doc_id) AS canonical
           |      FROM documents LEFT JOIN p ON doc_id = ida),
           |r AS (SELECT canonical, count(*) AS n_members,
           |        min(struct_pack(nc := -n_chars, id := doc_id)) AS st
           |      FROM c GROUP BY canonical)
           |SELECT canonical, n_members, st.id AS rep_doc, -st.nc AS rep_chars
           |FROM r WHERE n_members >= 2
           |ORDER BY n_members DESC, canonical LIMIT 20""".stripMargin
      }),

    GraftQuery(
      "q_dedup_embed",
      "Embedding-cosine near-dup: label-blocked pairs with similarity ≥ 0.4 " +
        "(corpus max same-label sim ≈ 0.47), count + max — the semantic-dedup shape.",
      (s, dir) => {
        val e = table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            Exact.norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("ida"), col("label").as("la"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("idb"), col("label").as("lb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        a.join(b, col("la") === col("lb") && col("ida") < col("idb"))
          .select(Exact.cosineOver(Exact.dot(col("ea"), col("eb")),
            col("na") * col("nb")).as("sim"))
          .filter(col("sim") >= 0.4)
          .agg(count(lit(1)).as("n_pairs"), round(max(col("sim")), 6).as("max_sim"))
      },
      Some(
        s"""WITH n AS (SELECT vec_id, label, embedding,
           |  sqrt(${Exact.squaredNormSql("embedding")}) AS nrm FROM embeddings),
           |p AS (SELECT ${Exact.cosineOverSql(
             Exact.dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} AS sim
           |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
           |SELECT count(*) AS n_pairs, round(max(sim), 6) AS max_sim FROM p WHERE sim >= 0.4""".stripMargin)),

    GraftQuery(
      "q_dedup_embed_cluster",
      "Semantic-dedup clustering — the embedding-side twin of q_dedup_" +
        "canonical: cosine-threshold pairs (label-blocked, the q_dedup_" +
        "embed candidate stage) become an undirected graph, every vector " +
        "adopts the min vec_id over self ∪ neighbors in ONE synchronous " +
        "propagation round, and the gate fingerprints the resulting " +
        "partial clustering (vectors moved, distinct canonical labels, " +
        "exact label mass). One round — not the fixpoint — keeps the " +
        "oracle a flat CTE while still pinning the pair graph AND the " +
        "propagation arithmetic; chains deeper than one hop converge via " +
        "exactly the q_dedup_components loop, which this family already " +
        "gates on the MinHash graph. Scale shape: pairs are label-blocked " +
        "(never all-pairs), both orientations union map-side, one " +
        "(node)-keyed min agg.",
      (s, dir) => {
        val e = table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            Exact.norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("ida"), col("label").as("la"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("idb"), col("label").as("lb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val pairs = a.join(b, col("la") === col("lb") && col("ida") < col("idb"))
          .filter(Exact.cosineOver(Exact.dot(col("ea"), col("eb")),
            col("na") * col("nb")) >= 0.4)
          .select(col("ida"), col("idb"))
        val edges = pairs.select(col("ida").as("node"), col("idb").as("nbr"))
          .unionAll(pairs.select(col("idb").as("node"), col("ida").as("nbr")))
        val lbl = e.select(col("vec_id").as("node"))
          .join(edges, Seq("node"), "left")
          .groupBy("node")
          .agg(min(col("nbr")).as("mn"))
          .select(col("node"),
            least(coalesce(col("mn"), col("node")), col("node")).as("lbl"))
        lbl.agg(
          sum(when(col("lbl") =!= col("node"), 1L).otherwise(0L)).as("n_moved"),
          countDistinct(col("lbl")).as("n_labels"),
          sum(col("lbl")).as("label_mass"))
      },
      Some(
        s"""WITH n AS (SELECT vec_id, label, embedding,
           |  sqrt(${Exact.squaredNormSql("embedding")}) AS nrm FROM embeddings),
           |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
           |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           |  WHERE ${Exact.cosineOverSql(
             Exact.dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} >= 0.4),
           |e AS (SELECT ida AS node, idb AS nbr FROM p
           |  UNION ALL SELECT idb, ida FROM p),
           |l AS (SELECT n.vec_id AS node,
           |    least(coalesce(min(e.nbr), n.vec_id), n.vec_id) AS lbl
           |  FROM n LEFT JOIN e ON n.vec_id = e.node GROUP BY n.vec_id)
           |SELECT CAST(sum(CASE WHEN lbl <> node THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           |  count(DISTINCT lbl) AS n_labels, CAST(sum(lbl) AS BIGINT) AS label_mass
           |FROM l""".stripMargin)),

    GraftQuery(
      "q_dedup_minhash_quality",
      "MinHash estimator-quality audit — the dedup twin of q_ann_recall's " +
        "honesty gate: for every LSH candidate pair, the signature-agreement " +
        "similarity estimate (matching components / 8) NEXT TO the exact " +
        "3-gram Jaccard and the absolute error. This is the number that " +
        "justifies trusting the sketch at 100 TB, where the exact join is " +
        "unaffordable corpus-wide but auditable on the candidate set. Scale " +
        "shape: the tiny pair relation broadcasts into the signature " +
        "artifact (8 strings/doc) for the estimate, and into the slim " +
        "(doc, shingle-hash) relation for the exact side — the corpus text " +
        "never moves; cost follows candidate count, not corpus size. A " +
        "colliding band pins two equal component mins, so every candidate " +
        "pair shares at least one shingle and the inner joins lose nothing.",
      (s, dir) => {
        val sig = minhashSig(s, dir)
        val bands = lshBands(s, dir)
        val pairs = bands.select(col("doc_id").as("ida"), col("band"))
          .join(bands.select(col("doc_id").as("idb"), col("band").as("band2")),
            col("band") === col("band2") && col("ida") < col("idb"))
          .select("ida", "idb").distinct()
        val sigA = (0 until NumHashes).foldLeft(
          sig.withColumnRenamed("doc_id", "sa")) { (d, k) => d.withColumnRenamed(s"m$k", s"a$k") }
        val sigB = (0 until NumHashes).foldLeft(
          sig.withColumnRenamed("doc_id", "sb")) { (d, k) => d.withColumnRenamed(s"m$k", s"b$k") }
        val agree = (0 until NumHashes)
          .map(k => when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
          .reduce(_ + _)
        val est = sigA.join(broadcast(pairs), col("sa") === col("ida"))
          .join(sigB, col("sb") === col("idb"))
          .select(col("ida"), col("idb"), (agree.cast("double") / NumHashes.toDouble).as("est_sim"))
        val sh3 = Tables.spread(s, table(s, dir, "documents"))
          .select(col("doc_id"), explode(VectorExpr.shingleHashes(split(col("text"), " "))).as("h"))
        val sizes = sh3.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val shared = sh3.join(broadcast(pairs), col("doc_id") === col("ida"))
          .select(col("ida"), col("idb"), col("h"))
          .join(sh3.select(col("doc_id").as("db"), col("h").as("h2")),
            col("idb") === col("db") && col("h") === col("h2"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
        val exact = shared
          .join(broadcast(sizes.select(col("doc_id").as("ida"), col("sz").as("sza"))), "ida")
          .join(broadcast(sizes.select(col("doc_id").as("idb"), col("sz").as("szb"))), "idb")
          .select(col("ida"), col("idb"),
            (col("shared").cast("double") /
              (col("sza") + col("szb") - col("shared")).cast("double")).as("jac"))
        est.join(exact, Seq("ida", "idb"))
          .select(col("ida"), col("idb"), round(col("est_sim"), 6).as("est_sim"),
            round(col("jac"), 6).as("jaccard"),
            round(abs(col("est_sim") - col("jac")), 6).as("err"))
          .orderBy("ida", "idb")
      },
      Some {
        val agree = (0 until NumHashes)
          .map(k => s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |shl AS MATERIALIZED (SELECT doc_id, $shingleSql AS sh
           |  FROM (SELECT doc_id, toks FROM d WHERE len(toks) >= 3) t),
           |sig AS MATERIALIZED (SELECT doc_id, $mh FROM shl),
           |bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
           |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
           |est AS (SELECT p.ida, p.idb, ($agree) / $NumHashes.0 AS est_sim
           |  FROM pairs p JOIN sig sa ON p.ida = sa.doc_id JOIN sig sb ON p.idb = sb.doc_id),
           |ex AS (SELECT p.ida, p.idb,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
           |  FROM pairs p JOIN shl a ON p.ida = a.doc_id JOIN shl b ON p.idb = b.doc_id)
           |SELECT est.ida, est.idb, round(est_sim, 6) AS est_sim, round(jac, 6) AS jaccard,
           |  round(abs(est_sim - jac), 6) AS err
           |FROM est JOIN ex ON est.ida = ex.ida AND est.idb = ex.idb
           |ORDER BY est.ida, est.idb""".stripMargin
      }),

    GraftQuery(
      "q_dedup_containment",
      "Asymmetric shingle CONTAINMENT (Broder's second resemblance measure): " +
        "|A∩B| / min(|A|,|B|) over source-blocked pairs — the doc-inclusion " +
        "detector that Jaccard structurally under-reports (a quote of a " +
        "short doc inside a long one has tiny union-normalized similarity " +
        "but containment ≈ 1), which is why decontamination and quote-chain " +
        "curation key on it. Same scale shape as q_dedup_ngram_jaccard: " +
        "8-byte shingle hashes built map-side, source-blocked hash self-" +
        "join, per-doc sizes broadcast back; only the normalizer changes — " +
        "min instead of union — so the measured alternatives documented " +
        "there carry over verbatim.",
      (s, dir) => {
        sharedShinglePairs(s, dir)
          .select(col("ida"), col("idb"),
            round(col("shared") / least(col("sza"), col("szb")), 6).as("containment"))
          .orderBy(col("containment").desc, col("ida"), col("idb"))
          .limit(20)
      },
      Some(
        s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
           |shl AS (SELECT doc_id, source, $shingleSql AS sh FROM (SELECT * FROM d WHERE len(toks) >= 3) t),
           |sh AS (SELECT doc_id, source, unnest(sh) AS g FROM shl),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
           |  FROM sh a JOIN sh b ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT ida, idb, round(shared / least(sa.sz, sb.sz), 6) AS containment
           |FROM shared JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
           |ORDER BY containment DESC, ida, idb LIMIT 20""".stripMargin))
  )
}
