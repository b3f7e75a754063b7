package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Aggregations
import graft.core.Tables
import graft.dedup.Dedup
import graft.gen.{SampleData, Sampling}
import graft.join.{AdaptiveSkewJoin, BloomJoin, WindowJoin}
import graft.multimodal.Multimodal
import graft.ops.{AsyncMap, RowOps, Tokenize, TweetJson}
import graft.rel.{Analytics, Graph, Relational}
import graft.sim.Similarity
import graft.state.TopSpeed
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame`; the paired
  * `oracleSql` entry is equivalent ANSI SQL DuckDB runs on the same parquet
  * tables. Column names are aliased identically on both sides (the driver
  * sorts columns by name before hashing). DOUBLE aggregation goes through
  * DECIMAL on both sides so partial-aggregate order can never perturb the
  * hash (exact + associative).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * M0 walking skeleton: scan → project → explode → filter → shuffle agg
    * (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Tokenize.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"), "text")

  /** Shared-scan memo (SURVEY §9.1 / r4 verdict #2): the minhash→LSH pair
    * chain, its connected components, the SimHash/embedding pair sets,
    * the ANN brute-force ground truth and the IVF arrival fold feed
    * SEVERAL queries each; rebuilding them per query was a ~3-4 s
    * bench-composition tail. Each value is built once per (session, dir,
    * name) — DataFrames are `localCheckpoint`'d by their builder (eager:
    * materializes AND truncates the lineage, so downstream plans start
    * from the cached partitions) — and stored with a fingerprint of the
    * files under `dir` (path, length, mtime) taken when it was built. A
    * lookup whose current fingerprint differs rebuilds, so a memo never
    * outlives the input files it was built from. Build seconds are
    * recorded per (dir, name), a rebuild replacing the earlier figure,
    * so Bench can report memo cost honestly instead of letting min-of-N
    * timing hide it. A builder must not call another memo: each figure
    * is the build's full wall time, so a nested build would be counted
    * twice in memo_sec. */
  private final case class Memo(fingerprint: Seq[(String, Long, Long)], value: AnyRef)
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Memo]
  val memoSeconds =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Double]

  /** Listed through the same Hadoop filesystem the parquet reader uses. */
  private def fingerprint(s: SparkSession, d: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(d)
    val it = root.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(root, true)
    val files = Vector.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    files.result().sorted
  }

  private def memo[T <: AnyRef](s: SparkSession, d: String, name: String)(build: => T): T = {
    val k = (s, d, name)
    val fp = fingerprint(s, d)
    val hit = memos.get(k)
    if (hit != null && hit.fingerprint == fp) hit.value.asInstanceOf[T]
    else {
      val t0 = System.nanoTime()
      val v = build
      memoSeconds.put((d, name), (System.nanoTime() - t0) / 1e9)
      memos.put(k, Memo(fp, v))
      v
    }
  }

  /** Evict every memo of `session` (all dirs) without touching the
    * blocks. For callers that unpersist all persistent RDDs wholesale
    * (Bench.flushHeapDebt): a localCheckpoint'd frame has no lineage to
    * recompute from, so an unpersisted memo LEFT in the map poisons
    * every later consumer with "Checkpoint block not found" whenever the
    * timed dir coincides with the warm dir (r16 advisory). Evicted
    * entries are simply rebuilt from the source parquet on next use. */
  def clearMemos(session: SparkSession): Unit =
    memos.keySet.removeIf(_._1 eq session)

  /** The shared incremental-IVF arrival fold (r20): q_ivf_incremental
    * reads its state rows and q_ivf_incremental_topk serves through its
    * centroids — one fold per memo key, the online-index architecture
    * (maintain once, serve from it). The state is nlist×dim longs —
    * KB-sized. */
  private def ivfFoldMemo(s: SparkSession, d: String): Similarity.IncrementalIvfState =
    memo(s, d, "ivf_fold")(
      Similarity.incrementalIvfFold(Tables.embeddings(s, d), nlist = 16, chunks = 3))

  /** The canonical minhash→LSH candidate-pair frame over `documents` —
    * the q_minhash_lsh_pairs output, and input to edit-distance verify,
    * clustering, keep/drop, and the cross-method agreement. */
  private def lshPairsMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "lsh_pairs")(
      Dedup.minhashLshPairs(Tables.documents(s, d), n = 2, k = 6,
        rowsPerBand = 2, maxBucket = LshMaxBucket).localCheckpoint())

  /** Connected components (q_dedup_clusters output; q_dedup_keep /
    * q_canonical_keep / q_split_leakage input) — computed over the
    * CLASS graph (Dedup.connectedComponentsByClass), byte-identical to
    * CC over the member pair frame but without materializing member
    * pairs: the raw form hit a measured ~47 GB scratch wall at the
    * GenScale sf100 replica, the class form's sf100 hash point is
    * committed (r15). Same banding parameters as lshPairsMemo, so the
    * exactness invariant is against exactly q_minhash_lsh_pairs. */
  private def dedupClustersMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "dedup_clusters")(
      Dedup.connectedComponentsByClass(Tables.documents(s, d), n = 2, k = 6,
        rowsPerBand = 2, maxBucket = LshMaxBucket).localCheckpoint())

  /** SimHash 8-band pair set (q_simhash_pairs8 output; agreement input). */
  private def simhashPairs8Memo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "simhash_pairs8")(
      Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 7,
        maxBucket = LshMaxBucket, bands = 8).localCheckpoint())

  /** Embedding near-dup pair set (q_embed_neardup output; agreement input). */
  private def embedPairsMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "embed_neardup")(
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), planes = 4,
        threshold = 0.4, maxBucket = EmbedMaxBucket).localCheckpoint())

  /** Capped-inverted-index pair intersections (q_ngram_jaccard +
    * q_ngram_containment both score over it). */
  private def ngramInterMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "ngram_inter")(
      Dedup.ngramPairIntersections(Tables.documents(s, d), n = 2, maxDf = 20L).localCheckpoint())

  /** Brute-force ANN ground truth (q_cosine_topk output; recall input
    * for q_ann_recall and all of q_recall_sweep's probes). */
  private def annGtMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "ann_gt")(
      Similarity.bruteForceTopK(Tables.embeddings(s, d), nQueries = 10, k = 5).localCheckpoint())

  /** Shared day-level delta stream for the lineitem transit sweeps:
    * q_interval_count (weight ≡ 1) and q_weighted_interval (qty) sweep
    * the SAME synthesized [ship, receipt] intervals at the SAME order
    * days, differing only in which weight they prefix-sum — so the
    * whole heavy input pipeline (lineitem + orders scans, the ±delta
    * explode, the day-level aggregation) is built once per memo key
    * and both queries run only calendar-bounded day-level work
    * over the checkpoint. Per-column sums are independent, so each
    * query's output is byte-identical to its single-weight build
    * (oracle-confirmed). The frame is one row per distinct day — KB at
    * any corpus scale. */
  private def transitDeltasMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "transit_deltas") {
      val iv = Tables.lineitem(s, d).select(
        to_date(col("l_shipdate")).as("ship"),
        date_add(to_date(col("l_shipdate")),
          (col("l_orderkey") % 30).cast("int")).as("receipt"),
        lit(1L).cast("decimal(18,2)").as("cnt"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      Analytics.sweepDeltas(iv, "ship", "receipt", Seq("cnt", "qty"),
        Tables.orders(s, d).select(to_date(col("o_orderdate")).as("day")),
        "day").localCheckpoint()
    }

  /** Learned BPE merge table (q_bpe_merges output; q_bpe_encode input).
    * Training is a sequential merge chain — one bounded shuffle per merge
    * over the unique-word table — so it is built once per memo key
    * and shared, with build seconds reported like every other memo. */
  private def bpeMergesMemo(s: SparkSession, d: String): DataFrame =
    memo(s, d, "bpe_merges")(
      graft.text.Bpe.train(Tables.documents(s, d), numMerges = BpeNumMerges)
        .toDF().localCheckpoint())

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- M0/M1: row ops + scalar functions -------------------------------
    "q_wordcount" -> ((s, d) =>
      Tokenize.wordCount(Tables.documents(s, d), "text")),
    "q_tokenize_ws" -> ((s, d) =>
      Tokenize.wordCountWs(Tables.documents(s, d), "text")),
    "q_conditional_fanout" -> ((s, d) =>
      Tokenize.conditionalFanout(Tables.fanout(Tables.documents(s, d)), "text", "spark")),
    "q_filter_eq" -> ((s, d) =>
      RowOps.filterEq(Tables.events(s, d), "event_type", "click")
        .select("event_id", "event_type", "value")),
    "q_parse_cast" -> ((s, d) =>
      RowOps.parseCast(Tables.events(s, d))),
    "q_json_extract" -> ((s, d) =>
      RowOps.jsonExtract(Tables.fanout(Tables.events(s, d)))),
    "q_generator_domain" -> ((s, _) =>
      SampleData.gradesSalaries(s, 1000L)),
    // fault-tolerant parse: ~1/7 of payloads deterministically corrupted
    // (PREFIX corruption — see RowOps.tryJsonExtract's parity caveat),
    // each bad record costs one NULL row, never the job
    "q_try_parse" -> ((s, d) => {
      val raw = Tables.fanout(Tables.events(s, d)).select("event_id", "props")
        .withColumn("raw", when(col("event_id") % 7 === 0,
          concat(lit("x"), col("props"))).otherwise(col("props")))
      RowOps.tryJsonExtract(raw, "raw", "k")
    }),
    // ---- R4/S7/F9: nested tweet-JSON (reference fixture replay) ----------
    "q_json_nested" -> ((s, _) =>
      TweetJson.docMeta(TweetJson.fixtureDf(s), "json")),
    "q_hashtags" -> ((s, _) =>
      TweetJson.hashtags(TweetJson.fixtureDf(s), "json")),
    "q_tweet_wordcount" -> ((s, _) =>
      TweetJson.englishWordCount(TweetJson.fixtureDf(s), "json")),
    "q_scan_text" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).as("text_len"), col("lang"))),
    // ---- M2: aggregation + windows ---------------------------------------
    "q_running_sum" -> ((s, d) =>
      Aggregations.runningSum(Tables.events(s, d), "user_id", "event_id", "value")),
    "q_keyed_sum" -> ((s, d) =>
      Aggregations.keyedSum(Tables.events(s, d), "user_id", "value")),
    "q_window_sum" -> ((s, d) =>
      Aggregations.windowSum(Tables.events(s, d), "ts_sec", "event_type", "value", 5L)),
    "q_sliding_sum" -> ((s, d) =>
      Aggregations.slidingWindowSum(Tables.events(s, d), "ts_sec", "event_type",
        "value", sizeSec = 7200L, slideSec = 3600L)),
    "q_session_sum" -> ((s, d) =>
      Aggregations.sessionSum(Tables.events(s, d), "ts_sec", "user_id", "value", 30L)),
    "q_value_stats" -> ((s, d) =>
      Aggregations.valueStats(Tables.events(s, d), "event_type", "value",
        ValueStatsPs)),
    "q_maxby" -> ((s, d) =>
      Aggregations.maxBy(Tables.events(s, d), "user_id", "value", "event_id")
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props")),
    // ---- M3: windowed join -----------------------------------------------
    "q_window_join" -> ((s, d) =>
      WindowJoin.eventSliceJoin(Tables.events(s, d), "signup", "purchase", 3600L)),
    "q_range_join" -> ((s, d) =>
      WindowJoin.eventRangeJoin(Tables.events(s, d), "signup", "purchase", 1800L)),
    // ---- M4: TopSpeed stateful op (batch/oracle reformulation) ------------
    "q_topspeed_bucket" -> ((s, d) =>
      TopSpeed.topSpeedBuckets(Tables.events(s, d), 10, 50.0)),
    // The flatMapGroupsWithState path itself (W3-W5): the greedy delta-
    // trigger is sequential per key, but IS expressible as a recursive
    // CTE (lateral min per firing) — fully oracle-checked. Integer-space
    // distance keeps the doubles bit-identical across engines.
    "q_topspeed_state" -> ((s, d) => {
      import s.implicits._
      val ce = TopSpeed.carEvents(Tables.events(s, d), 10)
        .selectExpr("carId", "cast(speed as int) as speed", "distance", "time", "seq")
        .as[TopSpeed.CarEvent]
      TopSpeed.run(ce).toDF()
        .select(col("carId").as("car_id"), col("speed"),
          col("distance"), col("time").as("time_ms"))
    }),
    // ---- M5: ordered async map -------------------------------------------
    "q_async_identity" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.fanout(Tables.events(s, d)).select(col("event_id")).as[Long]
      AsyncMap.orderedWait(ids)(AsyncMap.identityAsync[Long]).toDF("event_id")
    }),
    // ---- relational headliners (scale surface) ----------------------------
    "q_tpch_q1" -> Relational.q1 _,
    "q_tpch_q3" -> Relational.q3 _,
    "q_tpch_q5" -> Relational.q5 _,
    "q_tpch_q6" -> Relational.q6 _,
    "q_tpch_q10" -> Relational.q10 _,
    "q_tpch_q12" -> Relational.q12 _,
    "q_tpch_q18" -> Relational.q18 _,
    "q_tpch_q19" -> Relational.q19 _,
    "q_tpch_q4" -> Relational.q4 _,
    "q_tpch_q13" -> Relational.q13 _,
    "q_tpch_q14" -> Relational.q14 _,
    "q_tpch_q7" -> Relational.q7 _,
    "q_tpch_q2" -> Relational.q2 _,
    "q_tpch_q8" -> Relational.q8 _,
    "q_tpch_q9" -> Relational.q9 _,
    "q_tpch_q11" -> Relational.q11 _,
    "q_tpch_q15" -> Relational.q15 _,
    "q_tpch_q16" -> Relational.q16 _,
    "q_tpch_q17" -> Relational.q17 _,
    "q_tpch_q20" -> Relational.q20 _,
    "q_tpch_q21" -> Relational.q21 _,
    "q_tpch_q22" -> Relational.q22 _,

    // ---- analytic-SQL surface (rollup / pivot / top-k / lag) -------------
    // ANALYZE-style one-pass column profile: counts, null counts, min/max
    // and exact distincts for three columns in ONE aggregation (Catalyst
    // expands multi-distinct into one pass over an Expand — no per-column
    // re-scan; the same shape as q21's countDistinct audit).
    "q_col_profile" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("qty_nonnull"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        countDistinct(col("l_quantity")).as("qty_distinct"),
        min(col("l_discount")).as("disc_min"),
        max(col("l_discount")).as("disc_max"),
        countDistinct(col("l_discount")).as("disc_distinct"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("flag_status_distinct"))),
    "q_rollup" -> Analytics.rollupPricing _,
    "q_cube" -> Analytics.cubePricing _,
    "q_pivot" -> Analytics.pivotStatusCounts _,
    "q_topk_per_group" -> ((s, d) =>
      Analytics.topOrdersPerPriority(s, d, k = TopKPerGroup)),
    "q_lag_delta" -> Analytics.lagDelta _,
    // ordered-step conversion funnel: earliest step-k time strictly after
    // step-(k-1), left-joined so broken chains keep NULL tails
    "q_funnel" -> ((s, d) =>
      Analytics.funnel(Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps)),
    // retention triangle: users per (first-activity cohort, period offset)
    "q_cohort" -> ((s, d) =>
      Analytics.cohortRetention(Tables.events(s, d), periodSec = CohortPeriodSec)),
    // rank-family window functions, one shuffle + one shared sort
    "q_window_ranks" -> ((s, d) =>
      Analytics.windowRanks(s, d, buckets = RankTiles)),
    // INTERSECT/EXCEPT key-set algebra over pre-distinct'd filtered scans
    "q_setops" -> ((s, d) =>
      Analytics.urgentHighNotPending(s, d, minPrice = SetOpsMinPrice)),
    // CDC → SCD2: change-filter then [valid_from, valid_to) via lead()
    "q_scd2" -> ((s, d) => Analytics.scd2(s, d)),
    // per-key count distribution as an integer-exact log2 histogram
    "q_skew_profile" -> ((s, d) =>
      Analytics.skewProfile(Tables.orders(s, d), "o_custkey")),
    // gap-based sessionization over cold logs (batch twin of the
    // streaming session window; == gap merges, > gap breaks)
    "q_sessionize" -> ((s, d) =>
      Analytics.sessionize(Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us")), gapUs = SessionGapUs)),
    // sweep-line interval counting: lineitems in transit per order day —
    // prefix sums over the day-level delta stream, never a BETWEEN join.
    // The corpus has no receipt date, so transit time is synthesized
    // deterministically (ship + orderkey%30 days), mirrored in the oracle
    "q_interval_count" -> ((s, d) =>
      // weight ≡ 1 leg of the shared transit-delta memo (cnt column);
      // byte-identical to activeIntervalsAt over the same intervals
      Analytics.sweepFromDeltas(transitDeltasMemo(s, d), "cnt")
        .select(col("day"), col("w_active").cast("bigint").as("n_active"))),
    // profile → pick → execute: the skew histogram chooses the physical
    // join (broadcast here — the urgent-orders dim is small); any picked
    // strategy returns the same rows, so the oracle is the plain join
    // exact per-type quartiles read off the banded rank infrastructure
    // (no percentile_approx estimation, no monolithic per-type sort)
    "q_group_quantiles" -> ((s, d) =>
      Analytics.groupQuantiles(s, d, QuantileSpecs)),
    // last-touch attribution: latest preceding click per purchase, one
    // exchange + one sort via a prefix-max of struct(ts, id)
    "q_attribution" -> ((s, d) =>
      Analytics.attribution(s, d, AttrTouch, AttrConv)),
    // asof-tied attribution: a click AT the purchase's own timestamp
    // gets credit (inclusive touch_ts <= conv_ts, ties to max id) —
    // the batch half of the AttributionAsof streaming twin; the only
    // plan difference vs q_attribution is a RANGE prefix frame.
    // Input = events + planted same-µs ties (see AttrTieEvery), so the
    // hash gate exercises the inclusive tie q_attribution would miss
    "q_attribution_asof" -> ((s, d) => {
      val base = Tables.events(s, d).select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
      val planted = base
        .filter(col("event_type") === AttrConv &&
          col("event_id") % AttrTieEvery === 0)
        .select(col("user_id"),
          (col("event_id") + AttrTieIdOffset).as("event_id"),
          col("ts_us"), lit(AttrTouch).as("event_type"))
      Analytics.attributionAsofOf(base.unionByName(planted),
        AttrTouch, AttrConv)
    }),
    // incremental SCD2 maintenance: merge the newer half as a delta
    // batch into the SCD2 of the older half; the oracle is the FULL
    // rebuild — the merge path must be indistinguishable
    "q_scd2_merge" -> ((s, d) => Analytics.scd2MergeQuery(s, d)),
    // rolling 7-day distinct active users: per-user interval merge +
    // the sweep-line — never a |days| × |events| BETWEEN join; the
    // oracle IS that naive join (IEJoin handles it at gate scale)
    "q_rolling_active" -> ((s, d) =>
      Analytics.rollingActiveQuery(s, d, RollingDays)),
    // incremental DAU/WAU state maintenance: merged intervals are a
    // sufficient, order-independent state — fold the newer half in as
    // a delta; the oracle is the FULL recompute
    "q_rolling_merge" -> ((s, d) =>
      Analytics.rollingMergeQuery(s, d, RollingDays)),
    // first-order Markov transition counts over ordered user events;
    // per-from totals ride along as integers (no division on-surface)
    "q_transitions" -> ((s, d) =>
      Analytics.transitions(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")))),
    // second-order path mining: top-k next events per (prev, cur)
    // context — two lead() taps on one window, WindowGroupLimit cut
    "q_top_paths" -> ((s, d) =>
      Analytics.topPaths(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")), k = TopPathsK)),
    // weighted sweep-line: quantity in transit per order day — the
    // value-in-flight generalization of q_interval_count (weight ≡ 1)
    "q_weighted_interval" -> ((s, d) =>
      // qty leg of the shared transit-delta memo; byte-identical to
      // weightedIntervalsAt over the same intervals
      Analytics.sweepFromDeltas(transitDeltasMemo(s, d), "qty")
        .select(col("day"), col("w_active").cast("double").as("w_active"))),
    // SLA funnel: each step must land within 24 h of the previous one —
    // same one-exchange HOF chain as q_funnel, bound composed in
    "q_funnel_within" -> ((s, d) =>
      Analytics.funnel(Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps, maxGapUs = Some(FunnelMaxGapUs))),
    // per-VISIT funnel: the step chain scoped to gap-based sessions
    // over the funnel-relevant events; still one exchange (the session
    // window's partitioning is reused by the (user, session) agg)
    "q_session_funnel" -> ((s, d) =>
      Analytics.sessionFunnel(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps, gapUs = SessionFunnelGapUs)),
    // degree-oriented triangle census over the thresholded co-occurrence
    // graph — wedge fan-out bounded by sqrt(m), never hub degree; the
    // oracle is the naive 3-way join the operator refuses to run
    "q_triangles" -> ((s, d) =>
      Graph.triangleCensus(
        TextAnalysis.skipgramPairs(Tables.documents(s, d), SkipgramWindow)
          .groupBy(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .agg(sum(col("cnt")).as("pc"))
          .filter(col("a") =!= col("b") && col("pc") >= CooccurMinCount)
          .select(col("a"), col("b")))),
    "q_adaptive_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      AdaptiveSkewJoin.autoJoin(Tables.lineitem(s, d), "l_orderkey",
          urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    "q_bloom_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      BloomJoin.bloomPrunedSemiJoin(Tables.lineitem(s, d), "l_orderkey",
          urgent, "o_orderkey", BloomExpectedKeys, BloomFpp)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    // as-of join: each purchase picks up the latest prior (or same-µs)
    // view per user; the right side is deduped to one row per (user, ts)
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts_us"), col("view_id"),
          col("ts_us").as("view_ts_us"))
      graft.join.AsofJoin.asof(p, v, "user_id", "ts_us")
    }),
    // the same as-of, through the CUSTOM PHYSICAL OPERATOR
    // (graft.plans.AsofMergeJoin via injectPlannerStrategy) — checked
    // against the same DuckDB native ASOF oracle as q_asof_join
    "q_asof_native" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts_us"), col("view_id"),
          col("ts_us").as("view_ts_us"))
      graft.join.AsofJoin.asofNative(p, v, "user_id", "ts_us")
    }),
    // ---- M7: text analysis -------------------------------------------------
    "q_lang_id" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d))),
    "q_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.fanout(Tables.documents(s, d)))),
    "q_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.fanout(Tables.documents(s, d)))),
    "q_tfidf_stats" -> ((s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d))),
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionScore(Tables.documents(s, d), threshold = RepThreshold)),
    // per-source percentile-calibrated quality (equal admission rate
    // across heterogeneous feeds) + declared-vs-predicted language audit
    "q_quality_calibrated" -> ((s, d) =>
      TextAnalysis.calibratedQuality(Tables.documents(s, d), minPctRank = CalMinPct)),
    "q_lang_agreement" -> ((s, d) =>
      TextAnalysis.langAgreement(Tables.documents(s, d))),
    // duplicated-span coverage: exact fraction of each doc's tokens
    // inside an 8-gram shared with another doc (sub-document copied-span
    // signal, the suffix-array-dedup shape)
    "q_dup_span" -> ((s, d) =>
      Dedup.dupSpanCoverage(Tables.documents(s, d), n = DupSpanN)),
    // provenance overlap: distinct shared 8-grams per source pair (the
    // which-feed-mirrors-which audit; no doc-to-doc quadratic stage)
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.fanout(Tables.documents(s, d)), n = DupSpanN)),
    // exact heavy hitters via Misra-Gries candidates + recount: the
    // bounded-shuffle path for billion-type item columns (cnt*k > N,
    // integer-exact, so the sketch never touches the answer)
    "q_heavy_hitters" -> ((s, d) =>
      graft.agg.HeavyHitters.heavyHitters(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok")),
        "tok", k = HhK)),
    // cross-run heavy hitters: per-run candidate sketches (here: the
    // doc-parity halves standing in for two scheduled runs) UNION into
    // one candidate state; the exact recount over the combined corpus
    // must be indistinguishable from the single-pass answer — the
    // oracle is the same exact SQL as q_heavy_hitters
    "q_hh_merge" -> ((s, d) => {
      def toks(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Tables.documents(s, d).filter(p(col("doc_id")))
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok"))
      val merged = graft.agg.HeavyHitters
        .candidateSketch(toks(_ % 2 === 0), "tok", HhK)
        .unionByName(graft.agg.HeavyHitters
          .candidateSketch(toks(_ % 2 === 1), "tok", HhK))
        .distinct()
      graft.agg.HeavyHitters.heavyHittersFrom(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok")),
        "tok", HhK, merged)
    }),
    "q_vocab_encode" -> ((s, d) =>
      TextAnalysis.vocabEncode(Tables.documents(s, d),
        minDf = VocabMinDf, vocabSize = VocabSize)),
    // unigram-LM quality scoring: mean corpus-relative token frequency
    // per doc + quality band (the KenLM-perplexity-filter shape)
    "q_lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d),
        rareMax = LmRareMax, midMax = LmMidMax)),
    // n-gram novelty: per-doc count of corpus-unique bigram shingles
    "q_novelty" -> ((s, d) =>
      TextAnalysis.noveltyScore(Tables.documents(s, d))),
    // C4-style boilerplate: docs sharing a first-k-token prefix with
    // >= minDocs others get the prefix stripped from their token count
    "q_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplate(Tables.documents(s, d),
        BoilerPrefixLen, BoilerMinDocs)),
    // bounded inverted index: df + first-k postings per token; the
    // top-k runs as WindowGroupLimit so stopwords never flood a shuffle
    "q_postings" -> ((s, d) =>
      TextAnalysis.postings(Tables.documents(s, d), PostingsK)),
    // tokenizer-sizing measurement: token-occurrence mass covered by the
    // top-k token types, for several k
    "q_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), CoverageKs)),
    // the naive global rank()+filter top-k — written the "wrong" way on
    // purpose: BoundGlobalTopK rewrites it to a ties-safe
    // WindowGroupLimit bound, so the gate exercises the optimizer rule
    "q_rank_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tokenize.wordCount(Tables.documents(s, d), "text")
        .withColumn("rnk", rank().over(
          Window.orderBy(col("cnt").desc, col("word").asc)).cast("bigint"))
        .filter(col("rnk") <= RankTopK)
    }),
    // forward skip-gram co-occurrence counts off the token array — no
    // positional self-join (the quadratic trap); shuffle = pair vocab
    "q_skipgram" -> ((s, d) =>
      TextAnalysis.skipgramPairs(Tables.documents(s, d), SkipgramWindow)),
    // distributed BPE tokenizer training + greedy encode. A sequential
    // data-dependent argmax chain is not SQL-expressible as a corpus
    // query, but the gate's corpus is FIXED (sf0.01), so both carry full
    // hash oracles: VALUES tables generated by an independent naive BPE
    // (tools/gen_bpe_oracle.py). BpeSpec additionally verifies the
    // algorithm merge-for-merge on a hand-built corpus.
    "q_bpe_merges" -> ((s, d) => bpeMergesMemo(s, d)),
    "q_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val merges = bpeMergesMemo(s, d).as[graft.text.Bpe.Merge].collect().toSeq
      graft.text.Bpe.encode(Tables.documents(s, d), merges)
    }),
    "q_truncate_tokens" -> ((s, d) =>
      TextAnalysis.truncateTokens(Tables.documents(s, d), budget = TruncBudget)),
    // PII redaction: the corpus carries no natural PII, so each doc gets a
    // deterministic synthetic contact line (same construction mirrored in
    // the oracle) and the redactor masks it back out
    "q_pii_redact" -> ((s, d) => {
      val withPii = Tables.fanout(Tables.documents(s, d)).select(col("doc_id"),
        concat(lit("user"), col("doc_id"), lit("@mail.example.com called +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".0.1 re: "),
          substring(col("text"), 1, 64)).as("text"))
      TextAnalysis.redactPii(withPii, "text")
    }),
    // sub-document dedup: first global occurrence of each 10-token chunk
    // survives; docs reassembled from surviving chunks
    "q_chunk_dedup" -> ((s, d) =>
      Dedup.chunkDedup(Tables.documents(s, d), k = ChunkK)),
    // decontamination: docs sharing any bigram with the "benchmark" slice
    // (doc_id < 20 as the stand-in eval set) are dropped
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < BenchSetSize), n = 2)
    }),
    "q_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))),
    // per-label centroid accumulators in quantized space — integer sums
    // and counts, one (label, dim) shuffle; consumers divide
    "q_label_centroids" -> ((s, d) =>
      Similarity.labelCentroidsQ(Tables.embeddings(s, d))),
    // nearest-centroid confusion matrix: integer dot products against
    // broadcast centroids, argmax via WindowGroupLimit, tiny crosstab
    "q_centroid_confusion" -> ((s, d) =>
      Similarity.centroidConfusion(Tables.embeddings(s, d))),
    // filtered vector search: label predicate PRE-filters the corpus
    // (pushed to the scan) so top-k is always k true in-filter hits
    "q_filtered_topk" -> ((s, d) =>
      Similarity.filteredTopK(Tables.embeddings(s, d),
        nQueries = 10, k = 5, labels = FilteredLabels)),
    // ---- M7: deduplication -------------------------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d))),
    "q_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(Tables.fanout(Tables.documents(s, d)), n = 2, k = 6)),
    // serves the canonical lsh_pairs memo directly — the memo's build
    // expression IS this query (same args), so this is byte-identical by
    // construction, and the declared query stops recomputing the frame
    // its own siblings (editdist/agreement/clusters) read from the memo
    "q_minhash_lsh_pairs" -> ((s, d) => lshPairsMemo(s, d)),
    // the pre-flight a 100 TB dedup job runs FIRST: candidate-pair volume
    // under the same banding, one aggregate over the band frame, zero
    // pairs materialized (r11's 3189× adjudication, now permanently gated)
    "q_pair_volume" -> ((s, d) =>
      Dedup.lshPairVolume(Tables.documents(s, d), n = 2, k = 6, rowsPerBand = 2,
        maxBucket = LshMaxBucket)),
    // the production pairing at 100 TB: one representative per content
    // class enters the banding, class pairs carry implied member-pair
    // counts — candidate volume is O(classes²) regardless of how
    // duplicate-dense the corpus is (the raw q_minhash_lsh_pairs hits a
    // ~47 GB scratch wall at sf100; this is its scale-correct variant,
    // sum(member_pairs) == the raw pair count by construction)
    "q_pair_repr" -> ((s, d) =>
      Dedup.lshReprPairs(Tables.documents(s, d), n = 2, k = 6, rowsPerBand = 2,
        maxBucket = LshMaxBucket)),
    // production pipeline order: EXACT dedup first, THEN near-dup
    // pairing — byte-identical copies collapse before the quadratic
    // pair stage ever sees them. Dense duplication makes raw pair
    // materialization explode quadratically in cluster size (the
    // GenScale 100× replica turns every doc into a 100-copy cluster
    // and q_minhash_lsh_pairs pays a ~10⁴× larger output); this
    // pipeline's pair stage only ever sees unique content, so its
    // cost tracks UNIQUE docs, not raw rows — the scale-correct shape
    "q_neardup_after_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      Dedup.minhashLshPairs(docs.join(keep, Seq("doc_id"), "left_semi"),
        n = 2, k = 6, rowsPerBand = 2, maxBucket = LshMaxBucket)
    }),
    "q_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.filter(col("doc_id") % 4 =!= 0)
        .select(md5(col("text")).as("text_hash")).distinct()
      Dedup.incrementalExact(docs.filter(col("doc_id") % 4 === 0), hist)
        .select("doc_id", "text_hash")
    }),
    // the near-dup lift of q_incremental_dedup: same 3/4-history 1/4-batch
    // split, but the store holds LSH band keys and the gate rejects
    // near-duplicate (not just byte-identical) content — no quadratic
    // stage, no bucket cap needed (per-key min + two linear joins)
    "q_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = Dedup.nearDupBandKeys(docs.filter(col("doc_id") % 4 =!= 0))
        .select("bkey").distinct()
      Dedup.incrementalNearDup(docs.filter(col("doc_id") % 4 === 0), store)
        .select("doc_id", "source")
    }),
    "q_pair_editdist" -> ((s, d) =>
      Dedup.pairEditDistance(Tables.documents(s, d), lshPairsMemo(s, d),
        prefixLen = EditPrefix, maxDist = EditMaxDist)),
    "q_dedup_clusters" -> ((s, d) => dedupClustersMemo(s, d)),
    // dedup-aware split audit: near-dup clusters with members on BOTH
    // sides of the train/test cut — the contamination a doc-level split
    // cannot see (reuses the memoized clusters + the same split hash)
    "q_split_leakage" -> ((s, d) =>
      dedupClustersMemo(s, d)
        .join(Sampling.trainTestSplit(Tables.documents(s, d)
          .select(col("doc_id")), "doc_id", 0.1), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .filter(col("n_train") > 0 && col("n_test") > 0)),
    "q_dedup_keep" -> ((s, d) =>
      Dedup.applyClusters(Tables.documents(s, d), dedupClustersMemo(s, d))),
    // keep the LONGEST member per cluster (production dedup retains the
    // most complete copy, not the arbitrary min-id one)
    "q_canonical_keep" -> ((s, d) =>
      Dedup.canonicalKeep(Tables.documents(s, d), dedupClustersMemo(s, d),
        "n_chars")),
    // dedup impact report: how big do near-dup clusters get (the skew
    // question for the keep-one join) — two tiny aggs over the memo
    "q_cluster_sizes" -> ((s, d) =>
      dedupClustersMemo(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_sz"))
        .groupBy(col("cluster_sz")).agg(count(lit(1)).as("n_clusters"))),
    // ---- training-data sampling -------------------------------------------
    "q_hash_sample" -> ((s, d) =>
      Sampling.hashSample(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", 0.25)),
    "q_train_test_split" -> ((s, d) =>
      Sampling.trainTestSplit(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", 0.1)),
    // budget-based mixture: keep docs per source in deterministic hash
    // order until the char budget is crossed — two-level bucket cut, no
    // per-stratum monolithic sort (the rankFamily closed-domain trap)
    "q_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(Tables.documents(s, d),
        "source", "doc_id", "n_chars", TokenBudget)),
    // training-mix downsampling: per-source keep rates, absent sources
    // keep the default rate
    "q_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d)
        .select("doc_id", "source", "n_chars"), "source", "doc_id",
        StratifiedRates, defaultRate = 0.1)),
    // training-mix epoch expansion: per-source weights, deterministic
    // fractional epochs, one row per (doc, epoch)
    "q_det_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(Tables.documents(s, d), "doc_id", ShuffleSeed)),
    "q_quality_band" -> ((s, d) =>
      Sampling.percentileBand(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", col("n_chars"), "doc_id", BandLo, BandHi)),
    "q_mix_epochs" -> ((s, d) =>
      Sampling.mixEpochs(Tables.documents(s, d)
        .select("doc_id", "source", "n_chars"), "source", "doc_id",
        MixWeights, defaultWeight = 1.0)),
    // data-driven mixture balancing: acceptance rates DERIVED in-query
    // from observed counts vs the target language mix, then applied with
    // the same deterministic id-hash thresholds
    "q_mixture_rates" -> ((s, d) =>
      Sampling.mixtureRates(Tables.documents(s, d), "lang", MixtureShares)),
    "q_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(Tables.documents(s, d)
        .select("doc_id", "lang", "source"), "lang", "doc_id", MixtureShares)),
    // pretraining sequence packing (char-budget over n_chars)
    "q_pack_sequences" -> ((s, d) =>
      graft.gen.Packing.packSequences(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", "n_chars",
        budget = PackBudget, shards = PackShards)),
    "q_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.fanout(Tables.documents(s, d)))),
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), maxBucket = LshMaxBucket)),
    "q_simhash_pairs8" -> ((s, d) => simhashPairs8Memo(s, d)),
    // cross-modality dedup agreement: the doc corpus and embedding corpus
    // share ids in the testdata, so the three near-dup methods are
    // directly comparable pair-set by pair-set
    "q_dedup_agreement" -> ((s, d) =>
      Dedup.pairAgreement(
        lshPairsMemo(s, d),
        simhashPairs8Memo(s, d),
        embedPairsMemo(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))),
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardFromIntersections(ngramInterMemo(s, d), threshold = 0.5)),
    // asymmetric containment |A∩B|/|A| over the same memoized index:
    // catches quote-inclusion pairs Jaccard's union denominator buries
    "q_ngram_containment" -> ((s, d) =>
      Dedup.containmentFromIntersections(ngramInterMemo(s, d), threshold = ContainThreshold)),
    // kNN similarity graph over the same memoized index: per-doc top-k
    // neighbors via WindowGroupLimit (shuffle carries docs*k, not pairs)
    "q_knn_graph" -> ((s, d) =>
      Dedup.jaccardKnn(ngramInterMemo(s, d), k = KnnK)),
    // ---- M7: similarity search ---------------------------------------------
    // serves the ann_gt memo directly — the memo's build expression IS
    // this query (same args); recall consumers already read it there
    "q_cosine_topk" -> ((s, d) => annGtMemo(s, d)),
    "q_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), nQueries = 10, k = 5, planes = 4)),
    "q_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), nQueries = 10, k = 5, nlist = 16)),
    "q_ivf_probe2" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), nQueries = 10, k = 5, nlist = 16,
        nprobe = 2)),
    // streaming-arrival centroid refresh: epochs assigned against the
    // index as of their arrival, exact decimal running state as output;
    // the foreachBatch twin (IncrementalIvfSpec) folds the same epochs
    // through a live stream and must land on identical state rows
    "q_ivf_incremental" -> ((s, d) => ivfFoldMemo(s, d).stateDf(s)),
    // ...and serving through the refreshed index: the same probe path
    // as q_ivf_topk over the fold's final centroids — the SAME fold the
    // state query reads (ivfFoldMemo), maintained once per memo key
    // like every shared frame
    "q_ivf_incremental_topk" -> ((s, d) =>
      Similarity.ivfTopKWith(Tables.embeddings(s, d),
        ivfFoldMemo(s, d).centroids, nQueries = 10, k = 5)),
    // the drift mitigation (ANN_DRIFT_CURVE.json): same arrival fold
    // with the running state HALVED between epochs — exact integer
    // truncation toward zero, so the recency-weighted state is as
    // hash-checkable as the cumulative one
    "q_ivf_decay" -> ((s, d) =>
      Similarity.decayedCentroidState(Tables.embeddings(s, d),
        nlist = 16, chunks = 3)),
    // pre-filter composed into IVF: only in-filter vectors are assigned
    // and probed; queries and centroid seeds stay unfiltered
    "q_filtered_ivf" -> ((s, d) =>
      Similarity.filteredIvfTopK(Tables.embeddings(s, d), nQueries = 10,
        k = 5, nlist = 16, labels = FilteredLabels, nprobe = 2)),
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(
        annGtMemo(s, d),
        Similarity.lshTopK(Tables.embeddings(s, d), nQueries = 10, k = 5, planes = 4))),
    // recall@k as a function of the IVF nprobe knob — the accuracy/cost
    // curve an ANN deployment is tuned on, measured not guessed. ONE
    // exploded-probe plan (Similarity.recallSweep): one corpus
    // assignment + one probe join + one grid explode + one window,
    // instead of per-point probe/recall plans unioned (r8 verdict #5:
    // 17 exchanges → single-digit).
    "q_recall_sweep" -> ((s, d) =>
      Similarity.recallSweep(Tables.embeddings(s, d), annGtMemo(s, d),
        nQueries = 10, k = 5, nlist = 16, probes = SweepProbes)),
    // threshold 0.4 is this synthetic corpus's near-dup operating point
    // (max pairwise cosine ~0.51); production near-dup uses 0.9+.
    "q_embed_neardup" -> ((s, d) => embedPairsMemo(s, d)),
    // SemDeDup: cluster by nearest centroid, prune >= threshold cosine
    // near-dups within each cluster — catches same-MEANING duplicates
    // that share no n-grams (MinHash/SimHash-blind). Full corpus out
    // with a keep flag so drop rates are auditable per cluster.
    "q_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), nlist = SemDedupNlist,
        threshold = SemDedupThreshold, maxCluster = EmbedMaxBucket)),
    // ---- M7: multimodal columns --------------------------------------------
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.metaOnly(Tables.documents(s, d))),
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(s, Tables.documents(s, d)).toDF()),
    "q_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(s, Tables.documents(s, d), nFrames = FrameCount).toDF()),
    // perceptual image near-dup: synth BMP corpus off the documents
    // table (+ planted brightness-shifted copies), decode → dHash →
    // banded Hamming pairs; with maxHamming < bands the banding is
    // EXACT (pigeonhole), so the oracle is the plain all-pairs rule
    // recomputed from the pixel spec in SQL
    "q_image_neardup" -> ((s, d) =>
      graft.multimodal.ImageDedup.bandedHammingPairs(
        graft.multimodal.ImageDedup.imageDhash(s,
          graft.multimodal.ImageDedup.synthDocImages(
            Tables.documents(s, d), width = ImgW, height = ImgH,
            shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
            copyOffset = ImgCopyOffset)),
        maxHamming = ImgMaxHamming)),
    // the per-image hash surface itself, split hi/lo 32 bits so the
    // oracle's bit-packing stays inside signed BIGINT — pins every
    // decode + downsample + gradient bit, not just the pair survivors
    "q_image_dhash" -> ((s, d) =>
      graft.multimodal.ImageDedup.imageDhash(s,
          graft.multimodal.ImageDedup.synthDocImages(
            Tables.fanout(Tables.documents(s, d)), width = ImgW, height = ImgH,
            shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
            copyOffset = ImgCopyOffset))
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("lo"))),
    // ingest-time image gate: 3/4 of the corpus seeds the band store,
    // the remaining 1/4 arrives as a batch — kept iff no band collides
    // with the store or an earlier-id batch image (same contract as
    // q_incremental_neardup, lifted to perceptual hashes)
    "q_image_incremental" -> ((s, d) => {
      // The %4 store/batch split is applied to the DOCUMENTS scan, below
      // the synth flatMap (r21): a filter on the flatMap's OUTPUT cannot
      // push through the opaque Dataset.flatMap, so each consumer
      // synthesized + decoded the FULL corpus and then threw 3/4 (or
      // 1/4) away. ImgCopyOffset is a multiple of 4 and every planted
      // copy inherits its base doc's id mod 4, so filtering the docs
      // first is row-identical to filtering the synth output (the
      // oracle pins this).
      def imgs(p: org.apache.spark.sql.Column) =
        graft.multimodal.ImageDedup.synthDocImages(
          Tables.documents(s, d).filter(p), width = ImgW, height = ImgH,
          shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
          copyOffset = ImgCopyOffset)
      val store = graft.multimodal.ImageDedup.imageBandKeys(s,
        imgs(col("doc_id") % 4 =!= 0)).select("bkey").distinct()
      // the batch synth frame is consumed twice inside the gate (band
      // keys + the anti-join's kept side) — size-gated share so the
      // opaque synth flatMap runs once for the batch quarter
      graft.multimodal.ImageDedup.incrementalImageNearDup(s,
          Tables.shareSmall(imgs(col("doc_id") % 4 === 0)), store)
        .select("doc_id")
    }),
    // audio energy-envelope fingerprints (hi/lo 32-bit halves): WAV
    // decode -> 65-window energy gradient hash; volume-doubled planted
    // copies hash identically while every byte differs
    "q_audio_fingerprint" -> ((s, d) =>
      graft.multimodal.AudioDedup.audioFingerprints(s,
          graft.multimodal.AudioDedup.synthDocAudio(
            Tables.fanout(Tables.documents(s, d)), windows = AudioWindows,
            perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
            copyOffset = AudioCopyOffset))
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("lo"))),
    // audio near-dup pairs: same banded-Hamming machinery as images
    // (any 64-bit perceptual hash), same pigeonhole exactness
    "q_audio_neardup" -> ((s, d) =>
      graft.multimodal.ImageDedup.bandedHammingPairs(
        graft.multimodal.AudioDedup.audioFingerprints(s,
          graft.multimodal.AudioDedup.synthDocAudio(
            Tables.documents(s, d), windows = AudioWindows,
            perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
            copyOffset = AudioCopyOffset)),
        maxHamming = ImgMaxHamming)),
    // ingest-time audio gate: same band-store contract as
    // q_image_incremental, over fingerprint bands
    "q_audio_incremental" -> ((s, d) => {
      // %4 split below the synth flatMap — see q_image_incremental;
      // AudioCopyOffset is a multiple of 4.
      def audio(p: org.apache.spark.sql.Column) =
        graft.multimodal.AudioDedup.synthDocAudio(
          Tables.documents(s, d).filter(p), windows = AudioWindows,
          perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
          copyOffset = AudioCopyOffset)
      val store = graft.multimodal.AudioDedup.audioBandKeys(s,
        audio(col("doc_id") % 4 =!= 0)).select("bkey").distinct()
      // batch synth shared — see q_image_incremental
      graft.multimodal.AudioDedup.incrementalAudioNearDup(s,
          Tables.shareSmall(audio(col("doc_id") % 4 === 0)), store)
        .select("doc_id")
    }),
    // video-clip near-dup: per-frame dHash over GFC1 containers, clip
    // pairs by shared-frame counts — re-encodes share ALL frames,
    // trimmed copies n-1 (integer output; consumers divide)
    "q_video_shared" -> ((s, d) =>
      graft.multimodal.VideoDedup.videoSharedFrames(
        graft.multimodal.VideoDedup.videoFrameHashes(s,
          graft.multimodal.VideoDedup.synthDocVideos(
            Tables.fanout(Tables.documents(s, d)), frames = VideoFrames, width = ImgW,
            height = ImgH, shiftEvery = ImgShiftEvery,
            shiftDelta = ImgShiftDelta, copyOffset = VideoCopyOffset)),
        minShared = VideoMinShared, maxBucket = LshMaxBucket)),
    // ingest-time video gate: CONTAINMENT threshold (>= 1/2 of a
    // clip's distinct frames seen -> drop), counting — one shared
    // intro frame cannot drop a distinct clip, unlike set-membership
    "q_video_incremental" -> ((s, d) => {
      // %4 split below the synth flatMap — see q_image_incremental;
      // VideoCopyOffset is a multiple of 4. With the filter above the
      // flatMap, all three consumers (store keys, batch frame hashes,
      // the gate's anti-join) synthesized + frame-decoded the FULL
      // corpus; now store decodes its 3/4 and the batch its 1/4. The
      // fanout spreads the container decode across the cluster
      // (measured 1.28x alone at sf0.1).
      def vids(p: org.apache.spark.sql.Column) =
        graft.multimodal.VideoDedup.synthDocVideos(
          Tables.fanout(Tables.documents(s, d)).filter(p),
          frames = VideoFrames, width = ImgW,
          height = ImgH, shiftEvery = ImgShiftEvery,
          shiftDelta = ImgShiftDelta, copyOffset = VideoCopyOffset)
      val store = graft.multimodal.VideoDedup.videoFrameStoreKeys(s,
        vids(col("doc_id") % 4 =!= 0)).select("fhash").distinct()
      // (batch-synth share measured a LOSS here, unlike audio/image —
      // the per-clip container payload is the biggest of the three and
      // its columnar cache write lands on the critical path)
      graft.multimodal.VideoDedup.incrementalVideoNearDup(s,
          vids(col("doc_id") % 4 === 0), store,
          minSharedNum = VideoGateNum, minSharedDen = VideoGateDen)
        .select("doc_id")
    }),
  )

  /** Percentile fractions for q_value_stats — ONE definition feeding both
    * the Spark query and the generated oracle (shared-constant hygiene:
    * a drifted literal cannot silently break parity). */
  private val ValueStatsPs = Seq(0.5, 0.9, 0.99)

  /** LSH/SimHash band-bucket skew cap and the embedding near-dup bucket
    * cap — single definitions interpolated into BOTH the Spark calls and
    * the generated oracle SQL (a drifted literal cannot silently break
    * parity — r2 ADVICE). */
  private val LshMaxBucket = 1000
  private val EmbedMaxBucket = 100000

  /** q_semantic_dedup knobs, interpolated into both sides: 16 lists over
    * a 500–2000-vector corpus ≈ the N/nlist cluster sizing a real
    * deployment targets; 0.4 is this corpus's near-dup operating point
    * (same as q_embed_neardup). */
  private val SemDedupNlist = 16
  private val SemDedupThreshold = 0.4
  private val FrameCount = 4

  /** q_image_neardup knobs — ONE definition feeding the Spark call and
    * the oracle SQL (shared-constant hygiene). 36×32 divides exactly
    * into the 9×8 dHash grid (16-pixel boxes); the +8 shift can never
    * clamp because synth pixels live in [32, 223]. */
  private val ImgW = 36
  private val ImgH = 32
  // The generalized video-oracle cell sampling (generate_series over
  // ImgW/9 × ImgH/8 cells, k // (ImgW/9) row math) is only equivalent
  // to ImageDedup.dhashFromGray's variable-width boxes when the grid
  // divides exactly — pin the invariant so a future resize can't
  // silently diverge oracle from implementation.
  require(ImgW % 9 == 0 && ImgH % 8 == 0,
    s"dHash oracle assumes exact 9x8 grid division: ${ImgW}x$ImgH")
  private val ImgShiftEvery = 7
  private val ImgShiftDelta = 8
  private val ImgCopyOffset = 1L << 40
  private val ImgMaxHamming = 3

  /** q_audio_* knobs — one definition for the Spark call and the oracle
    * SQL. 65 windows × 16 samples; sample = (ascii − 64)·256·factor, so
    * the ×2 volume copy stays inside int16 and is integer-exact. */
  private val AudioWindows = 65
  private val AudioPerWindow = 16
  private val AudioScaleEvery = 5
  private val AudioCopyOffset = 1L << 41

  /** q_video_* knobs — one definition for both sides. Frame f
    * indexes doc bytes by f·997 + p (997 coprime to the 36×32 frame,
    * decorrelating frames); mod-7 residue 0 plants a full re-encode,
    * residue 1 a first-frame-trimmed copy. The incremental gate drops
    * a clip when ≥ 1/2 of its distinct frame hashes are seen. */
  private val VideoFrames = 4
  private val VideoCopyOffset = 1L << 42
  private val VideoMinShared = 2
  private val VideoGateNum = 1
  private val VideoGateDen = 2

  /** Shared oracle CTEs for the video queries: synth containers (base +
    * re-encode + trimmed copies) → per-frame cells/signs → per-frame
    * (hi, lo) hash → distinct (clip, hash) set. */
  private def videoHashCtes: String =
    s"""vimgs AS (
       |  SELECT doc_id, text, 0 AS delta, 0 AS f0 FROM documents
       |  UNION ALL
       |  SELECT doc_id + $VideoCopyOffset, text, $ImgShiftDelta, 0
       |  FROM documents WHERE doc_id % $ImgShiftEvery = 0
       |  UNION ALL
       |  SELECT doc_id + $VideoCopyOffset, text, 0, 1
       |  FROM documents WHERE doc_id % $ImgShiftEvery = 1),
       |vcells AS (
       |  SELECT doc_id, f, c // 9 AS gy, c % 9 AS gx,
       |         (list_sum(list_transform(generate_series(0, ${ImgW / 9 * ImgH / 8 - 1}), k ->
       |            32 + delta + (CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((f * 997 + (((c // 9) * ${ImgH / 8} + k // ${ImgW / 9}) * $ImgW
       |                  + (c % 9) * ${ImgW / 9} + (k % ${ImgW / 9})))
       |                 % length(text)) + 1, 1)) % 192 END))))
       |           // ${ImgW / 9 * ImgH / 8} AS cell
       |  FROM vimgs,
       |       unnest(generate_series(0, ${VideoFrames - 1})) AS uf(f),
       |       unnest(generate_series(0, 71)) AS u(c)
       |  WHERE f >= f0),
       |vsigns AS (
       |  SELECT doc_id, f, gy * 8 + gx AS bit,
       |         (cell < lead(cell) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)) AS sign
       |  FROM vcells QUALIFY gx < 8),
       |vh AS (
       |  SELECT doc_id, f,
       |         coalesce(sum(CASE WHEN sign AND bit >= 32
       |                           THEN 1::BIGINT << (bit - 32) ELSE 0 END), 0) AS hi,
       |         coalesce(sum(CASE WHEN sign AND bit < 32
       |                           THEN 1::BIGINT << bit ELSE 0 END), 0) AS lo
       |  FROM vsigns GROUP BY doc_id, f),
       |vhd AS (SELECT DISTINCT doc_id, hi, lo FROM vh)""".stripMargin

  /** Shared oracle CTEs for the image queries: synth corpus (base +
    * brightness-shifted copies) → 9×8 box-average cells → gradient sign
    * per adjacent cell pair. ONE definition feeding q_image_neardup and
    * q_image_dhash so the pixel-spec reimplementation cannot fork. */
  private def imageSignsCtes: String =
    s"""imgs AS (
       |  SELECT doc_id, text, 0 AS delta FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ImgCopyOffset, text, $ImgShiftDelta FROM documents
       |  WHERE doc_id % $ImgShiftEvery = 0),
       |cells AS (
       |  SELECT doc_id, c // 9 AS gy, c % 9 AS gx,
       |         (list_sum(list_transform(generate_series(0, ${ImgW / 9 * ImgH / 8 - 1}), k ->
       |            32 + delta + (CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((((c // 9) * ${ImgH / 8} + k // ${ImgW / 9}) * $ImgW
       |                  + (c % 9) * ${ImgW / 9} + (k % ${ImgW / 9}))
       |                 % length(text)) + 1, 1)) % 192 END))))
       |           // ${ImgW / 9 * ImgH / 8} AS cell
       |  FROM imgs, unnest(generate_series(0, 71)) AS u(c)),
       |signs AS (
       |  SELECT doc_id, gy, gx,
       |         (cell < lead(cell) OVER (PARTITION BY doc_id, gy ORDER BY gx)) AS sign
       |  FROM cells QUALIFY gx < 8)""".stripMargin

  /** Shared oracle CTEs for the audio queries: synth corpus (base +
    * volume-doubled copies) → per-window energy sums → gradient sign
    * per adjacent window. The sample expression is written ONCE here
    * and squared by self-multiplication (DuckDB lambdas have no cheap
    * local binding). */
  private def audioSignsCtes: String = {
    val sample = s"""((CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((w * $AudioPerWindow + k) % length(text)) + 1, 1)) - 64
       |              END) * 256 * factor)::BIGINT""".stripMargin
    s"""aimgs AS (
       |  SELECT doc_id, text, 1 AS factor FROM documents
       |  UNION ALL
       |  SELECT doc_id + $AudioCopyOffset, text, 2 FROM documents
       |  WHERE doc_id % $AudioScaleEvery = 0),
       |aen AS (
       |  SELECT doc_id, w,
       |         list_sum(list_transform(generate_series(0, ${AudioPerWindow - 1}), k ->
       |           ($sample) * ($sample))) AS e
       |  FROM aimgs, unnest(generate_series(0, ${AudioWindows - 1})) AS u(w)),
       |asigns AS (
       |  SELECT doc_id, w AS bit,
       |         (e < lead(e) OVER (PARTITION BY doc_id ORDER BY w)) AS sign
       |  FROM aen QUALIFY w < 64)""".stripMargin
  }

  /** Per-source keep rates for q_stratified_sample — one definition, hex
    * thresholds interpolated into the oracle via Sampling.thresholdHex. */
  private val StratifiedRates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  /** q_mix_epochs per-source weights (upsample, identity, downsample). */
  private val MixWeights = Map("src0" -> 2.3, "src1" -> 1.0, "src2" -> 0.5)

  /** q_pack_sequences knobs, interpolated into both sides. */
  private val PackBudget = 2048L
  private val PackShards = 8

  /** q_repetition / q_decontaminate knobs, interpolated into both sides. */
  private val RepThreshold = 0.2
  /** q_truncate_tokens / q_chunk_dedup knobs, interpolated into both sides. */
  private val TruncBudget = 32
  private val ChunkK = 10
  /** q_recall_sweep nprobe grid, interpolated into both sides. */
  private val SweepProbes = Seq(1, 2, 4)
  private val BenchSetSize = 20L

  /** q_topk_per_group k and q_pair_editdist prefix bound, interpolated
    * into both sides. */
  private val TopKPerGroup = 3
  private val EditPrefix = 200
  /** Banded-DP cap for q_pair_editdist: distances beyond this emit -1
    * (Spark's 3-arg levenshtein; CASE-mirrored in the oracle). */
  private val EditMaxDist = 32
  /** q_bloom_join filter sizing: capacity is an upper bound (the sf0.1
    * urgent-order count is ~30k) — over-provisioning only lowers the
    * false-positive rate, never correctness (the exact semi-join removes
    * FPs). Not interpolated into the oracle: the oracle is the plain
    * semi-join, which the bloom path must match EXACTLY regardless of
    * filter sizing. */
  private val BloomExpectedKeys = 100000L
  private val BloomFpp = 0.02

  /** q_det_shuffle seed and q_quality_band trim bounds, interpolated into
    * both sides. */
  private val ShuffleSeed = 7
  private val BandLo = 0.05
  private val BandHi = 0.95

  /** q_vocab_encode knobs, interpolated into both sides. */
  private val VocabMinDf = 2L
  private val VocabSize = 1000

  /** q_lm_score band thresholds on mean corpus-relative token frequency.
    * The measure is scale-invariant (≈ 1/|vocab| ≈ 0.033 on this corpus
    * at every SF), so fixed cuts band meaningfully at sf0.001..sf0.1. */
  private val LmRareMax = 0.0332
  private val LmMidMax = 0.0334

  /** q_vocab_coverage curve points; 40 > |vocab| (31 types) exercises the
    * k-larger-than-vocabulary clamp. */
  private val CoverageKs = Seq(5, 15, 40)

  /** q_skipgram forward context width (word2vec's default is 5),
    * interpolated into both sides. */
  private val SkipgramWindow = 5

  /** q_rank_topk global-rank cut, interpolated into both sides. */
  private val RankTopK = 5

  /** q_window_ranks ntile bucket count and q_setops price threshold
    * (~40 surviving customers at sf0.01), interpolated into both sides. */
  private val RankTiles = 4
  private val SetOpsMinPrice = 300000.0

  /** q_ngram_containment threshold on max(|A∩B|/|A|, |A∩B|/|B|). */
  private val ContainThreshold = 0.8

  /** q_quality_calibrated per-source percentile floor. */
  private val CalMinPct = 0.2

  /** q_knn_graph neighbors per document. */
  private val KnnK = 3

  /** q_dup_span n-gram length: 31^8 >> (corpus n-gram count)^2, so
    * random cross-doc 8-gram collisions are rare and surviving spans are
    * the PLANTED near-dup copies (47 of 500 docs at sf0.01). */
  private val DupSpanN = 8

  /** q_heavy_hitters threshold divisor: items with count > N/k. The
    * corpus is 31 near-uniform token types (share ~1/31 = 3.2%), so k=32
    * (threshold 3.125%) splits the vocabulary non-trivially — roughly
    * half the types clear the bar at every SF. Interpolated into both
    * sides; the result is EXACT (sketch only proposes candidates). */
  private val HhK = 32

  /** The exact heavy-hitters oracle — shared verbatim by
    * q_heavy_hitters and q_hh_merge: the cross-run candidate-union
    * path's correctness claim IS equality with the single-pass exact
    * answer. */
  private lazy val HeavyHittersSql =
    s"""WITH tok AS (SELECT unnest($DuckToks) AS tok FROM documents),
       |tot AS (SELECT count(*) AS n_total FROM tok)
       |SELECT tok, count(*) AS cnt, n_total
       |FROM tok CROSS JOIN tot
       |GROUP BY tok, n_total
       |HAVING count(*) * $HhK > n_total""".stripMargin

  /** q_mixture_* target language mix (sums to 1; en-heavy so every other
    * language's observed count becomes the binding constraint). */
  private val MixtureShares = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** q_bpe_* merge budget — small because each merge is one full pass
    * over the unique-word table (12 suffices for the synthetic corpus's
    * 31 word types; a production tokenizer run sets 10^4-10^5). */
  private val BpeNumMerges = 12

  /** q_funnel step sequence and q_cohort period, interpolated into both
    * sides. */
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val CohortPeriodSec = 86400L

  /** q_sessionize gap (30 s in µs — same operating point as
    * q_session_sum's 30 s so the two session views describe the same
    * corpus behavior), interpolated into both sides. */
  private val SessionGapUs = 30000000L

  /** q_group_quantiles: quartiles as exact (num, den) rationals —
    * interpolated into both sides so the ceil-target arithmetic is
    * literally the same integers. */
  private val QuantileSpecs = Seq((1, 4), (2, 4), (3, 4))

  /** The SCD2 full-rebuild oracle — shared verbatim by q_scd2 and
    * q_scd2_merge: the incremental merge's correctness claim IS
    * equality with the full rebuild. */
  private val Scd2RebuildSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |                  event_type
      |           FROM events),
      |ch AS (SELECT user_id, event_id, ts_us, event_type
      |       FROM (SELECT *, lag(event_type) OVER
      |               (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
      |             FROM e)
      |       WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_id, event_type, ts_us AS valid_from,
      |       lead(ts_us) OVER w AS valid_to,
      |       (lead(ts_us) OVER w IS NULL) AS is_current
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  /** q_attribution touch/conversion event types. */
  private val AttrTouch = "click"
  private val AttrConv = "purchase"
  /** q_attribution_asof tie planting: the events table carries no
    * natural same-µs touch/conversion pairs at gate SFs, so every
    * (AttrTieEvery)-th conversion gets a synthetic touch at EXACTLY its
    * own timestamp (id-offset far above real event_ids, construction
    * mirrored in the oracle) — the inclusive asof tie the operator
    * exists for is then exercised by the DuckDB hash gate itself, not
    * only by specs. */
  private val AttrTieEvery = 20L
  private val AttrTieIdOffset = 1L << 40

  /** q_boilerplate prefix length (tokens) and minimum sharer count. */
  private val BoilerPrefixLen = 3
  private val BoilerMinDocs = 2

  /** q_postings per-token posting-list cap. */
  private val PostingsK = 8

  /** q_rolling_active window width (the WAU operating point). */
  private val RollingDays = 7

  /** The rolling-active full-recompute oracle (the naive BETWEEN join)
    * — shared verbatim by q_rolling_active and q_rolling_merge: the
    * incremental merge's correctness claim IS equality with the full
    * recompute. */
  private lazy val RollingRebuildSql =
    s"""WITH e AS (SELECT DISTINCT user_id,
       |             DATE '1970-01-01'
       |               + CAST(epoch_ns(ts) // 1000 // 86400000000
       |                      AS INTEGER) AS day
       |           FROM events),
       |d AS (SELECT DISTINCT day FROM e)
       |SELECT d.day, count(DISTINCT e.user_id) AS n_active
       |FROM d JOIN e ON e.day BETWEEN d.day - ${RollingDays - 1} AND d.day
       |GROUP BY d.day""".stripMargin

  /** q_token_budget per-source budget (chars; ~half of each sf0.01
    * source's ~7k total, so every stratum exercises the boundary cut). */
  private val TokenBudget = 4000L

  /** q_filtered_topk label constraint, interpolated into both sides. */
  private val FilteredLabels = Seq(1, 2, 3)

  /** q_session_funnel gap (24 h in µs — funnel-step events are sparse,
    * so a browse-session gap would splinter every step; 24 h yields
    * 1073→516→234 session-level attrition at sf0.01). */
  private val SessionFunnelGapUs = 86400000000L

  /** q_top_paths per-context cut. */
  private val TopPathsK = 3

  /** q_funnel_within max inter-step gap (24 h in µs — 150→60→25 user
    * attrition on the sf0.01 corpus, non-trivial at every level). */
  private val FunnelMaxGapUs = 86400000000L

  /** q_triangles edge threshold: skip-gram co-occurrence pairs seen at
    * least this often form an edge (~p75 of the pair-count distribution
    * at sf0.01 → a sparse 110-edge graph instead of the near-complete
    * 464-edge one). */
  private val CooccurMinCount = 300L

  /** Oracle for Aggregations.valueStats: the same fixed-bin histogram
    * percentile, op-for-op — bin = round(value*100) (exact for 2-decimal
    * measures), rank r = 1 + p·(n−1), interpolate between the bins
    * holding order statistics ⌊r⌋ and ⌈r⌉. Every double op appears in
    * the same order as the Spark expression so results are bit-identical. */
  private def valueStatsOracle(ps: Seq[Double]): String = {
    val names = ps.map(p => s"p${math.round(p * 100)}")
    def rank(p: Double) = s"(1.0 + $p * cast(n - 1 AS double))"
    val brackets = ps.zip(names).map { case (p, nm) =>
      s"min(CASE WHEN cum >= floor(${rank(p)}) THEN bin END) AS lo_$nm,\n" +
        s"       min(CASE WHEN cum >= ceil(${rank(p)}) THEN bin END) AS hi_$nm"
    }.mkString(",\n       ")
    val outs = ps.zip(names).map { case (p, nm) =>
      s"(lo_$nm + (${rank(p)} - floor(${rank(p)})) * (hi_$nm - lo_$nm)) / 100.0 AS $nm"
    }.mkString(",\n       ")
    s"""WITH h AS (SELECT event_type, cast(round(value * 100) AS bigint) AS bin,
       |                  count(*) AS cnt, min(value) AS measure_min
       |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |             sum(cnt) OVER (PARTITION BY event_type) AS n
       |      FROM h),
       |a AS (SELECT event_type, min(measure_min) AS min_v, max(n) AS n,
       |       $brackets
       |      FROM c GROUP BY event_type)
       |SELECT event_type, min_v,
       |       $outs
       |FROM a""".stripMargin
  }

  /** DuckDB token-list fragment shared by the text/dedup oracles. */
  /** Oracle-side `l_extendedprice * (1 - l_discount)` in exact decimal —
    * the SQL twin of Relational.discPrice. */
  private val DuckDisc =
    "cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))"

  private val DuckToks =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  private val DuckBigrams =
    "list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])"

  /** Shared CTE prefix for the q_mixture_* oracles: per-stratum counts,
    * target shares (same literals as [[MixtureShares]]), and the capacity
    * min(cnt/share) — every double op in the same order as
    * `Sampling.mixtureRates`, so rates are bit-identical cross-engine. */
  private val MixtureOracleRates: String = {
    val cases = MixtureShares.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN '$k' THEN cast($v AS double)"
    }.mkString(" ")
    s"""WITH c AS (SELECT lang AS stratum, cast(count(*) AS double) AS cnt
       |           FROM documents GROUP BY lang),
       |s AS (SELECT stratum, cnt,
       |             CASE stratum $cases ELSE cast(0.0 AS double) END AS share
       |      FROM c),
       |f AS (SELECT * FROM s WHERE share > 0.0),
       |cap AS (SELECT min(cnt / share) AS cap FROM f)""".stripMargin
  }

  /** SimHash CTE chain (64-bit: 16 hex nibbles, 4 bit-majority votes
    * each), mirroring Dedup.simhash exactly — ends in a `sim(doc_id,
    * simhash)` CTE shared by the fingerprint and pairing oracles. */
  private def duckSimhashCtes: String = {
    val nibVals = (0 until 16).map(i =>
      s"(strpos('0123456789abcdef', substring(h, ${i + 1}, 1)) - 1) AS nv_$i")
      .mkString(",\n              ")
    val votes = (0 until 64).map { b =>
      val i = b / 4; val d = 1 << (3 - b % 4)
      s"sum((nv_$i // $d) % 2) AS v_$b"
    }.mkString(",\n              ")
    val nibChars = (0 until 16).map { i =>
      val v = (0 until 4).map(j =>
        s"(CASE WHEN v_${i * 4 + j}*2 > n THEN ${1 << (3 - j)} ELSE 0 END)").mkString(" + ")
      s"substring('0123456789abcdef', 1 + $v, 1)"
    }.mkString(" ||\n       ")
    s"""tok AS (SELECT doc_id, unnest($DuckToks) AS t FROM documents),
       |h AS (SELECT doc_id, md5(t) AS h FROM tok),
       |nv AS (SELECT doc_id,
       |              $nibVals
       |       FROM h),
       |v AS (SELECT doc_id, count(*) AS n,
       |              $votes
       |       FROM nv GROUP BY doc_id),
       |sim AS (SELECT doc_id, $nibChars AS simhash FROM v)""".stripMargin
  }

  private def simhashOracle: String =
    s"""WITH $duckSimhashCtes
       |SELECT doc_id, simhash FROM sim""".stripMargin

  /** SimHash band/pair CTE chain over the `sim` CTE, parameterized by
    * band count (full recall for Hamming <= bands-1) and prefixed so it
    * composes with the MinHash and embedding chains in one statement.
    * Ends in `<p>pairs(doc_a, doc_b, hamming)`. */
  private def duckSimhashPairCtes(bands: Int, maxHamming: Int, p: String,
                                  maxBucket: Int = LshMaxBucket): String = {
    val w = 16 / bands
    val ham = "list_sum(list_transform(generate_series(1, 16), i -> " +
      "bit_count(xor(strpos('0123456789abcdef', substring(sa, i, 1)) - 1, " +
      "strpos('0123456789abcdef', substring(sb, i, 1)) - 1))))"
    val bandSel = (0 until bands).map(b =>
      s"SELECT '$b:' || substring(simhash, ${b * w + 1}, $w) AS band_key, doc_id, simhash FROM sim")
      .mkString("\n          UNION ALL ")
    s"""${p}bands AS ($bandSel),
       |${p}ok AS (SELECT band_key FROM ${p}bands
       |       GROUP BY band_key HAVING count(*) BETWEEN 2 AND $maxBucket),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS sa, b.simhash AS sb
       |         FROM ${p}bands a JOIN ${p}bands b
       |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |         JOIN ${p}ok ON a.band_key = ${p}ok.band_key),
       |${p}pairs AS (SELECT doc_a, doc_b, cast(hamming AS int) AS hamming
       |      FROM (SELECT doc_a, doc_b, $ham AS hamming FROM ${p}cand) t
       |      WHERE hamming <= $maxHamming)""".stripMargin
  }

  /** SimHash pairing oracle, mirroring Dedup.simhashPairs (band blocking
    * + exact Hamming distance, bucket cap included). */
  private def simhashPairsOracle(bands: Int, maxHamming: Int): String =
    s"""WITH $duckSimhashCtes,
       |${duckSimhashPairCtes(bands, maxHamming, "sp_")}
       |SELECT doc_a, doc_b, hamming FROM sp_pairs""".stripMargin

  /** Shared CTE chain producing the MinHash-LSH candidate pairs (used by
    * the pairs oracle and, under WITH RECURSIVE, the clustering oracle).
    * `src` swaps the document source relation — q_neardup_after_exact
    * feeds the exact-dedup survivors through the same chain. */
  private def duckLshPairCtes: String = duckLshPairCtesFrom("documents")
  private def duckLshPairCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id, $DuckToks AS tk FROM $src),
       |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
       |sig AS (SELECT doc_id,
       |               min(md5('0:' || shingle)) AS mh_0, min(md5('1:' || shingle)) AS mh_1,
       |               min(md5('2:' || shingle)) AS mh_2, min(md5('3:' || shingle)) AS mh_3,
       |               min(md5('4:' || shingle)) AS mh_4, min(md5('5:' || shingle)) AS mh_5
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT 0 AS band, mh_0 || '|' || mh_1 AS band_key, doc_id FROM sig
       |          UNION ALL SELECT 1, mh_2 || '|' || mh_3, doc_id FROM sig
       |          UNION ALL SELECT 2, mh_4 || '|' || mh_5, doc_id FROM sig),
       |ok AS (SELECT band, band_key FROM bands
       |       GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |lsh_pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |              FROM bands a JOIN bands b
       |                ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |              JOIN ok ON a.band = ok.band AND a.band_key = ok.band_key)""".stripMargin

  /** Brute-force / LSH top-k oracle queries — full statements, reused as
    * CTE bodies by the recall oracle. */
  private def duckBruteTopK: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (SELECT query_id, e.vec_id AS neighbor_id,
      |             list_reduce(list_transform(list_zip(qv, e.v), p -> p[1]*p[2]), (x,y) -> x+y)
      |             / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
      |                * sqrt(list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y))) AS cos_sim
      |      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s) t
      |WHERE rn <= 5""".stripMargin

  private def duckLshTopK: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
       |           FROM embeddings),
       |wb AS (SELECT vec_id, v, cast(${duckLshBucket("v", 4)} AS bigint) AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM wb WHERE vec_id < 10),
       |s AS (SELECT query_id, wb.vec_id AS neighbor_id,
       |             list_reduce(list_transform(list_zip(qv, wb.v), p -> p[1]*p[2]), (x,y) -> x+y)
       |             / (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y))
       |                * sqrt(list_reduce(list_transform(wb.v, x -> x*x), (x,y) -> x+y))) AS cos_sim
       |      FROM wb JOIN q ON wb.bucket = q.bucket AND wb.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s) t
       |WHERE rn <= 5""".stripMargin

  /** DuckDB cosine of two double-list columns — the same strict
    * left-to-right fold as Similarity.cosine (bit-identical doubles). */
  private def duckCos(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1]*p[2]), (x,y) -> x+y)" +
      s" / (sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x+y))" +
      s" * sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x+y)))"

  /** LSH bucket oracle fragment for vector column `v` (generated SQL):
    * the SAME precomputed sign literals as Similarity.planeSigns. */

  /** Generated oracle for q_ivf_incremental: the chunked arrival fold
    * unrolled — epoch j is assigned against the centroids refreshed from
    * the CUMULATIVE quantized state after epoch j-1 (the vec_id<nlist
    * seeds for j=1); the output is the exact running state
    * (cid, i, int8-quantized long sum, member count), mirroring
    * Similarity.incrementalCentroidState's fold step for step. The
    * quantized-long accumulation is the q_label_centroids pattern — a
    * decimal formulation diverged in the last bit (Spark casts
    * double→decimal HALF_UP, DuckDB HALF_EVEN). */
  private def ivfIncrementalCtes(nlist: Int, chunks: Int,
                                 decayed: Boolean = false): String = {
    val rounds = (1 to chunks).map { j =>
      val prev = if (j == 1) "c0" else s"c${j - 1}"
      // Running state after epoch j: cumulative (sum over g1..gj), or
      // DECAYED (q_ivf_decay) — the previous HALVED state h(j-1) plus
      // epoch j. The halving is integer division TRUNCATING TOWARD
      // ZERO on both engines: Scala Long `/ 2` truncates, DuckDB `//`
      // floors, so negative sums route through -((-s) // 2). The
      // refresh feeding epoch j+1's assignment reads the DECAYED state
      // h$j (exactly when the engine decays: between epochs, before the
      // next fold) — building it from cum$j diverges in the last
      // truncated bit of the mean and flips near-tie assignments.
      val state =
        if (!decayed) {
          val gs = (1 to j).map(g => s"SELECT * FROM g$g").mkString(" UNION ALL ")
          s"""cum$j AS (SELECT cid, i, cast(sum(s) AS bigint) AS s,
             |                 cast(sum(n) AS bigint) AS n
             |          FROM ($gs) gg GROUP BY cid, i)""".stripMargin
        } else {
          val base =
            if (j == 1)
              s"""cum1 AS (SELECT dom.cid, dom.i,
                 |                cast(coalesce(g.s, 0) AS bigint) AS s,
                 |                cast(coalesce(g.n, 0) AS bigint) AS n
                 |         FROM dom LEFT JOIN g1 g USING (cid, i))""".stripMargin
            else
              s"""cum$j AS (SELECT p.cid, p.i,
                 |                 cast(p.s + coalesce(g.s, 0) AS bigint) AS s,
                 |                 cast(p.n + coalesce(g.n, 0) AS bigint) AS n
                 |          FROM h${j - 1} p LEFT JOIN g$j g USING (cid, i))""".stripMargin
          s"""$base,
             |h$j AS (SELECT cid, i,
             |        cast(CASE WHEN s >= 0 THEN s // 2
             |                  ELSE -((-s) // 2) END AS bigint) AS s,
             |        cast(n // 2 AS bigint) AS n FROM cum$j)""".stripMargin
        }
      val refreshFrom = if (decayed) s"h$j" else s"cum$j"
      s"""a$j AS (SELECT vec_id, v, cid FROM (
         |  SELECT ch.vec_id, ch.v, c.cid, row_number() OVER (
         |    PARTITION BY ch.vec_id ORDER BY ${duckCos("ch.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM ch CROSS JOIN $prev c WHERE ch.epoch = ${j - 1}) t WHERE rn = 1),
         |g$j AS (SELECT cid, cast(ip - 1 AS int) AS i,
         |        cast(sum(cast(CASE WHEN amax > 0
         |                           THEN round(v[ip] * 127.0 / amax)
         |                           ELSE 0 END AS bigint)) AS bigint) AS s,
         |        count(*) AS n
         |        FROM (SELECT cid, v, list_max(list_transform(v, x -> abs(x))) AS amax
         |              FROM a$j) qa$j,
         |             unnest(generate_series(1, len(v))) AS u(ip)
         |        GROUP BY cid, i),
         |$state,
         |c$j AS (SELECT cid, list(comp ORDER BY i) AS cv FROM (
         |  SELECT dom.cid, dom.i, CASE WHEN coalesce(rf.n, 0) > 0
         |         THEN cast(rf.s AS double) / rf.n ELSE dom.seed END AS comp
         |  FROM dom LEFT JOIN $refreshFrom rf USING (cid, i)) t GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
       |           FROM embeddings),
       |meta AS (SELECT cast(ceil((max(vec_id) + 1) / $chunks.0) AS bigint) AS span FROM e),
       |ch AS (SELECT vec_id, v, cast(vec_id // span AS int) AS epoch FROM e, meta),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nlist),
       |dom AS (SELECT cid, cast(ip - 1 AS int) AS i, cv[ip] AS seed
       |        FROM c0, unnest(generate_series(1, len(cv))) AS u(ip)),
       |$rounds""".stripMargin
  }

  private def ivfIncrementalSql(nlist: Int, chunks: Int,
                                decayed: Boolean = false): String =
    s"""${ivfIncrementalCtes(nlist, chunks, decayed)}
       |SELECT dom.cid, dom.i, cast(coalesce(cum$chunks.s, 0) AS bigint) AS sq,
       |       cast(coalesce(cum$chunks.n, 0) AS bigint) AS n
       |FROM dom LEFT JOIN cum$chunks USING (cid, i)""".stripMargin

  /** Search through the refreshed index: the q_ivf_topk probe pattern
    * over the fold's final centroids (c<chunks>) instead of the seeds. */
  private def ivfIncrementalTopKSql(nlist: Int, chunks: Int,
                                    nQueries: Int, k: Int): String =
    s"""${ivfIncrementalCtes(nlist, chunks)},
       |fa AS (SELECT vec_id, v, cid AS list FROM (
       |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c$chunks c) t WHERE rn = 1),
       |fq AS (SELECT vec_id AS query_id, v AS qv, list FROM fa WHERE vec_id < $nQueries),
       |fs AS (SELECT query_id, fa.vec_id AS neighbor_id, ${duckCos("qv", "fa.v")} AS cos_sim
       |       FROM fa JOIN fq USING (list) WHERE fa.vec_id <> query_id)
       |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM fs) t
       |WHERE rn <= $k""".stripMargin

  private def duckLshBucket(v: String, planes: Int): String = {
    val signs = Similarity.planeSigns(planes)
    (0 until planes).map { i =>
      val sl = signs(i).map(s => if (s > 0) "1.0" else "-1.0").mkString(", ")
      val proj = s"list_reduce(list_transform(generate_series(1, 64), j -> " +
        s"$v[j] * (list_value($sl)[j])), (x, y) -> x + y)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** DuckDB VALUES list of the embedded tweet fixture docs (the fixture
    * is constant, so the oracle embeds the same strings — they contain no
    * single quotes, only JSON double quotes). */
  private def duckTweetDocs: String =
    TweetJson.FixtureTexts.map(t => s"('$t')").mkString("VALUES ", ", ", "")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_json_nested" ->
      s"""WITH docs(j) AS ($duckTweetDocs)
         |SELECT cast(json_extract(j, '$$.id') AS bigint) AS id,
         |       json_extract_string(j, '$$.user.lang') AS lang,
         |       cast(json_array_length(json_extract(j, '$$.user.entities.hashtags')) AS int) AS n_hashtags,
         |       json_extract_string(j, '$$.user.entities.hashtags[0].text') AS first_tag
         |FROM docs""".stripMargin,
    "q_hashtags" ->
      s"""WITH docs(j) AS ($duckTweetDocs),
         |x AS (SELECT j, unnest(generate_series(0,
         |        cast(json_array_length(json_extract(j, '$$.user.entities.hashtags')) AS int) - 1)) AS i
         |      FROM docs)
         |SELECT cast(json_extract(j, '$$.id') AS bigint) AS id,
         |       json_extract_string(j, '$$.user.entities.hashtags[' || i || '].text') AS tag,
         |       cast(json_extract(j, '$$.user.entities.hashtags[' || i || '].indices[0]') AS int) AS idx0
         |FROM x""".stripMargin,
    "q_tweet_wordcount" ->
      s"""WITH docs(j) AS ($duckTweetDocs),
         |en AS (SELECT json_extract_string(j, '$$.text') AS text FROM docs
         |       WHERE json_extract_string(j, '$$.user.lang') = 'en'
         |         AND json_extract(j, '$$.text') IS NOT NULL)
         |SELECT word, count(*) AS cnt
         |FROM (SELECT lower(unnest(regexp_split_to_array(text, '\\s+'))) AS word FROM en) t
         |WHERE length(word) > 0 GROUP BY word""".stripMargin,
    "q_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS word
        |      FROM documents) t
        |WHERE length(word) > 0 GROUP BY word""".stripMargin,
    "q_rank_topk" ->
      s"""WITH vc AS (SELECT word, count(*) AS cnt
         |            FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\W+')) AS word
         |                  FROM documents) t
         |            WHERE length(word) > 0 GROUP BY word)
         |SELECT word, cnt, rnk FROM (
         |  SELECT word, cnt,
         |         cast(rank() OVER (ORDER BY cnt DESC, word) AS bigint) AS rnk
         |  FROM vc) r
         |WHERE rnk <= $RankTopK""".stripMargin,
    "q_tokenize_ws" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s')) AS word
        |      FROM documents) t
        |GROUP BY word""".stripMargin,
    "q_conditional_fanout" ->
      """SELECT upper(word) AS word
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS word
        |      FROM documents
        |      WHERE list_contains(regexp_split_to_array(lower(text), '\W+'), 'spark')) t
        |WHERE length(word) > 0""".stripMargin,
    "q_filter_eq" ->
      "SELECT event_id, event_type, value FROM events WHERE lower(event_type) = 'click'",
    "q_parse_cast" ->
      """SELECT event_id, user_id,
        |       least(greatest(value, 0.0), 100000.0) AS value,
        |       epoch_ns(ts) // 1000000000 AS ts_sec
        |FROM events""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, event_type, cast(json_extract(props, '$.k') AS bigint) AS k
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL""".stripMargin,
    "q_try_parse" ->
      """WITH r AS (SELECT event_id,
        |                  CASE WHEN event_id % 7 = 0 THEN concat('x', props)
        |                       ELSE props END AS raw
        |           FROM events)
        |SELECT event_id,
        |       CASE WHEN json_valid(raw)
        |            THEN cast(json_extract(raw, '$.k') AS bigint) END AS k,
        |       (CASE WHEN json_valid(raw)
        |             THEN cast(json_extract(raw, '$.k') AS bigint) END) IS NOT NULL AS is_valid
        |FROM r""".stripMargin,
    "q_generator_domain" ->
      """SELECT seq,
        |       list_value('tom','jerry','alice','bob','john','grace')[
        |         cast(((1103515245*(seq+1)+12345) % 2147483648) % 6 + 1 AS int)] AS name,
        |       cast(((1103515245*(seq+2)+12345) % 2147483648) % 5 + 1 AS int) AS grade,
        |       cast(((1103515245*(seq+3)+12345) % 2147483648) % 10000 + 1 AS int) AS salary
        |FROM (SELECT range AS seq FROM range(1000)) g""".stripMargin,
    "q_scan_text" ->
      "SELECT doc_id, n_chars, length(text) AS text_len, lang FROM documents",
    "q_running_sum" ->
      """SELECT user_id, event_id,
        |       cast(sum(cast(value AS decimal(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_sum
        |FROM events""".stripMargin,
    "q_keyed_sum" ->
      """SELECT user_id, cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY user_id""".stripMargin,
    "q_window_sum" ->
      """SELECT (epoch_ns(ts) // 5000000000) * 5 AS wstart_sec, event_type,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event contributes to size/slide = 2 epoch-aligned windows:
    // floor(ts/slide)*slide and the one slide earlier
    "q_sliding_sum" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS tsec, value
        |           FROM events),
        |x AS (SELECT event_type, value, (tsec // 3600) * 3600 - o.s AS wstart_sec
        |      FROM e, (VALUES (0), (3600)) AS o(s))
        |SELECT wstart_sec, event_type,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q_session_sum" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, value FROM events),
        |m AS (SELECT *, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 30
        |                     OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |                THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT user_id, min(t) AS session_start, max(t) + 30 AS session_end,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_value_stats" -> valueStatsOracle(ValueStatsPs),
    "q_maxby" ->
      """SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id, event_type, value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1""".stripMargin,
    "q_window_join" ->
      """WITH a AS (SELECT user_id, (epoch_ns(ts) // 3600000000000) * 3600 AS wstart_sec,
        |                  value AS grade, event_id AS a_id
        |           FROM events WHERE event_type = 'signup'),
        |     b AS (SELECT user_id, (epoch_ns(ts) // 3600000000000) * 3600 AS wstart_sec,
        |                  value AS salary, event_id AS b_id
        |           FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a.wstart_sec, a_id, b_id, grade, salary
        |FROM a JOIN b ON a.user_id = b.user_id AND a.wstart_sec = b.wstart_sec""".stripMargin,
    "q_range_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_ns(a.ts) // 1000000000 AS a_ts,
        |       epoch_ns(b.ts) // 1000000000 AS b_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND abs(epoch_ns(a.ts) // 1000000000 - epoch_ns(b.ts) // 1000000000) <= 1800
        |WHERE a.event_type = 'signup' AND b.event_type = 'purchase'""".stripMargin,
    "q_topspeed_bucket" ->
      """WITH ce AS (SELECT cast(user_id % 10 AS int) AS car_id, value AS speed,
        |                   epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events),
        |     d AS (SELECT car_id, speed, event_id,
        |                  sum(cast(round(speed*100) AS bigint)) OVER (
        |                    PARTITION BY car_id ORDER BY ts_us, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 360.0 AS distance
        |           FROM ce)
        |SELECT car_id, cast(floor(distance/50.0) AS bigint) AS bucket,
        |       speed AS top_speed, event_id
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY car_id, floor(distance/50.0)
        |        ORDER BY speed DESC, event_id DESC) AS rn FROM d) t
        |WHERE rn = 1""".stripMargin,
    "q_topspeed_state" ->
      """WITH RECURSIVE
        |ce AS (SELECT cast(user_id % 10 AS int) AS car_id, value AS vspeed,
        |              epoch_ns(ts) // 1000 AS ts_us, event_id
        |       FROM events),
        |d0 AS (SELECT car_id, vspeed, event_id, ts_us,
        |              sum(cast(round(vspeed*100) AS bigint)) OVER (
        |                PARTITION BY car_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 360.0 AS distance,
        |              row_number() OVER (PARTITION BY car_id ORDER BY ts_us, event_id) AS rn
        |       FROM ce),
        |d AS (SELECT *, cast(trunc(vspeed) AS int) AS ispeed, ts_us // 1000 AS tms FROM d0),
        |f AS (
        |  SELECT car_id, 0 AS rn, cast(0.0 AS double) AS last_fired, 0 AS depth
        |  FROM (SELECT DISTINCT car_id FROM d)
        |  UNION ALL
        |  SELECT f.car_id, nxt.rn, nxt.distance, f.depth + 1
        |  FROM f JOIN LATERAL (
        |    SELECT d.rn, d.distance FROM d
        |    WHERE d.car_id = f.car_id AND d.rn > f.rn AND d.distance - f.last_fired >= 50.0
        |    ORDER BY d.rn LIMIT 1
        |  ) nxt ON true
        |),
        |fe AS (SELECT f.car_id, f.rn AS fire_rn, d.tms AS fire_tms
        |       FROM f JOIN d ON d.car_id = f.car_id AND d.rn = f.rn
        |       WHERE f.depth > 0),
        |em AS (SELECT fe.car_id, fe.fire_rn, b.ispeed, b.distance, b.tms,
        |              row_number() OVER (PARTITION BY fe.car_id, fe.fire_rn
        |                ORDER BY b.ispeed DESC, b.tms DESC, b.rn DESC) AS r
        |       FROM fe JOIN d b ON b.car_id = fe.car_id AND b.rn <= fe.fire_rn
        |                      AND b.tms >= fe.fire_tms - 10000)
        |SELECT car_id, ispeed AS speed, distance, tms AS time_ms FROM em WHERE r = 1""".stripMargin,
    "q_async_identity" ->
      "SELECT event_id FROM events",
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS sum_disc_price,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2))) * (cast(1.0 AS decimal(3,2)) + cast(l_tax AS decimal(18,2)))), 2) AS double) AS sum_charge,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(*) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-01-01'
        |  AND l_shipdate > TIMESTAMP '2000-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_tpch_q6" ->
      """SELECT cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * cast(l_discount AS decimal(18,2))), 2) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING sum(cast(l_quantity AS decimal(18,2))) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_0', 'NATION_1')
        |  AND n2.n_name IN ('NATION_0', 'NATION_1')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_tpch_q14" ->
      """SELECT cast(round(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2))) END), 2) AS double)
        |       * 100.0
        |       / cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS promo_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    "q_tpch_q2" ->
      s"""WITH eur AS (SELECT n_nationkey, n_name FROM nation
         |             JOIN region ON n_regionkey = r_regionkey
         |             WHERE r_name = 'EUROPE'),
         |o AS (SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         |             min(cast(l_extendedprice AS decimal(18,2))) AS offer
         |      FROM lineitem
         |      JOIN part ON l_partkey = p_partkey
         |      JOIN supplier ON l_suppkey = s_suppkey
         |      JOIN eur ON s_nationkey = n_nationkey
         |      WHERE p_size <= 10 AND p_type = 'LARGE'
         |      GROUP BY 1, 2, 3, 4, 5, 6),
         |m AS (SELECT p_partkey AS mo_partkey, min(offer) AS min_offer FROM o GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cast(offer AS double) AS offer
         |FROM o JOIN m ON p_partkey = mo_partkey AND offer = min_offer""".stripMargin,
    "q_tpch_q8" ->
      s"""SELECT year(o_orderdate) AS o_year,
         |       cast(round(sum(CASE WHEN n2.n_name = 'NATION_3' THEN $DuckDisc
         |                     ELSE cast(0 AS decimal(18,2)) END), 2) AS double)
         |       / cast(round(sum($DuckDisc), 2) AS double) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1""".stripMargin,
    "q_tpch_q9" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |       cast(round(sum($DuckDisc - cast(p_retailprice AS decimal(18,2)) * cast(l_quantity AS decimal(18,2))), 2) AS double) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_type = 'ECONOMY'
         |GROUP BY 1, 2""".stripMargin,
    "q_tpch_q11" ->
      s"""WITH pv AS (SELECT l_partkey, sum($DuckDisc) AS value FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(value) AS total, count(*) AS nparts FROM pv)
         |SELECT l_partkey, cast(round(value, 2) AS double) AS value
         |FROM pv, t WHERE value * nparts * 10 > total * 15""".stripMargin,
    "q_tpch_q15" ->
      s"""WITH rev AS (SELECT l_suppkey, sum($DuckDisc) AS total_revenue
         |             FROM lineitem
         |             WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |               AND l_shipdate < TIMESTAMP '1997-04-01'
         |             GROUP BY 1),
         |m AS (SELECT max(total_revenue) AS max_revenue FROM rev)
         |SELECT s_suppkey, s_name, cast(round(total_revenue, 2) AS double) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey, m
         |WHERE total_revenue = max_revenue""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_tpch_q17" ->
      """WITH pa AS (SELECT l_partkey AS pa_partkey, count(*) AS cnt,
        |                   sum(cast(l_quantity AS decimal(18,2))) AS sumq
        |            FROM lineitem GROUP BY 1)
        |SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON l_partkey = pa_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND cast(l_quantity AS decimal(18,2)) * 5 * cnt < sumq""".stripMargin,
    "q_tpch_q20" ->
      """WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        |shipped AS (SELECT l_suppkey, sum(cast(l_quantity AS decimal(18,2))) AS shipped_qty
        |            FROM lineitem JOIN promo ON l_partkey = p_partkey
        |            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |              AND l_shipdate < TIMESTAMP '1998-01-01'
        |            GROUP BY 1),
        |eur AS (SELECT n_nationkey, n_name FROM nation
        |        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
        |SELECT s_name, n_name
        |FROM supplier JOIN eur ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE shipped_qty > 100)""".stripMargin,
    "q_tpch_q21" ->
      """WITH lo AS (SELECT o_orderkey, l_suppkey,
        |                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            WHERE o_orderstatus = 'F'),
        |per AS (SELECT o_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
        |               min(CASE WHEN late THEN l_suppkey END) AS late_supp
        |        FROM lo GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM per JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1""".stripMargin,
    "q_tpch_q22" ->
      """WITH sel AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |             WHERE c_nationkey IN (0, 5, 10, 15, 20)),
        |st AS (SELECT sum(cast(c_acctbal AS decimal(18,2))) AS tot, count(*) AS cnt
        |       FROM sel WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |       cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS totacctbal
        |FROM sel, st
        |WHERE cast(c_acctbal AS decimal(18,2)) * cnt > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q_col_profile" ->
      """SELECT count(*) AS n_rows,
        |       count(l_quantity) AS qty_nonnull,
        |       min(l_quantity) AS qty_min,
        |       max(l_quantity) AS qty_max,
        |       count(DISTINCT l_quantity) AS qty_distinct,
        |       min(l_discount) AS disc_min,
        |       max(l_discount) AS disc_max,
        |       count(DISTINCT l_discount) AS disc_distinct,
        |       count(DISTINCT (l_returnflag, l_linestatus)) AS flag_status_distinct
        |FROM lineitem""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(grouping(l_returnflag, l_linestatus) AS bigint) AS gid,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(grouping(l_returnflag, l_linestatus) AS bigint) AS gid,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,
    "q_topk_per_group" ->
      s"""SELECT o_orderpriority, o_orderkey, o_totalprice, cast(rn AS int) AS rnk
         |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
         |             row_number() OVER (PARTITION BY o_orderpriority
         |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |      FROM orders) t
         |WHERE rn <= $TopKPerGroup""".stripMargin,
    "q_lag_delta" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value,
        |       lag(value) OVER w AS prev_value,
        |       value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)""".stripMargin,
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(1)}' AND ts_us > t1
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(2)}' AND ts_us > t2
         |       GROUP BY e.user_id)
         |SELECT s1.user_id, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
    "q_cohort" ->
      s"""WITH p AS (SELECT user_id,
         |                  epoch_ns(ts) // 1000000000 // $CohortPeriodSec AS per
         |           FROM events),
         |f AS (SELECT user_id, min(per) AS cohort FROM p GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, per FROM p)
         |SELECT cohort * $CohortPeriodSec AS cohort_start_sec,
         |       per - cohort AS period_offset,
         |       count(*) AS n_users
         |FROM a JOIN f USING (user_id)
         |GROUP BY 1, 2""".stripMargin,
    "q_window_ranks" ->
      s"""SELECT event_id, event_type, value,
         |       cast(rank() OVER w AS bigint) AS rnk,
         |       cast(dense_rank() OVER w AS bigint) AS drnk,
         |       cast(ntile($RankTiles) OVER w AS int) AS tile$RankTiles,
         |       percent_rank() OVER w AS pct_rank,
         |       cume_dist() OVER w AS cdist
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,
    "q_setops" ->
      s"""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         |INTERSECT
         |SELECT o_custkey FROM orders WHERE o_totalprice > $SetOpsMinPrice
         |EXCEPT
         |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    "q_scd2" -> Scd2RebuildSql,
    // incremental merge vs the FULL rebuild: same oracle by design
    "q_scd2_merge" -> Scd2RebuildSql,
    "q_group_quantiles" ->
      s"""WITH r AS (SELECT event_type, value,
         |                  rank() OVER (PARTITION BY event_type
         |                               ORDER BY value, event_id) AS rn,
         |                  count(*) OVER (PARTITION BY event_type) AS n
         |           FROM events),
         |q AS (SELECT * FROM (VALUES ${QuantileSpecs
        .map { case (p, d) => s"($p, $d)" }.mkString(", ")})
         |      t(p_num, p_den))
         |SELECT event_type, 'q' || p_num || '_' || p_den AS q_label, n,
         |       value AS q_value
         |FROM r JOIN q ON rn = (n * p_num + p_den - 1) // p_den""".stripMargin,
    "q_attribution" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         |                  event_type
         |           FROM events),
         |s AS (SELECT *, sum(CASE WHEN event_type = '$AttrTouch'
         |                         THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                     ROWS UNBOUNDED PRECEDING) AS seq
         |      FROM e),
         |t AS (SELECT user_id, seq, event_id AS touch_id,
         |             ts_us AS touch_ts_us
         |      FROM s WHERE event_type = '$AttrTouch'),
         |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts_us, seq
         |      FROM s WHERE event_type = '$AttrConv')
         |SELECT c.user_id, conv_id, conv_ts_us, touch_id, touch_ts_us,
         |       conv_ts_us - touch_ts_us AS gap_us
         |FROM c LEFT JOIN t ON c.user_id = t.user_id AND c.seq = t.seq""".stripMargin,
    // same seq-ordinal trick, with touches ordered BEFORE conversions at
    // equal ts — a conversion's running touch count then includes every
    // touch with ts <= its own ts (the inclusive asof tie), and the
    // seq-th touch is the max-(ts, event_id) one
    "q_attribution_asof" ->
      s"""WITH b AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         |                  event_type
         |           FROM events),
         |e AS (SELECT * FROM b
         |      UNION ALL
         |      SELECT user_id, event_id + $AttrTieIdOffset AS event_id,
         |             ts_us, '$AttrTouch' AS event_type
         |      FROM b
         |      WHERE event_type = '$AttrConv'
         |        AND event_id % $AttrTieEvery = 0),
         |s AS (SELECT *, sum(CASE WHEN event_type = '$AttrTouch'
         |                         THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY user_id
         |                     ORDER BY ts_us,
         |                              CASE WHEN event_type = '$AttrTouch'
         |                                   THEN 0 ELSE 1 END,
         |                              event_id
         |                     ROWS UNBOUNDED PRECEDING) AS seq
         |      FROM e),
         |t AS (SELECT user_id, seq, event_id AS touch_id,
         |             ts_us AS touch_ts_us
         |      FROM s WHERE event_type = '$AttrTouch'),
         |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts_us, seq
         |      FROM s WHERE event_type = '$AttrConv')
         |SELECT c.user_id, conv_id, conv_ts_us, touch_id, touch_ts_us,
         |       conv_ts_us - touch_ts_us AS gap_us
         |FROM c LEFT JOIN t ON c.user_id = t.user_id AND c.seq = t.seq""".stripMargin,
    "q_funnel_within" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(1)}'
         |         AND ts_us > t1 AND ts_us <= t1 + $FunnelMaxGapUs
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(2)}'
         |         AND ts_us > t2 AND ts_us <= t2 + $FunnelMaxGapUs
         |       GROUP BY e.user_id)
         |SELECT s1.user_id, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
    "q_triangles" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |p AS (SELECT tk, i FROM t,
         |      unnest(generate_series(1, len(tk))) AS u(i)),
         |pr AS (SELECT tk[i] AS w1, tk[j] AS w2 FROM p,
         |       unnest(generate_series(i + 1, least(i + $SkipgramWindow,
         |                                           len(tk)))) AS v(j)),
         |pc AS (SELECT least(w1, w2) AS u, greatest(w1, w2) AS v,
         |              count(*) AS c
         |       FROM pr WHERE w1 <> w2 GROUP BY 1, 2),
         |e AS (SELECT u, v FROM pc WHERE c >= $CooccurMinCount),
         |n AS (SELECT count(DISTINCT x) AS n_nodes FROM
         |      (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
         |tri AS (SELECT count(*) AS n_triangles
         |        FROM e e1
         |        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         |        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
         |SELECT n_nodes, (SELECT count(*) FROM e) AS n_edges, n_triangles
         |FROM n, tri""".stripMargin,
    "q_session_funnel" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  epoch_ns(ts) // 1000 AS ts_us
         |           FROM events
         |           WHERE event_type IN (${FunnelSteps
        .map(s => s"'$s'").mkString(", ")})),
         |b AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w
         |                       > $SessionFunnelGapUs
         |                     THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY ts_us, event_id)),
         |s AS (SELECT *, cast(sum(brk) OVER (PARTITION BY user_id
         |                       ORDER BY ts_us, event_id
         |                       ROWS UNBOUNDED PRECEDING) AS bigint)
         |                  AS session_idx
         |      FROM b),
         |s1 AS (SELECT user_id, session_idx, min(ts_us) AS t1 FROM s
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1, 2),
         |s2 AS (SELECT s.user_id, s.session_idx, min(ts_us) AS t2
         |       FROM s JOIN s1 ON s.user_id = s1.user_id
         |                     AND s.session_idx = s1.session_idx
         |       WHERE event_type = '${FunnelSteps(1)}' AND ts_us > t1
         |       GROUP BY 1, 2),
         |s3 AS (SELECT s.user_id, s.session_idx, min(ts_us) AS t3
         |       FROM s JOIN s2 ON s.user_id = s2.user_id
         |                     AND s.session_idx = s2.session_idx
         |       WHERE event_type = '${FunnelSteps(2)}' AND ts_us > t2
         |       GROUP BY 1, 2)
         |SELECT s1.user_id, s1.session_idx, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id, session_idx)
         |        LEFT JOIN s3 USING (user_id, session_idx)""".stripMargin,
    "q_rolling_active" -> RollingRebuildSql,
    // incremental merge vs the FULL recompute: same oracle by design
    "q_rolling_merge" -> RollingRebuildSql,
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_ns(ts) // 1000 AS ts_us
        |           FROM events),
        |p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts_us, event_id)
        |               AS to_type
        |      FROM e),
        |t AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       cast(sum(n) OVER (PARTITION BY from_type) AS bigint)
        |         AS n_from
        |FROM t""".stripMargin,
    "q_skew_profile" ->
      """WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |           GROUP BY o_custkey)
        |SELECT cast(len(bin(cnt)) - 1 AS int) AS bucket,
        |       count(*) AS n_keys, cast(sum(cnt) AS bigint) AS n_rows,
        |       max(cnt) AS max_cnt
        |FROM c GROUP BY 1""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |b AS (SELECT user_id, event_id, ts_us,
         |             CASE WHEN ts_us - lag(ts_us) OVER w > $SessionGapUs
         |                  THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, ts_us,
         |             sum(brk) OVER (PARTITION BY user_id
         |                            ORDER BY ts_us, event_id
         |                            ROWS UNBOUNDED PRECEDING) AS session_idx
         |      FROM b)
         |SELECT user_id, cast(session_idx AS bigint) AS session_idx,
         |       count(*) AS n_events,
         |       min(ts_us) AS t_start_us, max(ts_us) AS t_end_us,
         |       max(ts_us) - min(ts_us) AS dur_us
         |FROM s GROUP BY user_id, session_idx""".stripMargin,
    // the oracle IS the naive BETWEEN join the operator refuses to run —
    // DuckDB's IEJoin handles it at gate scale; the sweep-line must agree
    "q_interval_count" ->
      """WITH days AS (SELECT DISTINCT cast(o_orderdate AS date) AS day
        |              FROM orders),
        |iv AS (SELECT cast(l_shipdate AS date) AS ship,
        |              cast(l_shipdate AS date) + cast(l_orderkey % 30 AS int)
        |                AS receipt
        |       FROM lineitem)
        |SELECT day, cast(count(ship) AS bigint) AS n_active
        |FROM days LEFT JOIN iv ON ship <= day AND receipt >= day
        |GROUP BY day""".stripMargin,
    "q_weighted_interval" ->
      """WITH days AS (SELECT DISTINCT cast(o_orderdate AS date) AS day
        |              FROM orders),
        |iv AS (SELECT cast(l_shipdate AS date) AS ship,
        |              cast(l_shipdate AS date) + cast(l_orderkey % 30 AS int)
        |                AS receipt,
        |              cast(l_quantity AS decimal(18,2)) AS qty
        |       FROM lineitem)
        |SELECT day, cast(coalesce(sum(qty), 0) AS double) AS w_active
        |FROM days LEFT JOIN iv ON ship <= day AND receipt >= day
        |GROUP BY day""".stripMargin,
    "q_top_paths" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |p AS (SELECT event_type AS prev_type,
         |             lead(event_type, 1) OVER w AS cur_type,
         |             lead(event_type, 2) OVER w AS next_type
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY ts_us, event_id)),
         |t AS (SELECT prev_type, cur_type, next_type, count(*) AS n FROM p
         |      WHERE next_type IS NOT NULL GROUP BY 1, 2, 3)
         |SELECT prev_type, cur_type, next_type, n, cast(rn AS int) AS rnk
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY prev_type, cur_type
         |        ORDER BY n DESC, next_type) AS rn FROM t) x
         |WHERE rn <= $TopPathsK""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_returnflag,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    // the adaptive path is a physical choice only: whatever strategy the
    // profile picks, the rows equal the plain inner join
    "q_adaptive_join" ->
      """SELECT l_returnflag,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts_us, max(event_id) AS view_id, ts_us AS view_ts_us
        |      FROM (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events WHERE event_type = 'view') t
        |      GROUP BY user_id, ts_us)
        |SELECT p.user_id, p.ts_us, p.event_id, v.view_id, v.view_ts_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin,
    "q_asof_native" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts_us, max(event_id) AS view_id, ts_us AS view_ts_us
        |      FROM (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events WHERE event_type = 'view') t
        |      GROUP BY user_id, ts_us)
        |SELECT p.user_id, p.ts_us, p.event_id, v.view_id, v.view_ts_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin,
    "q_tpch_q19" ->
      """SELECT cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1.0 AS decimal(3,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |r AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_filter(tk, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS double) / len(tk)
         |                  ELSE 0.0 END AS en_ratio
         |      FROM t)
         |SELECT doc_id, en_ratio,
         |       CASE WHEN en_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM r""".stripMargin,
    "q_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents)
         |SELECT doc_id,
         |       cast(len(tk) AS bigint) AS n_tokens,
         |       cast(len(list_distinct(tk)) AS bigint) AS n_distinct,
         |       CASE WHEN len(tk) > 0
         |            THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |            ELSE 0.0 END AS distinct_ratio,
         |       CASE WHEN len(tk) > 0
         |            THEN cast(list_sum(list_transform(tk, w -> len(w))) AS double) / len(tk)
         |            ELSE 0.0 END AS mean_token_len,
         |       (len(tk) >= 10 AND
         |        CASE WHEN len(tk) > 0
         |             THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |             ELSE 0.0 END >= 0.2) AS keep
         |FROM t""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |       cast(len($DuckToks) AS bigint) AS ws_tokens,
         |       cast(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bigint) AS bpeish_tokens
         |FROM documents""".stripMargin,
    "q_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents)
         |SELECT doc_id,
         |       list_min(list_transform($DuckBigrams, s -> md5(s))) AS fingerprint
         |FROM t""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_quality_calibrated" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |q AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |                  ELSE 0.0 END AS distinct_ratio
         |      FROM t)
         |SELECT q.doc_id, d.source, q.distinct_ratio,
         |       percent_rank() OVER w AS pct_rank,
         |       (percent_rank() OVER w >= $CalMinPct) AS keep_cal
         |FROM q JOIN documents d ON q.doc_id = d.doc_id
         |WINDOW w AS (PARTITION BY d.source ORDER BY q.distinct_ratio, q.doc_id)""".stripMargin,
    "q_lang_agreement" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |r AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_filter(tk, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS double) / len(tk)
         |                  ELSE 0.0 END AS en_ratio
         |      FROM t)
         |SELECT d.source, d.lang,
         |       CASE WHEN r.en_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
         |       count(*) AS n_docs
         |FROM r JOIN documents d ON r.doc_id = d.doc_id
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_dup_span" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |pos AS (SELECT doc_id, unnest(range(1, len(tk)-$DupSpanN+2)) AS start, tk
         |        FROM t WHERE len(tk) >= $DupSpanN),
         |ng AS (SELECT doc_id, start,
         |              array_to_string(tk[start:start+$DupSpanN-1], ' ') AS ngram
         |       FROM pos),
         |dup AS (SELECT ngram FROM ng GROUP BY ngram
         |        HAVING min(doc_id) <> max(doc_id)),
         |occ AS (SELECT doc_id, start FROM ng JOIN dup USING (ngram)),
         |contrib AS (SELECT doc_id,
         |                   least($DupSpanN, coalesce(start - lag(start)
         |                     OVER (PARTITION BY doc_id ORDER BY start), $DupSpanN)) AS c
         |            FROM occ),
         |cov AS (SELECT doc_id, cast(sum(c) AS bigint) AS covered
         |        FROM contrib GROUP BY doc_id)
         |SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens,
         |       coalesce(covered, 0) AS dup_covered,
         |       CASE WHEN len(tk) > 0
         |            THEN cast(coalesce(covered, 0) AS double) / len(tk)
         |            ELSE 0.0 END AS dup_frac
         |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin,
    "q_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source, $DuckToks AS tk FROM documents),
         |pos AS (SELECT doc_id, source, unnest(range(1, len(tk)-$DupSpanN+2)) AS start, tk
         |        FROM t WHERE len(tk) >= $DupSpanN),
         |ng AS (SELECT DISTINCT source,
         |              array_to_string(tk[start:start+$DupSpanN-1], ' ') AS ngram
         |       FROM pos)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q_heavy_hitters" -> HeavyHittersSql,
    // cross-run candidate union + recount vs the same exact answer
    "q_hh_merge" -> HeavyHittersSql,
    "q_tfidf_stats" ->
      s"""WITH tf AS (SELECT doc_id, t AS word, count(*) AS tf
         |            FROM (SELECT doc_id, unnest($DuckToks) AS t FROM documents)
         |            GROUP BY doc_id, t),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, word, tf, df, n_docs
         |FROM tf JOIN dfreq USING (word) CROSS JOIN n""".stripMargin,
    "q_quantize_int8" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
        |           FROM embeddings),
        |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
        |x AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS ip, v, amax FROM a)
        |SELECT vec_id, cast(ip - 1 AS int) AS i,
        |       cast(CASE WHEN amax > 0 THEN round(v[ip] * 127.0 / amax) ELSE 0 END AS int) AS qv
        |FROM x""".stripMargin,
    "q_label_centroids" ->
      """WITH e AS (SELECT label, list_transform(embedding, x -> cast(x AS double)) AS v
        |           FROM embeddings),
        |a AS (SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
        |x AS (SELECT label, unnest(generate_series(1, len(v))) AS ip, v, amax FROM a)
        |SELECT label, cast(ip - 1 AS int) AS i,
        |       cast(sum(cast(CASE WHEN amax > 0
        |                          THEN round(v[ip] * 127.0 / amax)
        |                          ELSE 0 END AS int)) AS bigint) AS sum_q,
        |       count(*) AS n_vecs
        |FROM x GROUP BY label, ip""".stripMargin,
    "q_centroid_confusion" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> cast(x AS double)) AS v
        |           FROM embeddings),
        |a AS (SELECT vec_id, label, v,
        |             list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
        |q AS (SELECT vec_id, label, cast(ip - 1 AS int) AS i,
        |             cast(CASE WHEN amax > 0
        |                       THEN round(v[ip] * 127.0 / amax)
        |                       ELSE 0 END AS int) AS qv
        |      FROM a, unnest(generate_series(1, len(v))) AS u(ip)),
        |c AS (SELECT label AS c_label, i, cast(sum(qv) AS bigint) AS sum_q
        |      FROM q GROUP BY label, i),
        |nc AS (SELECT label AS c_label, count(*) AS n FROM e GROUP BY label),
        |s AS (SELECT q.vec_id, q.label, c.c_label,
        |             sum(q.qv * c.sum_q) AS score
        |      FROM q JOIN c USING (i) GROUP BY q.vec_id, q.label, c.c_label),
        |sn AS (SELECT s.*, nc.n FROM s JOIN nc USING (c_label)),
        |w AS (SELECT * FROM sn a WHERE NOT EXISTS (
        |        SELECT 1 FROM sn b WHERE b.vec_id = a.vec_id AND (
        |          CAST(b.score AS HUGEINT) * a.n > CAST(a.score AS HUGEINT) * b.n
        |          OR (CAST(b.score AS HUGEINT) * a.n
        |                = CAST(a.score AS HUGEINT) * b.n
        |              AND b.c_label < a.c_label))))
        |SELECT label, c_label AS pred_label, count(*) AS n
        |FROM w GROUP BY label, c_label""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t)
         |SELECT doc_id,
         |       min(md5('0:' || shingle)) AS mh_0, min(md5('1:' || shingle)) AS mh_1,
         |       min(md5('2:' || shingle)) AS mh_2, min(md5('3:' || shingle)) AS mh_3,
         |       min(md5('4:' || shingle)) AS mh_4, min(md5('5:' || shingle)) AS mh_5
         |FROM sh GROUP BY doc_id""".stripMargin,
    "q_minhash_lsh_pairs" ->
      s"""WITH $duckLshPairCtes
         |SELECT doc_a, doc_b FROM lsh_pairs""".stripMargin,
    // sum of C(sz,2) over band buckets ≤ cap, plus over-cap / pairing
    // bucket counts — the capacity probe's oracle is pure SQL over the
    // shared band CTEs (per-branch sz*(sz-1)/2 is an exact-integer-valued
    // double in BOTH engines; the cast to bigint is exact)
    "q_pair_volume" ->
      s"""WITH $duckLshPairCtes,
         |bs AS (SELECT band, band_key, count(*) AS sz FROM bands GROUP BY 1, 2)
         |SELECT cast(sum(CASE WHEN sz BETWEEN 2 AND $LshMaxBucket
         |                     THEN sz * (sz - 1) / 2 ELSE 0 END) AS bigint) AS candidate_pairs,
         |       cast(count(CASE WHEN sz > $LshMaxBucket THEN 1 END) AS bigint) AS buckets_over_cap,
         |       cast(count(CASE WHEN sz BETWEEN 2 AND $LshMaxBucket THEN 1 END) AS bigint) AS buckets_pairing
         |FROM bs""".stripMargin,
    // class-representative pairing: same signature CTEs over ONE doc per
    // distinct text, bucket cap on MEMBER-weighted size, class pairs
    // expanded to implied member-pair counts (never to member rows) —
    // sum(member_pairs) == count(q_minhash_lsh_pairs) by construction
    "q_pair_repr" ->
      s"""WITH cls AS (SELECT min(doc_id) AS doc_id, count(*) AS m, text
         |             FROM documents GROUP BY text),
         |t AS (SELECT doc_id, $DuckToks AS tk FROM cls),
         |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |sig AS (SELECT doc_id,
         |               min(md5('0:' || shingle)) AS mh_0, min(md5('1:' || shingle)) AS mh_1,
         |               min(md5('2:' || shingle)) AS mh_2, min(md5('3:' || shingle)) AS mh_3,
         |               min(md5('4:' || shingle)) AS mh_4, min(md5('5:' || shingle)) AS mh_5
         |        FROM sh GROUP BY doc_id),
         |bands AS (SELECT 0 AS band, mh_0 || '|' || mh_1 AS band_key, doc_id FROM sig
         |          UNION ALL SELECT 1, mh_2 || '|' || mh_3, doc_id FROM sig
         |          UNION ALL SELECT 2, mh_4 || '|' || mh_5, doc_id FROM sig),
         |ok AS (SELECT band, band_key FROM bands JOIN cls USING (doc_id)
         |       GROUP BY band, band_key HAVING sum(m) BETWEEN 2 AND $LshMaxBucket),
         |rp AS (SELECT DISTINCT a.doc_id AS repr_a, b.doc_id AS repr_b
         |       FROM bands a JOIN bands b
         |         ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <= b.doc_id
         |       JOIN ok ON a.band = ok.band AND a.band_key = ok.band_key)
         |SELECT repr_a, repr_b, ca.m AS n_a, cb.m AS n_b, member_pairs
         |FROM rp JOIN cls ca ON ca.doc_id = rp.repr_a
         |        JOIN cls cb ON cb.doc_id = rp.repr_b
         |CROSS JOIN LATERAL (SELECT CASE WHEN repr_a = repr_b
         |                      THEN ca.m * (ca.m - 1) // 2
         |                      ELSE ca.m * cb.m END AS member_pairs) mp
         |WHERE member_pairs > 0""".stripMargin,
    "q_neardup_after_exact" ->
      s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents
         |              GROUP BY md5(text)),
         |src AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)),
         |${duckLshPairCtesFrom("src")}
         |SELECT doc_a, doc_b FROM lsh_pairs""".stripMargin,
    "q_incremental_dedup" ->
      """WITH hist AS (SELECT DISTINCT md5(text) AS text_hash
        |              FROM documents WHERE doc_id % 4 <> 0),
        |nb AS (SELECT doc_id, md5(text) AS text_hash
        |       FROM documents WHERE doc_id % 4 = 0),
        |fst AS (SELECT doc_id, text_hash
        |        FROM (SELECT doc_id, text_hash, row_number() OVER (
        |                PARTITION BY text_hash ORDER BY doc_id) AS rn FROM nb) t
        |        WHERE rn = 1)
        |SELECT f.doc_id, f.text_hash FROM fst f
        |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text_hash = f.text_hash)""".stripMargin,
    // bands over ALL documents from the shared CTEs, split 3/4 store vs
    // 1/4 batch; drop rule = earlier-id within batch OR any store hit
    "q_incremental_neardup" ->
      s"""WITH $duckLshPairCtes,
         |hist AS (SELECT DISTINCT band, band_key FROM bands WHERE doc_id % 4 <> 0),
         |nb AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
         |firsts AS (SELECT band, band_key, min(doc_id) AS first_id
         |           FROM nb GROUP BY 1, 2),
         |dropped AS (SELECT b.doc_id FROM nb b JOIN firsts f
         |              ON b.band = f.band AND b.band_key = f.band_key
         |             AND b.doc_id > f.first_id
         |            UNION
         |            SELECT b.doc_id FROM nb b JOIN hist h
         |              ON b.band = h.band AND b.band_key = h.band_key)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id % 4 = 0
         |  AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)""".stripMargin,
    "q_pair_editdist" ->
      s"""WITH $duckLshPairCtes,
         |ed AS (SELECT p.doc_a, p.doc_b,
         |              cast(levenshtein(substring(a.text, 1, $EditPrefix),
         |                               substring(b.text, 1, $EditPrefix)) AS int) AS d
         |       FROM lsh_pairs p
         |       JOIN documents a ON a.doc_id = p.doc_a
         |       JOIN documents b ON b.doc_id = p.doc_b)
         |SELECT doc_a, doc_b,
         |       CASE WHEN d <= $EditMaxDist THEN d ELSE -1 END AS editdist
         |FROM ed""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $duckLshPairCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
         |          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
         |cc(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.node = e.src
         |)
         |SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node""".stripMargin,
    "q_split_leakage" ->
      s"""WITH RECURSIVE $duckLshPairCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
         |          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
         |cc(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.node = e.src
         |),
         |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |             FROM cc GROUP BY node),
         |sp AS (SELECT doc_id,
         |              CASE WHEN substring(md5(cast(doc_id AS varchar)), 1, 8)
         |                     < '${Sampling.thresholdHex(0.1)}'
         |                   THEN 'test' ELSE 'train' END AS split
         |       FROM documents)
         |SELECT cluster_id,
         |       cast(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS bigint)
         |         AS n_train,
         |       cast(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS bigint)
         |         AS n_test
         |FROM clusters JOIN sp USING (doc_id)
         |GROUP BY cluster_id
         |HAVING n_train > 0 AND n_test > 0""".stripMargin,
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $duckLshPairCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
         |          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
         |cc(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.node = e.src
         |),
         |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_sz FROM clusters
         |          GROUP BY cluster_id)
         |SELECT cluster_sz, count(*) AS n_clusters FROM sizes GROUP BY cluster_sz""".stripMargin,
    "q_dedup_keep" ->
      s"""WITH RECURSIVE $duckLshPairCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
         |          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
         |cc(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.node = e.src
         |),
         |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node)
         |SELECT d.doc_id,
         |       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |       (c.cluster_id IS NULL OR d.doc_id = c.cluster_id) AS keep
         |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin,
    "q_canonical_keep" ->
      s"""WITH RECURSIVE $duckLshPairCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
         |          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
         |cc(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.lbl FROM cc JOIN edges e ON cc.node = e.src
         |),
         |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node),
         |assigned AS (SELECT d.doc_id,
         |                    coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |                    d.n_chars
         |             FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
         |SELECT doc_id, cluster_id,
         |       (row_number() OVER (PARTITION BY cluster_id
         |                           ORDER BY n_chars DESC, doc_id) = 1) AS keep
         |FROM assigned""".stripMargin,
    "q_hash_sample" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE substring(md5(cast(doc_id AS varchar)), 1, 8) < '${Sampling.thresholdHex(0.25)}'""".stripMargin,
    "q_train_test_split" ->
      s"""SELECT doc_id, n_chars,
         |       CASE WHEN substring(md5(cast(doc_id AS varchar)), 1, 8) < '${Sampling.thresholdHex(0.1)}'
         |            THEN 'test' ELSE 'train' END AS split
         |FROM documents""".stripMargin,
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source, cast(n_chars AS bigint) AS n_tokens,
         |                  substring(md5(cast(doc_id AS varchar)), 1, 8) AS h
         |           FROM documents),
         |o AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |                  PARTITION BY source ORDER BY h, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                0) AS before
         |      FROM t)
         |SELECT doc_id, source, n_tokens FROM o
         |WHERE before < $TokenBudget""".stripMargin,
    "q_stratified_sample" -> {
      val cases = StratifiedRates.toSeq.sortBy(_._1).map { case (k, r) =>
        s"WHEN '$k' THEN '${Sampling.stratumThreshold(r)}'"
      }.mkString(" ")
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE substring(md5(cast(doc_id AS varchar)), 1, 8) <
         |      CASE source $cases ELSE '${Sampling.stratumThreshold(0.1)}' END""".stripMargin
    },
    "q_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT cast(sum(cnt) AS double) AS n_corpus FROM vc),
         |d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |             cast(sum(cnt) AS bigint) AS sum_cnt
         |      FROM tok JOIN vc USING (tok) GROUP BY doc_id),
         |m AS (SELECT doc_id, n_tokens, sum_cnt,
         |             cast(sum_cnt AS double) / cast(n_tokens AS double) / n_corpus
         |               AS mean_rel_freq
         |      FROM d CROSS JOIN tot)
         |SELECT doc_id, n_tokens, sum_cnt, mean_rel_freq,
         |       CASE WHEN mean_rel_freq < $LmRareMax THEN 'rare'
         |            WHEN mean_rel_freq < $LmMidMax THEN 'mid'
         |            ELSE 'common' END AS band
         |FROM m""".stripMargin,
    "q_novelty" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_shingles,
         |             cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS bigint) AS n_novel
         |      FROM sh JOIN dfq USING (shingle) GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_novel,
         |       CASE WHEN n_novel * 2 >= n_shingles THEN 'novel' ELSE 'stock' END
         |         AS novelty_band
         |FROM d""".stripMargin,
    "q_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |b AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens,
         |             CASE WHEN len(tk) >= $BoilerPrefixLen
         |                  THEN array_to_string(tk[1:$BoilerPrefixLen], ' ')
         |             END AS prefix
         |      FROM t),
         |h AS (SELECT prefix, count(*) AS n_docs FROM b
         |      WHERE prefix IS NOT NULL
         |      GROUP BY prefix HAVING count(*) >= $BoilerMinDocs)
         |SELECT doc_id, n_tokens, (n_docs IS NOT NULL) AS had_boilerplate,
         |       CASE WHEN n_docs IS NOT NULL
         |            THEN n_tokens - $BoilerPrefixLen
         |            ELSE n_tokens END AS clean_tokens
         |FROM b LEFT JOIN h USING (prefix)""".stripMargin,
    "q_postings" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($DuckToks) AS tk
         |           FROM documents),
         |p AS (SELECT doc_id, unnest(tk) AS token FROM t),
         |d AS (SELECT token, count(*) AS df FROM p GROUP BY token),
         |r AS (SELECT token, doc_id,
         |             row_number() OVER (PARTITION BY token
         |                                ORDER BY doc_id) AS rn
         |      FROM p),
         |s AS (SELECT token, string_agg(cast(doc_id AS varchar), ','
         |                               ORDER BY doc_id) AS postings
         |      FROM r WHERE rn <= $PostingsK GROUP BY token)
         |SELECT d.token, df, postings FROM d JOIN s USING (token)""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT cast(sum(cnt) AS bigint) AS total FROM vc),
         |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM vc),
         |ks AS (SELECT unnest([${CoverageKs.sorted.mkString(", ")}]) AS k)
         |SELECT k, cast(sum(cnt) AS bigint) AS covered, total
         |FROM ks JOIN rk ON rk.rk <= ks.k CROSS JOIN tot
         |GROUP BY k, total""".stripMargin,
    "q_skipgram" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |p AS (SELECT tk, i FROM t,
         |      unnest(generate_series(1, len(tk))) AS u(i)),
         |pr AS (SELECT tk[i] AS w1, tk[j] AS w2 FROM p,
         |       unnest(generate_series(i + 1, least(i + $SkipgramWindow,
         |                                           len(tk)))) AS v(j))
         |SELECT w1, w2, count(*) AS cnt FROM pr GROUP BY w1, w2""".stripMargin,
    "q_mixture_rates" -> s"""$MixtureOracleRates
         |SELECT stratum, cast(cnt AS bigint) AS cnt, cap * share / cnt AS rate
         |FROM f CROSS JOIN cap""".stripMargin,
    "q_mixture_sample" -> s"""$MixtureOracleRates,
         |r AS (SELECT stratum, cap * share / cnt AS rate FROM f CROSS JOIN cap),
         |thr AS (SELECT stratum,
         |               CASE WHEN rate >= 1.0 THEN 'g'
         |                    ELSE printf('%08x', cast(floor(rate * 4294967296.0) AS bigint))
         |               END AS thr
         |        FROM r)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN thr ON d.lang = thr.stratum
         |WHERE substring(md5(cast(d.doc_id AS varchar)), 1, 8) < thr.thr""".stripMargin,
    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |b AS (SELECT doc_id, unnest($DuckBigrams) AS bg FROM t),
         |c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
         |a AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_rep
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         |       cast(coalesce(n_bigrams, 0) AS bigint) AS n_bigrams,
         |       coalesce(max_rep, 0) AS max_rep,
         |       CASE WHEN coalesce(n_bigrams, 0) > 0
         |            THEN cast(max_rep AS double) / n_bigrams ELSE 0.0 END AS rep_ratio,
         |       (CASE WHEN coalesce(n_bigrams, 0) > 0
         |             THEN cast(max_rep AS double) / n_bigrams ELSE 0.0 END) < $RepThreshold AS keep
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,
    "q_truncate_tokens" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
         |SELECT doc_id, len(tk) AS n_tokens,
         |       least(len(tk), $TruncBudget) AS n_kept,
         |       array_to_string(tk[1:$TruncBudget], ' ') AS text_trunc
         |FROM t""".stripMargin,
    "q_vocab_encode" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos,
         |               unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok
         |       GROUP BY tok HAVING count(*) >= $VocabMinDf),
         |rk AS (SELECT tok, tok_id FROM (
         |         SELECT tok, cast(row_number() OVER (
         |                  ORDER BY cnt DESC, tok) AS int) AS tok_id FROM vc) x
         |       WHERE tok_id <= $VocabSize)
         |SELECT t2.doc_id, cast(count(*) AS bigint) AS n_tokens,
         |       array_to_string(list(coalesce(rk.tok_id, 0) ORDER BY t2.pos), ' ') AS ids
         |FROM tok t2 LEFT JOIN rk ON t2.tok = rk.tok
         |GROUP BY t2.doc_id""".stripMargin,
    // BPE: a sequential data-dependent argmax chain is not expressible as
    // a DuckDB query over the corpus — but the correctness gate runs at a
    // FIXED sf0.01 corpus, so the expected tables below were generated by
    // tools/gen_bpe_oracle.py, an INDEPENDENT naive BPE implementation
    // (no shared code with graft.text.Bpe; not derived from Spark output).
    // The merge oracle is the naive reference's ranked merge table; the
    // encode oracle re-derives per-doc unit counts by joining the naive
    // reference's per-distinct-word segmentation sizes onto the tokenized
    // corpus. Regenerate with:
    //   python3 tools/gen_bpe_oracle.py /root/testdata/sf0.01 12 2
    "q_bpe_merges" ->
      """SELECT cast("rank" AS int) AS "rank", "left", "right",
        |       cast(pair_freq AS bigint) AS pair_freq
        |FROM (VALUES
        |  (1, 'e', 'r', 4568), (2, 'e', '</w>', 4473), (3, 'n', '</w>', 2834),
        |  (4, 'er', '</w>', 2779), (5, 'o', 'w', 2747), (6, 'ow', '</w>', 2747),
        |  (7, 'o', 'r', 2696), (8, 's', 't', 2676), (9, 'h', '</w>', 1884),
        |  (10, 'a', 't', 1845), (11, 'l', 'u', 1831), (12, 'i', 'n', 1796)
        |) t("rank", "left", "right", pair_freq)""".stripMargin,
    "q_bpe_encode" ->
      """WITH wu(word, units) AS (VALUES
        |  ('a', 2), ('agg', 4), ('batch', 4), ('big', 4), ('column', 5),
        |  ('customer', 6), ('data', 4), ('dup', 4), ('fast', 4), ('filter', 5),
        |  ('group', 6), ('hash', 4), ('join', 4), ('key', 4), ('line', 3),
        |  ('merge', 4), ('order', 3), ('part', 5), ('query', 5), ('row', 2),
        |  ('scan', 4), ('slow', 3), ('small', 6), ('sort', 4), ('spark', 6),
        |  ('stream', 6), ('table', 5), ('the', 3), ('value', 4), ('vector', 6),
        |  ('window', 4)),
        |tok AS (SELECT doc_id,
        |               unnest(list_filter(string_split(text, ' '),
        |                                  x -> len(x) > 0)) AS word
        |        FROM documents),
        |enc AS (SELECT doc_id, count(*) AS nw, sum(units) AS nu
        |        FROM tok JOIN wu USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, cast(coalesce(e.nw, 0) AS bigint) AS n_words,
        |       cast(coalesce(e.nu, 0) AS bigint) AS n_bpe_units
        |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin,
    "q_pii_redact" -> {
      import graft.text.TextAnalysis.{EmailRe, PhoneRe, IpRe}
      s"""WITH p AS (SELECT doc_id,
         |             concat('user', doc_id, '@mail.example.com called +1-555-',
         |                    lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
         |                    ' from 10.', cast(doc_id % 200 AS varchar), '.0.1 re: ',
         |                    substring(text, 1, 64)) AS text
         |           FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |         '$EmailRe', '<EMAIL>', 'g'),
         |         '$PhoneRe', '<PHONE>', 'g'),
         |         '$IpRe', '<IP>', 'g') AS text_redacted,
         |       len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         |       len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
         |       len(regexp_extract_all(text, '$IpRe')) AS n_ips
         |FROM p""".stripMargin
    },
    "q_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |ci AS (SELECT doc_id, tk,
         |              unnest(generate_series(1, ((len(tk)-1)//$ChunkK)+1)) AS i
         |       FROM t),
         |ch AS (SELECT doc_id, i-1 AS idx,
         |              array_to_string(tk[(i-1)*$ChunkK+1 : i*$ChunkK], ' ') AS chunk
         |       FROM ci),
         |keep AS (SELECT doc_id, idx, chunk,
         |                row_number() OVER (PARTITION BY chunk
         |                                   ORDER BY doc_id, idx) AS rn
         |         FROM ch),
         |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1)
         |SELECT k.doc_id, t2.n_chunks, count(*) AS n_kept,
         |       string_agg(k.chunk, ' ' ORDER BY k.idx) AS text_dedup
         |FROM keep k JOIN tot t2 USING (doc_id)
         |WHERE rn = 1
         |GROUP BY 1, 2""".stripMargin,
    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $BenchSetSize),
         |hits AS (SELECT sh.doc_id, count(*) AS n_contaminated
         |         FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |       coalesce(n_contaminated, 0) AS n_contaminated,
         |       n_contaminated IS NULL AS keep
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin,
    "q_det_shuffle" ->
      s"""SELECT doc_id,
         |       cast(row_number() OVER (
         |         ORDER BY md5('$ShuffleSeed:' || cast(doc_id AS varchar)), doc_id) - 1
         |         AS bigint) AS pos
         |FROM documents""".stripMargin,
    "q_quality_band" ->
      s"""SELECT doc_id, source, n_chars, pr
         |FROM (SELECT doc_id, source, n_chars,
         |             percent_rank() OVER (
         |               PARTITION BY source ORDER BY n_chars, doc_id) AS pr
         |      FROM documents) t
         |WHERE pr >= $BandLo AND pr <= $BandHi""".stripMargin,
    "q_mix_epochs" -> {
      def baseOf(w: Double): Long = math.floor(w).toLong
      val sorted = MixWeights.toSeq.sortBy(_._1)
      val baseCase = sorted.map { case (k, w) => s"WHEN '$k' THEN ${baseOf(w)}" }
        .mkString(" ")
      val thrCase = sorted.map { case (k, w) =>
        s"WHEN '$k' THEN '${Sampling.stratumThreshold(w - baseOf(w))}'"
      }.mkString(" ")
      val dfltBase = baseOf(1.0)
      val dfltThr = Sampling.stratumThreshold(1.0 - baseOf(1.0))
      s"""WITH w AS (SELECT doc_id, source, n_chars,
         |             CASE source $baseCase ELSE $dfltBase END AS base,
         |             CASE source $thrCase ELSE '$dfltThr' END AS thr
         |           FROM documents),
         |e AS (SELECT doc_id, source, n_chars,
         |             cast(base + CASE WHEN substring(md5(cast(doc_id AS varchar)), 1, 8) < thr
         |                              THEN 1 ELSE 0 END AS bigint) AS n_epochs
         |      FROM w)
         |SELECT doc_id, source, n_chars, n_epochs,
         |       unnest(generate_series(1, n_epochs)) AS epoch
         |FROM e WHERE n_epochs > 0""".stripMargin
    },
    "q_pack_sequences" ->
      s"""WITH s AS (SELECT doc_id, n_chars, cast(doc_id % $PackShards AS int) AS shard
         |           FROM documents),
         |c AS (SELECT *, sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_size
         |      FROM s)
         |SELECT doc_id, shard, cast(cum_size AS bigint) AS cum_size,
         |       cast((cum_size - n_chars) // $PackBudget AS bigint) AS bin
         |FROM c""".stripMargin,
    "q_simhash" -> simhashOracle,
    "q_simhash_pairs" -> simhashPairsOracle(4, 3),
    "q_simhash_pairs8" -> simhashPairsOracle(8, 7),
    "q_dedup_agreement" -> {
      val dotIdx = "list_reduce(list_transform(generate_series(1, 64), " +
        "i -> a.v[i] * b.v[i]), (x, y) -> x + y)"
      s"""WITH $duckLshPairCtes,
         |$duckSimhashCtes,
         |${duckSimhashPairCtes(8, 7, "sp_")},
         |e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |      FROM embeddings),
         |wb AS (SELECT vec_id, v, cast(${duckLshBucket("v", 4)} AS bigint) AS bucket,
         |              sqrt(list_reduce(list_transform(v, x -> x*x), (x, y) -> x + y)) AS nrm
         |       FROM e),
         |eok AS (SELECT bucket FROM wb GROUP BY bucket HAVING count(*) <= $EmbedMaxBucket),
         |em_pairs AS (SELECT doc_a, doc_b
         |       FROM (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |                    $dotIdx / (a.nrm * b.nrm) AS cos_sim
         |             FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |             JOIN eok ON a.bucket = eok.bucket) p
         |       WHERE cos_sim >= 0.4),
         |j1 AS (SELECT doc_a, doc_b, in_mh, in_sh
         |       FROM (SELECT doc_a, doc_b, 1 AS in_mh FROM lsh_pairs) m
         |       FULL JOIN (SELECT doc_a, doc_b, 1 AS in_sh FROM sp_pairs) s2
         |         USING (doc_a, doc_b)),
         |j2 AS (SELECT doc_a, doc_b, in_mh, in_sh, in_em
         |       FROM j1 FULL JOIN (SELECT doc_a, doc_b, 1 AS in_em FROM em_pairs) e2
         |         USING (doc_a, doc_b))
         |SELECT count(in_mh) AS n_minhash, count(in_sh) AS n_simhash,
         |       count(in_em) AS n_embed,
         |       count(CASE WHEN in_mh = 1 AND in_sh = 1 THEN 1 END) AS n_mh_sh,
         |       count(CASE WHEN in_mh = 1 AND in_em = 1 THEN 1 END) AS n_mh_em,
         |       count(CASE WHEN in_sh = 1 AND in_em = 1 THEN 1 END) AS n_sh_em,
         |       count(CASE WHEN in_mh = 1 AND in_sh = 1 AND in_em = 1 THEN 1 END) AS n_all
         |FROM j2""".stripMargin
    },
    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle) f
         |         WHERE df <= 20),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, cast(i AS double) / (sa.sz + sb.sz - i) AS jaccard
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE cast(i AS double) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin,
    "q_ngram_containment" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle) f
         |         WHERE df <= 20),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |       cast(i AS double) / sa.sz AS cont_a_in_b,
         |       cast(i AS double) / sb.sz AS cont_b_in_a
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE greatest(cast(i AS double) / sa.sz, cast(i AS double) / sb.sz)
         |      >= $ContainThreshold""".stripMargin,
    "q_knn_graph" ->
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle) f
         |         WHERE df <= 20),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT doc_a, doc_b, cast(i AS double) / (sa.sz + sb.sz - i) AS jaccard
         |      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |                 JOIN sizes sb ON doc_b = sb.doc_id),
         |sym AS (SELECT doc_a AS doc_id, doc_b AS neighbor, jaccard FROM j
         |        UNION ALL
         |        SELECT doc_b, doc_a, jaccard FROM j),
         |ranked AS (SELECT doc_id, neighbor, jaccard,
         |                  cast(row_number() OVER (PARTITION BY doc_id
         |                    ORDER BY jaccard DESC, neighbor) AS int) AS rnk
         |           FROM sym)
         |SELECT doc_id, neighbor, jaccard, rnk FROM ranked WHERE rnk <= $KnnK""".stripMargin,
    "q_cosine_topk" -> duckBruteTopK,
    "q_filtered_topk" ->
      s"""WITH e AS (SELECT vec_id, label,
         |                  list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         |c AS (SELECT vec_id, label, v FROM e
         |      WHERE label IN (${FilteredLabels.mkString(", ")})),
         |s AS (SELECT query_id, c.vec_id AS neighbor_id, c.label,
         |             ${duckCos("qv", "c.v")} AS cos_sim
         |      FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, label, cos_sim, cast(rn AS int) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
         |      FROM s) t
         |WHERE rn <= 5""".stripMargin,
    "q_lsh_topk" -> duckLshTopK,
    "q_ann_recall" ->
      s"""WITH brute AS ($duckBruteTopK),
         |ap AS ($duckLshTopK)
         |SELECT b.query_id,
         |       cast(count(a.neighbor_id) AS double) / count(*) AS recall
         |FROM brute b LEFT JOIN ap a
         |  ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    "q_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS csim
         |       FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cid AS list
         |      FROM (SELECT *, row_number() OVER (
         |              PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM a0) t
         |      WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv, list FROM a WHERE vec_id < 10),
         |s AS (SELECT query_id, a.vec_id AS neighbor_id, ${duckCos("qv", "a.v")} AS cos_sim
         |      FROM a JOIN q USING (list) WHERE a.vec_id <> query_id)
         |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s) t
         |WHERE rn <= 5""".stripMargin,
    "q_ivf_incremental" -> ivfIncrementalSql(nlist = 16, chunks = 3),
    "q_ivf_decay" -> ivfIncrementalSql(nlist = 16, chunks = 3, decayed = true),
    "q_ivf_incremental_topk" ->
      ivfIncrementalTopKSql(nlist = 16, chunks = 3, nQueries = 10, k = 5),
    "q_ivf_probe2" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS csim
         |       FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, v, cid, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM a0),
         |corpus AS (SELECT vec_id, v, cid AS list FROM r WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv, cid AS list FROM r
         |      WHERE vec_id < 10 AND rn <= 2),
         |s AS (SELECT query_id, corpus.vec_id AS neighbor_id, ${duckCos("qv", "corpus.v")} AS cos_sim
         |      FROM corpus JOIN q USING (list) WHERE corpus.vec_id <> query_id)
         |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s) t
         |WHERE rn <= 5""".stripMargin,
    "q_filtered_ivf" ->
      s"""WITH e AS (SELECT vec_id, label,
         |                  list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, e.label, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS csim
         |       FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, label, v, cid, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM a0),
         |corpus AS (SELECT vec_id, v, cid AS list FROM r
         |           WHERE rn = 1 AND label IN (${FilteredLabels.mkString(", ")})),
         |q AS (SELECT vec_id AS query_id, v AS qv, cid AS list FROM r
         |      WHERE vec_id < 10 AND rn <= 2),
         |s AS (SELECT query_id, corpus.vec_id AS neighbor_id, ${duckCos("qv", "corpus.v")} AS cos_sim
         |      FROM corpus JOIN q USING (list) WHERE corpus.vec_id <> query_id)
         |SELECT query_id, neighbor_id, cos_sim, cast(rn AS int) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s) t
         |WHERE rn <= 5""".stripMargin,
    "q_recall_sweep" -> {
      val branches = SweepProbes.map { np =>
        s"""q$np AS (SELECT vec_id AS query_id, v AS qv, cid AS list FROM r
           |      WHERE vec_id < 10 AND rn <= $np),
           |s$np AS (SELECT query_id, corpus.vec_id AS neighbor_id,
           |              ${duckCos("qv", "corpus.v")} AS cos_sim
           |       FROM corpus JOIN q$np USING (list) WHERE corpus.vec_id <> query_id),
           |t$np AS (SELECT query_id, neighbor_id
           |       FROM (SELECT *, row_number() OVER (
           |               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn2
           |             FROM s$np) z WHERE rn2 <= 5),
           |rec$np AS (SELECT b.query_id, $np AS nprobe,
           |                cast(count(a.neighbor_id) AS double) / count(*) AS recall
           |         FROM brute b LEFT JOIN t$np a
           |           ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
           |         GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val union = SweepProbes.map(np => s"SELECT * FROM rec$np").mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS csim
         |       FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, v, cid, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM a0),
         |corpus AS (SELECT vec_id, v, cid AS list FROM r WHERE rn = 1),
         |brute AS ($duckBruteTopK),
         |$branches
         |$union""".stripMargin
    },
    "q_embed_neardup" -> {
      // dot as an index fold (same left-assoc bracketing as Spark's flat
      // 64-term tree); norms materialized once per vector, like the plan.
      val dotIdx = "list_reduce(list_transform(generate_series(1, 64), " +
        "i -> a.v[i] * b.v[i]), (x, y) -> x + y)"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |wb AS (SELECT vec_id, v, cast(${duckLshBucket("v", 4)} AS bigint) AS bucket,
         |              sqrt(list_reduce(list_transform(v, x -> x*x), (x, y) -> x + y)) AS nrm
         |       FROM e),
         |ok AS (SELECT bucket FROM wb GROUP BY bucket HAVING count(*) <= $EmbedMaxBucket)
         |SELECT vec_a, vec_b, cos_sim
         |FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |             $dotIdx / (a.nrm * b.nrm) AS cos_sim
         |      FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |      JOIN ok ON a.bucket = ok.bucket) p
         |WHERE cos_sim >= 0.4""".stripMargin
    },
    // SemDeDup: same rank-1 centroid assignment CTE as the IVF oracles;
    // the drop rule ("any earlier-id >= threshold cluster-mate") is a
    // within-cluster pair join distinct'd on the later id.
    "q_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $SemDedupNlist),
         |a0 AS (SELECT e.vec_id, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS csim
         |       FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cid AS list
         |      FROM (SELECT *, row_number() OVER (
         |              PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM a0) t
         |      WHERE rn = 1),
         |ok AS (SELECT list FROM a GROUP BY list HAVING count(*) <= $EmbedMaxBucket),
         |drops AS (SELECT DISTINCT y.vec_id AS b
         |          FROM a x JOIN a y ON x.list = y.list AND x.vec_id < y.vec_id
         |          JOIN ok ON x.list = ok.list
         |          WHERE ${duckCos("x.v", "y.v")} >= $SemDedupThreshold)
         |SELECT a.vec_id, a.list AS cid,
         |       CASE WHEN d.b IS NULL THEN 1 ELSE 0 END AS keep
         |FROM a LEFT JOIN drops d ON a.vec_id = d.b""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, cast(octet_length(encode(text)) AS bigint) AS n_bytes,
        |       source AS origin, lang AS lang_hint
        |FROM documents""".stripMargin,
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |       cast(octet_length(encode(text)) AS int) AS n_bytes,
        |       cast(coalesce(list_sum(list_transform(generate_series(1, length(text)), i -> ascii(substring(text, i, 1)))), 0) AS bigint) AS checksum,
        |       (CASE WHEN length(text) > 0 THEN cast(ascii(substring(text, 1, 1)) AS double)/255.0 ELSE 0.0 END) AS feat0,
        |       (CASE WHEN length(text) > 1 THEN cast(ascii(substring(text, 2, 1)) AS double)/255.0 ELSE 0.0 END) AS feat1
        |FROM documents""".stripMargin,
    // text is single-byte ascii, so character slicing == byte slicing
    "q_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, text, length(text) AS len,
        |                  unnest(generate_series(0, ${FrameCount - 1})) AS frame_id
        |           FROM documents),
        |s AS (SELECT doc_id, cast(frame_id AS int) AS frame_id,
        |             (frame_id * len) // $FrameCount AS st, ((frame_id + 1) * len) // $FrameCount AS en, text
        |      FROM f)
        |SELECT doc_id, frame_id, cast(en - st AS int) AS n_bytes,
        |       cast(coalesce(list_sum(list_transform(generate_series(st + 1, en),
        |              i -> ascii(substring(text, i, 1)))), 0) AS bigint) AS checksum
        |FROM s""".stripMargin,
    // independent dHash reimplementation from the PIXEL SPEC (not the
    // BMP bytes): pixel p of doc = 32 + delta + (ascii(text[p mod len])
    // mod 192) over a ${ImgW}x${ImgH} row-major grid; 9x8 box averages
    // (integer floor); gradient sign per adjacent cell pair; pair
    // hamming = differing signs. Banding is lossless for h <= maxHamming
    // (pigeonhole), and the maxBucket guard — part of the operator's
    // contract, same as q_audio_neardup — is modeled explicitly: hash
    // bit = gy*8+gx, so band b = rows {2b, 2b+1}. text is single-byte
    // ascii (same assumption as q_multimodal_decode), so character
    // indexing == byte indexing.
    "q_image_neardup" ->
      s"""WITH $imageSignsCtes,
         |ibands AS (SELECT doc_id, gy // 2 AS b,
         |                  sum(CASE WHEN sign
         |                           THEN 1::BIGINT << ((gy % 2) * 8 + gx)
         |                           ELSE 0 END) AS v
         |           FROM signs GROUP BY doc_id, gy // 2),
         |okb AS (SELECT b, v FROM ibands GROUP BY b, v
         |        HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ibands a JOIN ibands b ON a.b = b.b AND a.v = b.v
         |    AND a.doc_id < b.doc_id
         |  JOIN okb k ON k.b = a.b AND k.v = a.v),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         sum(CASE WHEN a.sign != b.sign THEN 1 ELSE 0 END) AS h
         |  FROM cand c
         |  JOIN signs a ON a.doc_id = c.doc_a
         |  JOIN signs b ON b.doc_id = c.doc_b
         |    AND b.gy = a.gy AND b.gx = a.gx
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(h AS int) AS hamming
         |FROM pairs WHERE h <= $ImgMaxHamming""".stripMargin,
    "q_image_dhash" ->
      s"""WITH $imageSignsCtes,
         |bits AS (SELECT doc_id, gy * 8 + gx AS bit, sign FROM signs)
         |SELECT doc_id,
         |       cast(coalesce(sum(CASE WHEN sign AND bit >= 32
         |                              THEN 1::BIGINT << (bit - 32)
         |                              ELSE 0 END), 0) AS bigint) AS hi,
         |       cast(coalesce(sum(CASE WHEN sign AND bit < 32
         |                              THEN 1::BIGINT << bit
         |                              ELSE 0 END), 0) AS bigint) AS lo
         |FROM bits GROUP BY doc_id""".stripMargin,
    // band values packed per 16-bit group; batch image kept iff no band
    // value appears in the store (doc_id % 4 <> 0 side) or under an
    // earlier batch id
    "q_image_incremental" ->
      s"""WITH $imageSignsCtes,
         |bits AS (SELECT doc_id, gy * 8 + gx AS bit, sign FROM signs),
         |bands AS (SELECT doc_id, bit // 16 AS b,
         |                 sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                          ELSE 0 END) AS v
         |          FROM bits GROUP BY doc_id, bit // 16),
         |st AS (SELECT DISTINCT b, v FROM bands WHERE doc_id % 4 <> 0),
         |bt AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
         |dropped AS (
         |  SELECT DISTINCT doc_id FROM bt x
         |  WHERE EXISTS (SELECT 1 FROM st s WHERE s.b = x.b AND s.v = x.v)
         |  UNION
         |  SELECT DISTINCT x.doc_id FROM bt x
         |  JOIN bt y ON x.b = y.b AND x.v = y.v AND y.doc_id < x.doc_id)
         |SELECT doc_id FROM (SELECT DISTINCT doc_id FROM bt) t
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    "q_audio_fingerprint" ->
      s"""WITH $audioSignsCtes
         |SELECT doc_id,
         |       cast(coalesce(sum(CASE WHEN sign AND bit >= 32
         |                              THEN 1::BIGINT << (bit - 32)
         |                              ELSE 0 END), 0) AS bigint) AS hi,
         |       cast(coalesce(sum(CASE WHEN sign AND bit < 32
         |                              THEN 1::BIGINT << bit
         |                              ELSE 0 END), 0) AS bigint) AS lo
         |FROM asigns GROUP BY doc_id""".stripMargin,
    // banded + capped, mirroring bandedHammingPairs EXACTLY: a pair
    // survives iff it shares >= 1 band (16 contiguous hash bits) whose
    // bucket holds <= maxBucket fingerprints. Pigeonhole keeps banding
    // lossless for h <= maxHamming, but the bucket cap is part of the
    // operator's contract and first bites at sf10 (one audio band
    // bucket crosses 1000 members there), so the oracle models it.
    "q_audio_neardup" ->
      s"""WITH $audioSignsCtes,
         |abands AS (SELECT doc_id, bit // 16 AS b,
         |                  sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                           ELSE 0 END) AS v
         |           FROM asigns GROUP BY doc_id, bit // 16),
         |okb AS (SELECT b, v FROM abands GROUP BY b, v
         |        HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM abands a JOIN abands b ON a.b = b.b AND a.v = b.v
         |    AND a.doc_id < b.doc_id
         |  JOIN okb k ON k.b = a.b AND k.v = a.v),
         |apairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         sum(CASE WHEN a.sign != b.sign THEN 1 ELSE 0 END) AS h
         |  FROM cand c
         |  JOIN asigns a ON a.doc_id = c.doc_a
         |  JOIN asigns b ON b.doc_id = c.doc_b AND b.bit = a.bit
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(h AS int) AS hamming
         |FROM apairs WHERE h <= $ImgMaxHamming""".stripMargin,
    "q_audio_incremental" ->
      s"""WITH $audioSignsCtes,
         |abands AS (SELECT doc_id, bit // 16 AS b,
         |                  sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                           ELSE 0 END) AS v
         |           FROM asigns GROUP BY doc_id, bit // 16),
         |ast AS (SELECT DISTINCT b, v FROM abands WHERE doc_id % 4 <> 0),
         |abt AS (SELECT * FROM abands WHERE doc_id % 4 = 0),
         |adropped AS (
         |  SELECT DISTINCT doc_id FROM abt x
         |  WHERE EXISTS (SELECT 1 FROM ast s WHERE s.b = x.b AND s.v = x.v)
         |  UNION
         |  SELECT DISTINCT x.doc_id FROM abt x
         |  JOIN abt y ON x.b = y.b AND x.v = y.v AND y.doc_id < x.doc_id)
         |SELECT doc_id FROM (SELECT DISTINCT doc_id FROM abt) t
         |WHERE doc_id NOT IN (SELECT doc_id FROM adropped)""".stripMargin,
    // per-frame dHash recomputed from the pixel spec (frame f shifts
    // the byte stream by f*997), frames bit-packed to (hi, lo), clip
    // pairs by exact shared-hash counts with the maxBucket guard
    "q_video_shared" ->
      s"""WITH $videoHashCtes,
         |sizes AS (SELECT doc_id, count(*) AS n FROM vhd GROUP BY doc_id),
         |okh AS (SELECT hi, lo FROM vhd GROUP BY hi, lo
         |        HAVING count(*) >= 2 AND count(*) <= $LshMaxBucket),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS shared
         |      FROM vhd a
         |      JOIN okh ON a.hi = okh.hi AND a.lo = okh.lo
         |      JOIN vhd b ON a.hi = b.hi AND a.lo = b.lo
         |                AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= $VideoMinShared)
         |SELECT doc_a, doc_b, cast(shared AS bigint) AS shared_frames,
         |       sa.n AS n_a, sb.n AS n_b
         |FROM p JOIN sizes sa ON p.doc_a = sa.doc_id
         |       JOIN sizes sb ON p.doc_b = sb.doc_id""".stripMargin,
    // a batch clip's frame is "seen" if the store (doc_id % 4 <> 0
    // side) holds it or an earlier-id batch clip does; kept iff
    // shared*den < num*n (integer containment threshold)
    "q_video_incremental" ->
      s"""WITH $videoHashCtes,
         |stv AS (SELECT DISTINCT hi, lo FROM vhd WHERE doc_id % 4 <> 0),
         |btv AS (SELECT * FROM vhd WHERE doc_id % 4 = 0),
         |mind AS (SELECT hi, lo, min(doc_id) AS first_doc
         |         FROM btv GROUP BY hi, lo),
         |marked AS (
         |  SELECT b.doc_id,
         |         CASE WHEN s.hi IS NOT NULL OR m.first_doc < b.doc_id
         |              THEN 1 ELSE 0 END AS hit
         |  FROM btv b
         |  LEFT JOIN stv s ON b.hi = s.hi AND b.lo = s.lo
         |  JOIN mind m ON b.hi = m.hi AND b.lo = m.lo),
         |sh AS (SELECT doc_id, sum(hit) AS shared, count(*) AS n
         |       FROM marked GROUP BY doc_id)
         |SELECT doc_id FROM sh
         |WHERE shared * $VideoGateDen < n * $VideoGateNum""".stripMargin,
  )
}
