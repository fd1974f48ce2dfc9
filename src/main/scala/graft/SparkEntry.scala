package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.gen.{BlockBootstrap, DecoderGenerator, Grasynda, MlpDecoder}
import graft.series.{SeriesOps, SeriesSpec}
import graft.sim.Similarity
import graft.stats.{Divergence, Histogram, Moments, SeriesStats}
import graft.text.{Dedup, TextOps}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operator set), each with a
  * DuckDB-equivalent `oracleSql` where SQL-expressible.
  *
  * Oracle-parity rules used throughout:
  *  - identical arithmetic formulas on both sides (no engine-specific
  *    built-ins with different definitions — e.g. skew/kurt are manual
  *    two-pass population moments because DuckDB's are sample-biased);
  *  - float outputs rounded (r2/r6/r8 by magnitude) to absorb
  *    last-ulp libm/summation-order differences;
  *  - every multi-row result deterministically ordered, every ranking
  *    tie-broken by a unique key;
  *  - timestamps never emitted raw (ns-vs-µs parquet mismatch) — only
  *    date strings or id columns.
  */
object SparkEntry {

  /** events-table series spec: one series per user, ordered by event
    * time with the unique event_id as tiebreaker. */
  private val perUser = SeriesSpec(Seq("user_id"), Seq("ts", "event_id"))
  /** whole-events-table global series (single ordered partition —
    * used only for reference-parity single-series statistics). */
  private val global = SeriesSpec(Nil, Seq("ts", "event_id"))

  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** The reserved special tokens the b03/b06/t09b vocabularies carry
    * at ids 0..3 (the tokenizer artifact contract). */
  private val reservedTokens = Seq("<pad>", "<bos>", "<eos>", "<unk>")

  /** The bNN oracles replay exactly `n` merge levels (m1..mn CTEs,
    * CROSS JOINed into the encode chain) — a trainer that exhausts the
    * corpus early would silently EMPTY the oracle result while the
    * Spark side still emits rows. Fail loudly instead. */
  private def bpeOracleGuard(merges: Seq[graft.text.Bpe.Merge],
                             n: Int): Unit =
    require(merges.size == n,
      s"BPE oracle contract needs exactly $n merges, trainer stopped at " +
        s"${merges.size} (corpus exhausted) — the SQL replay would " +
        "diverge silently; shrink nMerges or widen the fixture")
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** q05/q06/q10 shared: per-user log-returns (W1 + P4 clip). */
  private def logret(s: SparkSession, dir: String): DataFrame =
    SeriesOps.logReturns(ev(s, dir), perUser, "value", "ret")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── A1/A15: grouped aggregation (TPC-H Q1 shape) ──────────────────
    "q01_pricing_summary" -> ((s, dir) => {
      li(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ── joins (broadcast dims) + agg ──────────────────────────────────
    "q02_revenue_by_nation" -> ((s, dir) => {
      li(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ── q33: CUBE revenue — all four grouping sets of (nation, order
    //    year) in ONE pass (Catalyst Expand: each input row fans to its
    //    grouping sets before the single hash agg — one shuffle for the
    //    whole cube, map-side partials intact); grouping_id
    //    disambiguates subtotal NULLs, the engine-portable bit
    //    convention (nation = MSB) ─────────────────────────────────────
    "q33_revenue_cube" -> ((s, dir) => {
      li(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .cube(col("n_name"), col("o_year"))
        .agg(grouping_id().cast("int").as("gid"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("gid"), col("n_name"), col("o_year"))
    }),

    // ── O2/O3: ranking window + top-k per group ───────────────────────
    "q03_top_orders_per_priority" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // ── A1+A2: population moments incl. two-pass skew/kurt ────────────
    "q04_moments_by_segment" -> ((s, dir) => {
      Moments.describe(Tables.customer(s, dir), "c_acctbal", Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("std_pop"), 6).as("std_pop"),
          round(col("var_pop"), 2).as("var_pop"),
          round(col("min_v"), 2).as("min_v"),
          round(col("max_v"), 2).as("max_v"),
          round(col("skew"), 6).as("skew"),
          round(col("kurt_raw"), 6).as("kurt_raw"))
        .orderBy(col("c_mktsegment"))
    }),

    // ── W1+P4: log-returns per series ─────────────────────────────────
    "q05_log_returns" -> ((s, dir) => {
      logret(s, dir)
        .filter(col("ret").isNotNull)
        .select(col("user_id"), col("event_id"), round(col("ret"), 8).as("ret"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── W2: running-sum reconstruction ────────────────────────────────
    "q06_cum_log_return" -> ((s, dir) => {
      logret(s, dir)
        .withColumn("cum_ret",
          sum(coalesce(col("ret"), lit(0.0))).over(perUser.running))
        .select(col("user_id"), col("event_id"),
          round(col("cum_ret"), 6).as("cum_ret"),
          // exp() over the ROUNDED sum: both engines then exponentiate
          // bit-identical inputs (1-ulp libm differences can't flip the
          // outer rounding of a diverging unrounded sum)
          round(exp(round(col("cum_ret"), 6)), 4).as("price_rel"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── W5+W7: rolling sample-std vol with min_periods + vol ratio ────
    "q07_rolling_vol" -> ((s, dir) => {
      val a = SeriesOps.rollingStd(ev(s, dir), perUser, "value", 24, 12, "vol24")
      val b = SeriesOps.rollingStd(a, perUser, "value", 6, 3, "vol6")
      b.withColumn("vol_ratio", SeriesOps.volRatio(col("vol6"), col("vol24")))
        .select(col("user_id"), col("event_id"),
          round(col("vol24"), 6).as("vol24"),
          round(col("vol6"), 6).as("vol6"),
          round(col("vol_ratio"), 6).as("vol_ratio"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── W8: cyclical temporal features ────────────────────────────────
    "q08_temporal_features" -> ((s, dir) => {
      SeriesOps.temporalFeatures(ev(s, dir), "ts")
        .select(col("event_id"),
          round(col("hour_sin"), 8).as("hour_sin"),
          round(col("hour_cos"), 8).as("hour_cos"),
          round(col("dow_sin"), 8).as("dow_sin"),
          round(col("dow_cos"), 8).as("dow_cos"),
          round(col("month_sin"), 8).as("month_sin"),
          round(col("month_cos"), 8).as("month_cos"))
        .orderBy(col("event_id"))
    }),

    // ── J2+A7: adjacent-state transition matrix ───────────────────────
    "q09_event_transitions" -> ((s, dir) => {
      val wState = Window.partitionBy(col("state"))
      ev(s, dir)
        .withColumn("state", col("event_type"))
        .withColumn("next_state", lead(col("state"), 1).over(perUser.w))
        .filter(col("next_state").isNotNull)
        .groupBy(col("state"), col("next_state"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("prob", round(col("cnt") / sum(col("cnt")).over(wState), 6))
        .orderBy(col("state"), col("next_state"))
    }),

    // ── A10+A11+A12: autocorr / vol clustering / leverage ─────────────
    "q10_autocorr_per_user" -> ((s, dir) => {
      logret(s, dir)
        .withColumn("lag1", lag(col("ret"), 1).over(perUser.w))
        .withColumn("fwd_abs", abs(lead(col("ret"), 1).over(perUser.w)))
        .groupBy(col("user_id"))
        .agg(
          round(corr(col("ret"), col("lag1")), 6).as("acf1"),
          round(corr(abs(col("ret")), abs(col("lag1"))), 6).as("vol_ac"),
          round(corr(col("ret"), col("fwd_abs")), 6).as("leverage"))
        .orderBy(col("user_id"))
    }),

    // ── W10+A13: running peak + max drawdown ──────────────────────────
    "q11_max_drawdown" -> ((s, dir) => {
      SeriesStats.maxDrawdown(ev(s, dir), perUser, "value")
        .select(col("user_id"), round(col("max_drawdown"), 6).as("max_drawdown"))
        .orderBy(col("user_id"))
    }),

    // ── A3+A6: fixed-range 100-bin histogram (exact, unrounded) ───────
    "q12_histogram_price" -> ((s, dir) => {
      Histogram.fixedBins(li(s, dir), "l_extendedprice", 100)
        .select(col("bucket"), col("cnt"), col("density"))
        .orderBy(col("bucket"))
    }),

    // ── A4: exact quantile bin edges ──────────────────────────────────
    "q13_quantile_edges" -> ((s, dir) => {
      val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
      li(s, dir)
        .agg(expr(s"percentile(l_quantity, array(${probs.mkString("D,")}D))").as("qs"))
        .select(posexplode(col("qs")).as(Seq("i", "edge")))
        .select(element_at(array(probs.map(lit): _*), col("i") + 1).as("p"),
          round(col("edge"), 6).as("edge"))
        .orderBy(col("p"))
    }),

    // ── C3+C4: Wasserstein-1 + KS via shared ECDF pipeline ────────────
    "q14_ecdf_distance" -> ((s, dir) => {
      Divergence.ecdfStats(ev(s, dir), "value", col("event_type"), "click", "view")
        .select(round(col("wasserstein"), 6).as("wasserstein"),
          round(col("ks_stat"), 8).as("ks_stat"))
    }),

    // ── C1+C2: histogram Jensen–Shannon divergence ────────────────────
    "q15_js_divergence" -> ((s, dir) => {
      Divergence.histJsd(ev(s, dir), "value", col("event_type"), "click", "view", 100)
        .select(round(col("kl_divergence"), 8).as("kl_divergence"),
          round(col("js_divergence"), 8).as("js_divergence"))
    }),

    // ── C6: Hurst exponent (R/S), all-Spark ───────────────────────────
    "q16_hurst" -> ((s, dir) => {
      SeriesStats.hurst(ev(s, dir), global, "value")
        .select(round(col("hurst"), 4).as("hurst"), col("n_lags"))
    }),

    // ── exact dedup groups (hash-groupBy) ─────────────────────────────
    "q17_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .orderBy(col("text_md5"))
    }),

    // ── S2/P7: keep-first dedup on a key (row_number) ─────────────────
    "q18_dedup_by_time" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id"))
      ev(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── text quality scoring ──────────────────────────────────────────
    "q19_token_stats" -> ((s, dir) => {
      TextOps.tokenStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("ttr"), 6).as("ttr"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ── language ID (marker-word scoring) ─────────────────────────────
    "q20_lang_id" -> ((s, dir) => {
      TextOps.langId(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("lang_guess"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // ── n-gram Jaccard near-dup pairs ─────────────────────────────────
    "q21_jaccard_neardup" -> ((s, dir) => {
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", k = 5,
          threshold = 0.5, maxDf = 1000)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── d10: EXACT Jaccard threshold join via AllPairs/PPJoin prefix
    //    filtering — the lossless scale path (no df cap, no banding):
    //    rarity-ordered prefixes prune candidates, exact verify after;
    //    must emit exactly the brute-force pair set ──────────────────
    "d10_prefix_join" -> ((s, dir) => {
      Dedup.prefixJaccardJoin(docs(s, dir), "doc_id", "text", k = 5,
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── document fingerprint (char-8-gram min-hash digest) ────────────
    "q22_doc_fingerprint" -> ((s, dir) => {
      TextOps.charGramFingerprint(docs(s, dir), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ── similarity search: exact cosine top-k ─────────────────────────
    "q23_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", k = 10, roundTo = 5)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── embedding near-dup pairs (label-blocked + sign-LSH banded at
    //    the LADDER-selected operating point: observed bucket occupancy
    //    picks the plane depth from a fixed quantized ladder, so the
    //    candidate join stays occupancy-bounded as the corpus grows —
    //    the r16 30× run measured the old fixed bandPlanes(64, 3, 4)
    //    config going ~O(n²) (ratio 150); the ladder derivation is
    //    replayed by the DuckDB oracle from the same integer counts.
    //    blockedNearDupPairs remains the exact small-scale witness ─────
    "q24_embed_neardup_blocked" -> ((s, dir) => {
      Similarity.bandedNearDupPairsLadder(emb(s, dir), "vec_id",
          "embedding", "label", threshold = 0.3, seed = 7L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── Semantic dedup clusters: the q24 embedding near-dup pairs
    //    closed into connected components (same distributed min-label
    //    propagation as d03 — embedding-modality dedup clustering);
    //    rides the same ladder-derived operating point as q24 ──────────
    "d04_embed_dedup_clusters" -> ((s, dir) => {
      val pairs = Similarity.bandedNearDupPairsLadder(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.3, seed = 7L)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("vec_id"), col("cluster").as("cluster_id"),
          (col("id") === col("cluster")).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // ── event-time daily rollup (batch shape of the streaming agg) ────
    "q25_daily_rollup" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(avg(col("value")), 6).as("avg_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ── q34: ordered conversion funnel view → click → purchase —
    //    stage i counts users whose first stage-i event strictly
    //    follows their stage-(i−1) entry; per-stage keyed min-aggs,
    //    no global window ─────────────────────────────────────────────
    "q34_funnel" -> ((s, dir) => {
      graft.series.EventAnalytics.funnel(ev(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))
    }),

    // ── q35: cohort retention matrix — first-seen-day cohorts ×
    //    day offsets, distinct active users and cohort share ──────────
    "q35_retention" -> ((s, dir) => {
      graft.series.EventAnalytics.retention(ev(s, dir), "user_id", "ts")
        .orderBy(col("cohort"), col("offset_days"))
    }),

    // ── q37: first-order event-transition matrix — Markov next-event
    //    counts + row-normalized probabilities per prev_event ─────────
    "q37_event_transitions" -> ((s, dir) => {
      graft.series.EventAnalytics.transitions(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "event_type")
        .orderBy(col("prev_event"), col("event"))
    }),

    // ── q39: activity cadence — per-user inter-event-gap median /
    //    type-1 p90 / max in exact integer microseconds ────────────────
    "q39_activity_cadence" -> ((s, dir) => {
      graft.series.EventAnalytics.cadence(ev(s, dir), "user_id",
          Seq("ts", "event_id"))
        .orderBy(col("user_id"))
    }),

    // ── q38: top session paths — 30-min gap sessions rendered as
    //    '>'-joined journeys, top-20 by session count ──────────────────
    "q38_session_paths" -> ((s, dir) => {
      graft.series.EventAnalytics.sessionPaths(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "event_type", gapSeconds = 1800,
          maxEvents = 8, topK = 20)
        .orderBy(col("rk"))
    }),

    // ── p03: bipartite HITS over user→event_type — hubs (users
    //    touching strong authorities) and authorities (types endorsed
    //    by strong hubs), sum-normalized + r6 per half-step ────────────
    "p03_hits" -> ((s, dir) => {
      Dedup.hits(ev(s, dir).select(col("user_id"), col("event_type")),
          "user_id", "event_type", iters = 2)
        .orderBy(col("kind"), col("node"))
    }),

    // ── q43: per-day session stats — session count, bounce rate and
    //    the duration median / type-1 p90 / max in exact integer µs
    //    per session-start day ───────────────────────────────────────
    "q43_session_stats" -> ((s, dir) => {
      graft.series.EventAnalytics.sessionStatsDaily(ev(s, dir),
          "user_id", Seq("ts", "event_id"), gapSeconds = 1800)
        .orderBy(col("day"))
    }),

    // ── q42: funnel time-to-convert — per stage transition, the
    //    median / type-1 p90 / max entry-time gap in exact integer
    //    microseconds over users who entered both stages ─────────────
    "q42_funnel_timing" -> ((s, dir) => {
      graft.series.EventAnalytics.funnelTiming(ev(s, dir), "user_id",
          "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))
    }),

    // ── q40: rolling-active stickiness — per-day DAU/WAU/MAU distinct
    //    counts + the DAU/MAU ratio; exact integers, one r6 division ──
    "q40_active_ratios" -> ((s, dir) => {
      graft.series.EventAnalytics.activeRatios(ev(s, dir), "user_id", "ts")
        .orderBy(col("day"))
    }),

    // ── q41: per-user return-time / churn panel — session count,
    //    inter-session return-gap median / type-1 p90 / max in exact
    //    integer µs, and trailing quiet time vs the corpus max ts ─────
    "q41_return_time" -> ((s, dir) => {
      graft.series.EventAnalytics.returnTimes(ev(s, dir), "user_id",
          Seq("ts", "event_id"), gapSeconds = 1800)
        .orderBy(col("user_id"))
    }),

    // ── q36: activity concentration per event_type — discrete Gini
    //    over per-user event counts + top-decile share; every sum is
    //    an exact integer, so both engines round identically ──────────
    "q36_concentration" -> ((s, dir) => {
      graft.series.EventAnalytics.concentration(
          ev(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))
    }),

    // ── W3+W4: sliding windows + supervised X/y ───────────────────────
    "q26_sliding_window_sum" -> ((s, dir) => {
      SeriesOps.supervisedWindows(ev(s, dir), perUser, "value", 5, 3, "x", "y")
        .withColumn("x_sum", aggregate(col("x"), lit(0.0), (a, v) => a + v))
        .select(col("user_id"), col("event_id"),
          round(col("x_sum"), 6).as("x_sum"), col("y"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── W6: backfill of leading nulls ─────────────────────────────────
    "q27_backfill" -> ((s, dir) => {
      val a = SeriesOps.rollingStd(ev(s, dir), perUser, "value", 24, 12, "vol24")
      SeriesOps.backfill(a, perUser, "vol24", "vol_filled")
        .select(col("user_id"), col("event_id"),
          round(col("vol_filled"), 6).as("vol_filled"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── G2: block-bootstrap generator — the SEEDED walk itself is
    //    oracle-checked: the DuckDB oracle replays java.util.Random's
    //    48-bit LCG (including nextInt's rejection rule) to reproduce
    //    the block starts, then the same telescoped rescale chain as
    //    g01f. Compared in the log domain like g01f ──────────────────
    "g01_block_bootstrap" -> ((s, dir) => {
      BlockBootstrap.generate(ev(s, dir), Seq("ts", "event_id"), "value",
          blockSize = 30, n = 2000, seed = 42L)
        .select(col("rn"), round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G3: Grasynda Markov generator — the SEEDED walk oracle-checked
    //    like g01: the oracle replays the LCG (nextDouble = two exact
    //    dyadic draws, nextInt with the rejection rule), the sequential
    //    cumulative-probability category sampling, and the per-bin pool
    //    indexing, all recomputed from its own fit ──────────────────────
    "g02_grasynda" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      val model = Grasynda.fit(rets, Seq("ts", "event_id"), "ret", nBins = 10)
      Grasynda.generate(s, model, seed = 42L, n = 2000, initialPrice = 100.0)
        .select(col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G6: regime block-bootstrap hybrid — seeded walk oracle-checked
    //    like g01/g02 (LCG replay drives the regime chain + block picks;
    //    the oracle re-derives the block pools from its own fit) ──────
    "g03_regime_bootstrap" -> ((s, dir) => {
      val model = graft.gen.RegimeBootstrap.fit(
        ev(s, dir), Seq("ts", "event_id"), "value", nRegimes = 3)
      graft.gen.RegimeBootstrap.generate(s, model, seed = 42L, n = 2000,
          initialPrice = 100.0)
        .select(col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G4: HMM regime-conditional AR(1) generator (rows-only) ────────
    "g04_regime_conditional" -> ((s, dir) => {
      val model = graft.gen.RegimeConditional.fit(
        ev(s, dir), Seq("ts", "event_id"), "value", nRegimes = 4)
      graft.gen.RegimeConditional.generate(s, model, seed = 42L, n = 2000,
          initialPrice = 100.0)
        .orderBy(col("rn"))
    }),

    // ── G5: HMM + per-regime GARCH(1,1) generator (rows-only) ─────────
    "g05_regime_hmm_garch" -> ((s, dir) => {
      val model = graft.gen.RegimeConditional.fit(
        ev(s, dir), Seq("ts", "event_id"), "value", nRegimes = 4,
        withGarch = true)
      graft.gen.RegimeConditional.generate(s, model, seed = 42L, n = 2000,
          initialPrice = 100.0)
        .orderBy(col("rn"))
    }),

    // ── predictive/augmentation evaluation (MLlib GBT; rows-only) ─────
    "q32_predictive_eval" -> ((s, dir) => {
      // bounded legs: the predictor cost is O(trees · rows · features);
      // the evaluation CONTRACT (deltas/verdict) is what's under test,
      // so bench uses a capped training prefix + fewer trees
      val e = ev(s, dir)
      // modulo split (30%/10%/10%) is non-empty at every SF
      val train = e.filter(col("user_id") % 10 < 3)
      val valid = e.filter(col("user_id") % 10 === 5)
      val test = e.filter(col("user_id") % 10 === 7)
      val synth = BlockBootstrap.generate(train, Seq("ts", "event_id"),
        "value", blockSize = 30, n = 1000, seed = 7L)
        .withColumnRenamed("typical_price", "value")
        .withColumn("ts", col("rn")).withColumn("event_id", col("rn"))
      graft.eval.PredictiveEvaluator.evaluate(synth, train, valid, test,
        Seq("ts", "event_id"), "value", windowSize = 12, horizon = 1,
        maxIter = 8)
    }),

    // ── MinHash+LSH near-dup (portable md5-derived hashes ⇒ oracled) ──
    "d01_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", k = 5,
          numPerm = 64, bands = 16, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── p01: PageRank over the d01 near-dup similarity graph — graph
    //    centrality for canonical-copy election / boilerplate-hub
    //    detection; 2 power iterations, rank r6-rounded per update ──────
    "p01_pagerank" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        k = 5, numPerm = 64, bands = 16, threshold = 0.5)
      Dedup.pageRank(pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ── Decontamination: 8-gram overlap between the even-doc "train"
    //    corpus and the odd-doc "benchmark" set — inverted-index join
    //    keyed on the gram (the q21 shape), thresholded ─────────────────
    "t01_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.contamination(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, minShared = 5)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ── Hashing-trick doc embeddings: model-free signed feature
    //    hashing (h64 buckets + independent sign bit, L2-normalized) —
    //    the text→vector bridge into the ANN/embedding-dedup stack;
    //    exploded (id, j, v) for the scalar hash-compare ───────────────
    "t16_hash_embed" -> ((s, dir) => {
      graft.text.TextOps.hashEmbed(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("j"))
    }),

    // ── Corpus report: the "data card" rollup — per-language doc/token
    //    counts and mean quality over the q19 stats × q20 language ID;
    //    two doc-keyed map-side-combinable aggs + one tiny grouped agg ──
    "t18_corpus_report" -> ((s, dir) => {
      val d = docs(s, dir)
      val lang = graft.text.TextOps.langId(d, "doc_id", "text")
        .select(col("doc_id"), col("lang_guess"))
      graft.text.TextOps.tokenStats(d, "doc_id", "text")
        .join(lang, "doc_id")
        .groupBy(col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 6).as("avg_tokens"),
          round(avg(col("quality_score")), 6).as("avg_quality"),
          round(avg(col("ttr")), 6).as("avg_ttr"))
        .orderBy(col("lang_guess"))
    }),

    // ── BM25 top-k retrieval: a literal query set scored against the
    //    corpus (Lucene-convention Okapi BM25) — targeted data
    //    selection; postings semi-restricted to the broadcast query
    //    vocabulary before any df work, salted two-phase top-k ─────────
    "t19_bm25_topk" -> ((s, dir) => {
      graft.text.TextOps.bm25TopK(docs(s, dir), "doc_id", "text")
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── Cross-doc duplication ratio: per doc, the fraction of its
    //    distinct 8-gram shingles shared with ≥1 other doc — corpus-
    //    level memorization-risk metric; gram-keyed df agg + one
    //    inverted-index join back (the t01 shape) ──────────────────────
    "t21_dup_ratio" -> ((s, dir) => {
      graft.text.TextOps.crossDupRatio(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── t19b: per-COLLECTION BM25 — every stat (df, n_docs, avgdl)
    //    within the source group, top-5 per (source, query) ─────────────
    "t19b_bm25_topk_by" -> ((s, dir) => {
      graft.text.TextOps.bm25TopKBy(docs(s, dir), "doc_id", "source",
          "text")
        .orderBy(col("source"), col("query_id"), col("rk"))
    }),

    // ── t21b: per-COLLECTION duplication ratio — shingle df within the
    //    source group, the multi-tenant memorization card ───────────────
    "t21b_dup_ratio_by" -> ((s, dir) => {
      graft.text.TextOps.crossDupRatioBy(docs(s, dir), "doc_id",
          "source", "text")
        .orderBy(col("doc_id"))
    }),

    // ── Persisted BM25 index — postings partitioned by token hash
    //    bucket, query vocabulary pushed as a literal partition filter;
    //    bit-identical to t19 (shared oracle, the s05 precedent) ────────
    "t20_bm25_indexed" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graftbm25idx").toString
      graft.text.TextOps.writeBm25Index(docs(s, dir), "doc_id", "text",
        s"$tmp/idx")
      graft.text.TextOps.bm25TopKIndexed(s, s"$tmp/idx")
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── In-engine k-means fit (Lloyd's, 2 iterations, init = the 8
    //    smallest doc ids' t16 vectors): each iteration is one map-side
    //    argmin + one (cluster, dim)-keyed mean, centroids rounded to
    //    r6 per update so the replay is engine-independent ─────────────
    "k01_kmeans_fit" -> ((s, dir) => {
      val vecs = graft.text.TextOps
        .hashEmbedVectors(docs(s, dir), "doc_id", "text")
      val (_, asg) = graft.sim.KMeans.fit(vecs, "doc_id", "embedding",
        k = 8, iters = 2)
      asg
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("doc_id"))
    }),

    // ── k01 with FARTHEST-POINT init (deterministic k-means++ family):
    //    c0 = smallest id's vector, then k−1 exact-double argmax rounds
    //    (max of min distance key, ties → smallest id) before the same
    //    2 Lloyd cycles — the init that survives a near-duplicate
    //    prefix of doc ids ─────────────────────────────────────────────
    "k01d_kmeans_farthest" -> ((s, dir) => {
      val vecs = graft.text.TextOps
        .hashEmbedVectors(docs(s, dir), "doc_id", "text")
      val (_, asg) = graft.sim.KMeans.fit(vecs, "doc_id", "embedding",
        k = 8, iters = 2, initMode = "farthest_point")
      asg
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("doc_id"))
    }),

    // ── Cluster-quality report over the SAME k01 fit: member count,
    //    mean squared distance to own centroid (the argmin key reused
    //    as the value), squared margin to the nearest other centroid ───
    // ── k03: simplified silhouette per cluster of the k01 fit — the
    //    O(n·k) centroid-approximated silhouette (exact pairwise is
    //    not a 100 TB shape); map-side argmin keys, one keyed agg ─────
    "k03_silhouette" -> ((s, dir) => {
      val vecs = graft.text.TextOps
        .hashEmbedVectors(docs(s, dir), "doc_id", "text")
        .localCheckpoint()
      val (cents, _) = graft.sim.KMeans.fit(vecs, "doc_id", "embedding",
        k = 8, iters = 2)
      graft.sim.KMeans.silhouetteReport(vecs, "doc_id", "embedding", cents)
        .orderBy(col("cluster"))
    }),

    "k02_cluster_quality" -> ((s, dir) => {
      // materialize the embedding lineage ONCE: fit checkpoints its own
      // copy internally, but the report's assign+distance pass would
      // otherwise rebuild the doc-keyed embedding shuffle (3.3 -> ~1.3 s)
      val vecs = graft.text.TextOps
        .hashEmbedVectors(docs(s, dir), "doc_id", "text")
        .localCheckpoint()
      val (cents, _) = graft.sim.KMeans.fit(vecs, "doc_id", "embedding",
        k = 8, iters = 2)
      graft.sim.KMeans.qualityReport(vecs, "doc_id", "embedding", cents)
        .orderBy(col("cluster"))
    }),

    // ── Doc-topic assignment: nearest frozen KMeans centroid over the
    //    t16 hashed embedding — model-free domain discovery for
    //    mixture design; one doc-keyed shuffle, centroids literal ──────
    "t17_topic_assign" -> ((s, dir) => {
      graft.text.TextOps.topicAssign(docs(s, dir), "doc_id", "text")
        .withColumn("topic_size",
          count(lit(1)).over(Window.partitionBy(col("topic"))))
        .orderBy(col("doc_id"))
    }),

    // ── Eval-contamination report: per-benchmark-doc fraction of its
    //    8-grams present anywhere in the train corpus — train side
    //    collapses to distinct grams, one gram-keyed left join ──────────
    "t15_contamination_report" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.contaminationReport(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, minRatio = 0.2)
        .orderBy(col("bench_id"))
    }),

    // ── Bloom-filter decontamination: same output as t01, at-scale
    //    shape — benchmark grams → broadcast Bloom filter, map-side
    //    probe over the train corpus (no false negatives), exact gram
    //    join only on the flagged sliver ────────────────────────────────
    "t06_bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.bloomContamination(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, minShared = 5)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ── Repetition score: duplicated-3-gram fraction per document (the
    //    Gopher-style intra-doc repetition quality filter) ──────────────
    "t02_repetition" -> ((s, dir) => {
      graft.text.TextOps.repetitionScore(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"))
    }),

    // ── PII redaction: email/phone scrub with typed placeholders —
    //    pure map-side regexp, zero shuffles. The corpus is synthetic
    //    (no natural PII), so each doc is first salted with a
    //    deterministic doc_id-derived email + phone; the redactor then
    //    has to find and replace them inside real prose ────────────────
    "t03_pii_redact" -> ((s, dir) => {
      val dirty = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com or 415-555-"),
          lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0")).as("body"))
      graft.text.TextOps.redactPii(dirty, "body")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ── Document chunking: fixed 120-char windows, stride 80 (40-char
    //    overlap) — the training-context shaping step; map-side
    //    explode, no shuffle ───────────────────────────────────────────
    "t04_chunk" -> ((s, dir) => {
      graft.text.TextOps.chunk(docs(s, dir), "doc_id", "text",
          window = 120, stride = 80)
        .select(col("doc_id"), col("chunk_id"), col("chunk"), col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ── BPE-ish token counting: whitespace vs GPT-2-style regex
    //    pre-tokens, over the t03 salted body (its digits/@/.-/
    //    punctuation exercise every alternation branch); map-only ─────
    "t07_bpe_tokens" -> ((s, dir) => {
      val body = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com or 415-555-"),
          lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0")).as("body"))
      graft.text.TextOps.tokenCounts(body, "body")
        .select(col("doc_id"), col("n_ws"), col("n_bpe"), col("bpe_ws_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ── Bigram LM scoring: add-k LM trained on even docs, odd docs
    //    scored by mean token log-likelihood + perplexity — the
    //    perplexity-style quality filter of LLM pipelines ───────────────
    "t08_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.lmScore(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", addK = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logprob"), 6).as("avg_logprob"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy(col("doc_id"))
    }),

    // ── Sequence packing: greedy 128-token-budget packing per source
    //    shard in doc_id order — the fill-the-context-window step ───────
    "t09_pack_sequences" -> ((s, dir) => {
      graft.text.TextOps.packSequences(docs(s, dir), "doc_id", "source",
          "text", budget = 128L)
        .orderBy(col("source"), col("doc_id"))
    }),

    // ── DSIR-style importance weights: hashed-bigram log-ratio score of
    //    even (source) docs toward the odd (target) distribution ────────
    "t10_importance_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.importanceWeights(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .select(col("doc_id"), col("n_grams"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy(col("doc_id"))
    }),

    // ── CCNet-style perplexity-bucket sampling: LM-score the odd docs
    //    against the even-doc LM, cut the r6 score distribution into
    //    head/middle/tail by exact percentile edges (map-side assign, no
    //    global sort), keep 100%/50%/10% via salt-29 hash buckets ───────
    "t12_perplexity_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.perplexityBucketSample(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── Token-budget mixture: resample sources to target TOKEN shares
    //    against a fixed budget, with epoch upsampling — 3:1:1 weights,
    //    6000-token budget → src0 runs ~2.5 epochs (2 full + a salt-31
    //    hash-sampled fractional copy), src1/src2 downsample ───────────
    "t13_token_budget_mixture" -> ((s, dir) => {
      graft.core.ScaleOps.tokenBudgetMixture(docs(s, dir), "doc_id",
          "source", "text", salt = 31,
          target = Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0),
          budgetTokens = 6000L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ── Gopher-style rule gate: word-count / word-length / alpha /
    //    symbol / stopword-presence rules in one map-side-combinable
    //    keyed agg; minStopwords=1 fits the fixture's synthetic
    //    vocabulary (only "the" of the Gopher list occurs) ─────────────
    "t14_gopher_rules" -> ((s, dir) => {
      graft.text.TextOps.gopherRules(docs(s, dir), "doc_id", "text",
          minStopwords = 1)
        .orderBy(col("doc_id"))
    }),

    // ── Quality-filter classifier: frozen hashed-bigram logistic model
    //    (TrainQualityFilter distilling the t19 heuristic), broadcast
    //    weight table, σ(w₀ + w·x) per doc — the discriminative quality
    //    gate between t08 (LM score) and t10 (importance weights) ──────
    "t11_quality_classifier" -> ((s, dir) => {
      graft.text.TextOps.qualityClassifierScore(docs(s, dir), "doc_id", "text")
        .withColumn("keep", col("keep").cast("int"))
        .orderBy(col("doc_id"))
    }),

    // ── TF-IDF top-3 terms per document (smooth idf, sklearn
    //    convention) — two map-side-combinable aggs + broadcast N,
    //    per-doc window rank tie-broken by token ───────────────────────
    "t05_tfidf_topk" -> ((s, dir) => {
      graft.text.TextOps.tfIdfTopK(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ── Heavy hitters via Count-Min sketch: exact bigram counts ≥ 40
    //    WITHOUT shuffling the distinct-bigram universe — shuffle-free
    //    sketch pass, broadcast-probe prune, exact agg on survivors
    //    (CMS never undercounts → no false negatives → hash-exact) ─────
    "a06_heavy_hitters" -> ((s, dir) => {
      // bigrams via slice+arrays_zip, NOT transform(sequence(...)):
      // higher-order lambdas are interpreted and re-evaluate the inner
      // split() per ELEMENT (O(tokens²)/doc — measured 7.5 s at sf0.1
      // vs 0.9 s for this per-ROW shape)
      val toks = split(col("text"), " ")
      val bigrams = docs(s, dir)
        .select(explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1))).as("pr"))
        .select(concat(col("pr.0"), lit(" "), col("pr.1")).as("bigram"))
      graft.stats.HeavyHitters.heavyHitters(bigrams, "bigram",
          threshold = 40, eps = 1e-4)
        .orderBy(col("cnt").desc, col("bigram"))
    }),

    // ── HyperLogLog approx-distinct per key: portable-h64 registers,
    //    exact-decimal harmonic sum (no float-order dependence), raw
    //    estimator at p=4 (~100 ≫ 2.5·16) AND linear-counting at p=8
    //    (~100 ≪ 2.5·256) so both correction branches are gated; exact
    //    distinct joined alongside as the accuracy witness ─────────────
    "a18_hll_distinct" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        col("user_id").cast("string").as("uid"))
      val h4 = graft.stats.Hll.approxDistinct(e, Seq("event_type"),
          col("uid"), p = 4, seed = 41)
        .select(col("event_type"), col("n_est").as("est_p4"),
          col("n_zeros").as("zeros_p4"))
      val h8 = graft.stats.Hll.approxDistinct(e, Seq("event_type"),
          col("uid"), p = 8, seed = 41)
        .select(col("event_type"), col("n_est").as("est_p8"),
          col("n_zeros").as("zeros_p8"))
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("uid")).as("n_exact"))
      h4.join(h8, Seq("event_type")).join(exact, Seq("event_type"))
        .select(col("event_type"), col("est_p4"), col("zeros_p4"),
          col("est_p8"), col("zeros_p8"), col("n_exact"))
        .orderBy(col("event_type"))
    }),

    // ── a20: hash-sampled quantiles — deterministic h64 sampling at
    //    p = 1/8 + explicit two-rank type-7 interpolation; the exact
    //    full-data side rides along as the accuracy witness (the a18
    //    n_exact pattern) ────────────────────────────────────────────────
    "a20_hash_quantiles" -> ((s, dir) => {
      import s.implicits._
      val (rs, rf) = Histogram.hashSampleQuantiles(
        ev(s, dir), "value", "event_id",
        qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99), pShift = 3, seed = 20)
      val qdf = Seq(0.25, 0.5, 0.75, 0.9, 0.99).toDF("q")
      val a = Histogram.quantileFrame(rs, qdf, "est_sample")
        .withColumnRenamed("m", "n_sample")
      val b = Histogram.quantileFrame(rf, qdf, "exact_full")
        .withColumnRenamed("m", "n_full")
      a.join(b, "q")
        .select(col("q"), col("n_sample"), col("n_full"),
          round(col("est_sample"), 6).as("est_sample"),
          round(col("exact_full"), 6).as("exact_full"),
          round(abs(col("est_sample") - col("exact_full")), 6)
            .as("abs_err"))
        .orderBy(col("q"))
    }),

    // ── Count–Min sketch frequency estimation: d=4 rows × w=64
    //    buckets over the document token stream (w ≪ vocabulary so
    //    collisions actually overcount — the sketch's defining error
    //    mode is gated, not dodged); probes = exact top-32 tokens,
    //    est = min over the 4 rows, always ≥ exact ──────────────────────
    "a19_countmin" -> ((s, dir) => {
      val toks = TextOps.tokens(
        docs(s, dir).select(col("doc_id"), col("text")), "text")
        .select(col("token"))
      val cells = graft.stats.CountMin.sketch(
        toks, col("token"), d = 4, w = 64, seed = 19)
      // probe rank window runs on the term-frequency frame — bounded
      // by vocabulary (the t31 precedent), not corpus size
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("n_exact"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_exact").desc, col("token"))))
        .filter(col("rk") <= 32)
      graft.stats.CountMin.estimate(probes, "token", cells,
          d = 4, w = 64, seed = 19)
        .withColumn("overcount", col("cm_est") - col("n_exact"))
        .select(col("rk"), col("token"), col("n_exact"), col("cm_est"),
          col("overcount"))
        .orderBy(col("rk"))
    }),

    // ── Dedup clusters: the d01 pair list closed into connected
    //    components (min-label propagation — one keyed join + min-agg
    //    per round), canonical keeper = the component's min id ─────────
    "d03_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", k = 5,
        numPerm = 64, bands = 16, threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
          (col("id") === col("cluster")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ── Keep-best-of-cluster dedup: d03's MinHash clusters, but the
    //    election is by q19 quality score (ties → min id) — dedup and
    //    quality filtering composed, one keyed window election ──────────
    "d07_dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", k = 5,
        numPerm = 64, bands = 16, threshold = 0.5)
      val q = graft.text.TextOps.tokenStats(d, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
      Dedup.dedupKeepBest(d, "doc_id", pairs, q)
        .orderBy(col("doc_id"))
    }),

    // ── Semantic dedup over the engine's OWN hashed embeddings: t16
    //    vectors → sign-LSH banded pairs (cos ≥ 0.92 r5) → pointer-
    //    jumping clusters — the full text→vector→LSH→cluster pipeline
    //    with no pretrained embedding dependency. 12 planes × 8 bands:
    //    the high-similarity corpus saturates coarse buckets (3 planes
    //    measured 31.5 s at sf0.1 on the candidate explosion — the s01
    //    lesson), 4096 buckets/band hold occupancy while 8 bands keep
    //    ~0.9 recall at cos 0.92; production derives planes from corpus
    //    size (planesForOccupancy), the gate pins a static point so the
    //    oracle can embed identical plane literals ──────────────────────
    "d08_semantic_dedup" -> ((s, dir) => {
      // checkpoint the vector frame: it feeds the banding AND both
      // sides of the exact verify — without it the embedding agg
      // lineage recomputes three times (the d06 block-frame lesson)
      // even-doc half: the candidate graph of this high-mutual-
      // similarity fixture grows ~quadratically with corpus size, and
      // d04 already exercises full-corpus embed-clustering — the gate
      // pins the end-to-end composition, not a second full-corpus run
      val vecs = graft.text.TextOps
        .hashEmbedVectors(docs(s, dir).filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .withColumn("_blk", lit(0))
        .localCheckpoint()
      val pairs = Similarity.bandedNearDupPairs(vecs, "doc_id", "embedding",
          "_blk", threshold = 0.92,
          planes = graft.sim.Similarity.bandPlanes(64, 12, 8, 11L))
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
          (col("id") === col("cluster")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ── SimHash near-dup (portable 60-bit signature ⇒ oracled) ────────
    "d02_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── A8: per-regime return stats (regime = event_type), computed
    //    PER USER SERIES — every window partitions on user_id, so no
    //    stage funnels the table into one partition at any scale ──────
    "q28_regime_stats" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      graft.stats.RegimeStats
        .perRegime(rets, perUser, "event_type", "ret")
        .select(col("user_id"), col("event_type"), col("n"),
          round(col("mean"), 8).as("mean"),
          round(col("std_pop"), 8).as("std_pop"),
          round(col("ar1"), 6).as("ar1"),
          round(col("skew"), 6).as("skew"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ── C10+O5: Spark-parallel GARCH(1,1) grid — zero RNG, verified by
    //    a DuckDB recursive-CTE replay of the σ² recursion over the same
    //    bounded 1000-return prefix ─────────────────────────────────────
    "q29_garch_grid" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(1000)
        .select(col("ts"), col("event_id"), col("ret"))
      graft.stats.Garch.grid(rets, Seq("ts", "event_id"), "ret")
        .select(col("alpha"), col("beta"),
          round(col("omega"), 10).as("omega"),
          round(col("long_run_var"), 10).as("long_run_var"),
          round(col("ll"), 4).as("ll"))
        .orderBy(col("alpha"), col("beta"))
    }),

    // ── full DistributionEvaluator metric record (rows-only; the
    //    even/odd user split is non-empty at every SF) ─────────────────
    "q30_distribution_eval" -> ((s, dir) => {
      val e = ev(s, dir)
      val real = e.filter(col("user_id") % 2 === 0)
      val synth = e.filter(col("user_id") % 2 === 1)
      graft.eval.DistributionEvaluator
        .evaluate(real, synth, Seq("ts", "event_id"), "value")
    }),

    // ── C7+C8: composite score incl. distributed spectral (rows-only) ─
    "q31_composite_score" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.eval.CompositeMetric.scoreDf(
        e.filter(col("user_id") % 2 === 0), e.filter(col("user_id") % 2 === 1),
        Seq("ts", "event_id"), "value")
    }),

    // ── G7: PELT change-point regimes + per-regime trained GANs
    //    (rows-only; 100 GAN epochs per regime keeps the bench leg
    //    bounded — the CLI default trains 150) ─────────────────────────
    "g07_regime_changepoint" -> ((s, dir) => {
      val model = graft.gen.RegimeGan.fit(
        ev(s, dir), Seq("ts", "event_id"), "value", nRegimes = 4,
        ganEpochs = 100)
      graft.gen.RegimeGan.generate(s, model, seed = 42L, n = 2000,
          initialPrice = 100.0)
        .orderBy(col("rn"))
    }),

    // ── G8: TimeGAN inference path (training lives in
    //    train.TimeGanTrainer) — fully oracle-checked like g06: the
    //    oracle replays the seeded weight stream, the per-window
    //    latent/anchor draws, and the 3-net stacked-GRU forward ───────
    "g08_timegan_infer" -> ((s, dir) => {
      val anchors = ev(s, dir).orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("value").cast("double")).collect().map(_.getDouble(0))
      val model = graft.gen.TimeGanModel.random(
        windowSize = 24, latentDim = 8, hidden = 16, seed = 13L)
      graft.gen.TimeGanGenerator.generate(s, model, anchors, n = 2000,
          seed = 42L)
        .select(col("rn"), round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── multimodal: binary column decode — real PPM/WAV/AVI parses ───
    "m01_multimodal_decode" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.decode(media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), col("n_bytes"))
        .orderBy(col("media_id"))
    }),

    // ── m03: perceptual aHash over REAL-decoded image pixels — the
    //    pHash-family image-dedup fingerprint; exact-integer grid
    //    thresholding so the oracle replays it from the synth pixel
    //    formula bit-for-bit ───────────────────────────────────────────
    "m03_image_ahash" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.imageAHash(media)
        .orderBy(col("media_id"))
    }),

    // ── m08: image difference hash (dHash) — adjacent-cell gradient
    //    comparisons on an 8×9 grid; keys on local gradients where
    //    aHash keys on the global mean (the ensemble complement) ──────
    "m08_image_dhash" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.imageDHash(media)
        .orderBy(col("media_id"))
    }),

    // ── m09: audio energy / silence report — RMS, peak, and the
    //    20 ms-frame silence ratio; the gate before transcription ─────
    "m09_audio_energy" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.audioEnergy(media)
        .orderBy(col("media_id"))
    }),

    // ── m04: image near-dup pairs via 16-bit aHash bands — the corpus
    //    is doubled with exact twins at +273000 (a multiple of
    //    lcm(3,13,7), so kind and dims are preserved and the twin's
    //    pixels are identical → hamming 0, every twin pair guaranteed);
    //    banded recall beyond hamming 3 is the documented d01-style
    //    contract, deterministic on both engines ───────────────────────
    "m04_image_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      val twins = d.withColumn("doc_id", col("doc_id") + 273000)
      val media = graft.mm.Multimodal.synthesizeFromDocuments(
        d.unionByName(twins))
      graft.mm.Multimodal.imageNearDupPairs(
          graft.mm.Multimodal.imageAHash(media), maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── m05: audio envelope fingerprint over REAL-decoded PCM16 —
    //    same exact-integer 64-window thresholding as m03; the
    //    (b0..b3, hex) shape feeds imageNearDupPairs unchanged, so
    //    audio near-dup is the m04 operator verbatim ────────────────────
    "m05_audio_ahash" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.audioAHash(media)
        .orderBy(col("media_id"))
    }),

    // ── m06: per-frame video grid hashes (real AVI demux; the m03
    //    exact-integer grid per frame) ──────────────────────────────────
    "m06_frame_hashes" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      graft.mm.Multimodal.videoFrameHashes(media)
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ── m07: video near-dup by shared frame hashes — doubled corpus
    //    twins (+273000 preserves kind and BOTH video dims) share every
    //    frame; one hash-keyed join, nothing pairwise ──────────────────
    "m07_video_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      val media = graft.mm.Multimodal.synthesizeFromDocuments(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + 273000)))
      graft.mm.Multimodal.videoNearDupPairs(
          graft.mm.Multimodal.videoFrameHashes(media), minShared = 1L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── m07b: video near-dup with NEAR-MISS frame matching — the m04
    //    16-bit banding composed at FRAME granularity (a re-encoded
    //    video whose every frame hash sits 1–3 bits off escapes m07's
    //    exact-hash join entirely; the banding catches it, pigeonhole-
    //    guaranteed to hamming 3) + the hot-key df cap (maxKeyDf=64)
    //    that bounds any ubiquitous-frame bucket, both replayed by the
    //    oracle ──────────────────────────────────────────────────────────
    "m07b_video_neardup_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      val media = graft.mm.Multimodal.synthesizeFromDocuments(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + 273000)))
      graft.mm.Multimodal.videoNearDupPairsFuzzy(
          graft.mm.Multimodal.videoFrameHashes(media), maxHamming = 6,
          minShared = 1L, maxKeyDf = 64L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── m04b: PER-COLLECTION image near-dup — the m04 band join also
    //    keyed on `source`, so tenant corpora never cross-match (the
    //    t25b per-collection contract at the pixel level) ──────────────
    "m04b_image_neardup_by" -> ((s, dir) => {
      val d = docs(s, dir)
      val media = graft.mm.Multimodal.synthesizeFromDocuments(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + 273000)))
      val hashes = graft.mm.Multimodal.imageAHash(media)
        .join(media.toDF().select(col("media_id"), col("source")),
          Seq("media_id"))
      graft.mm.Multimodal.imageNearDupPairsBy(hashes, "source",
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── multimodal: frame sampling + feature→ANN integration ──────────
    "m02_multimodal_features" -> ((s, dir) => {
      val media = graft.mm.Multimodal.synthesizeFromDocuments(docs(s, dir))
      val feats = graft.mm.Multimodal.featureFrame(graft.mm.Multimodal.decode(media))
      Similarity.bruteForceTopK(
        feats.filter(col("media_id") < 3).withColumnRenamed("feature", "embedding")
          .withColumnRenamed("media_id", "vec_id"),
        feats.withColumnRenamed("feature", "embedding")
          .withColumnRenamed("media_id", "vec_id"),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── G1: decoder-inference generator — fully oracle-checked: the
    //    oracle replays the seeded WEIGHT stream (2648 polar gaussians),
    //    every per-window latent/anchor draw (per-window LCGs seeded
    //    seed·1000003 + idx·7919), and the forward pass itself ────────
    "g06_decoder_infer" -> ((s, dir) => {
      val anchors = ev(s, dir).orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("value").cast("double")).collect().map(_.getDouble(0))
      val dec = MlpDecoder.random(latentDim = 16, hidden = 64,
        windowSize = 24, seed = 11L)
      DecoderGenerator.generate(s, dec, anchors, n = 2000, seed = 42L)
        .select(col("rn"), round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── optimizer: Spark-parallel random sweep (rows-only) ────────────
    "o01_random_sweep" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("ret")).collect().map(_.getDouble(0))
      graft.opt.SweepOptimizer.randomSweep(s, rets,
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        nConfigs = 12, seeds = Seq(1L, 2L), genN = 500)
        // a sweep returns a local frame: re-sort it on the rounded score
        // in one partition, with no range exchange (o02–o04 and the
        // witnesses alike)
        .select(col("config_id"), col("n_bins"), col("smooth"),
          round(col("avg_score"), 6).as("avg_score"), col("n_seeds"))
        .coalesce(1).sortWithinPartitions(col("avg_score"), col("config_id"))
    }),

    // ── o01 WITNESS: the random sweep's seeded CONFIG DRAW — the one
    //    piece of o01 the o01f fitness witness cannot see; the oracle
    //    replays the java.util.Random 48-bit LCG exactly (power-of-2
    //    and rejection nextInt branches) ─────────────────────────────
    "o01d_config_draw" -> ((s, dir) => {
      import s.implicits._
      graft.opt.SweepOptimizer.drawConfigs(
          nBinsChoices = Seq(5, 8, 10, 15),
          smoothChoices = Seq(0.0, 0.2, 0.5), nConfigs = 12, seed = 42L)
        .toDF("config_id", "n_bins", "smooth")
        .select(col("config_id").cast("long").as("config_id"),
          col("n_bins").cast("long").as("n_bins"), col("smooth"))
        .orderBy(col("config_id"))
    }),

    // ── §2.12 grid search with early seed-stopping (the reference's
    //    optimize_hybrid shape), batch two-phase: probe seeds for every
    //    config in one job, remaining seeds only for configs within
    //    margin of the global probe best. Rows-only like o01 (the
    //    per-candidate fitness math is the o01f hash-green witness) ─────
    "o02_grid_earlystop" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("ret")).collect().map(_.getDouble(0))
      graft.opt.SweepOptimizer.gridSearchEarlyStop(s, rets,
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = Seq(1L, 2L, 3L, 4L), genN = 500)
        .select(col("config_id"), col("n_bins"), col("smooth"),
          round(col("avg_score"), 6).as("avg_score"), col("n_seeds"),
          col("early_stopped"))
        .coalesce(1).sortWithinPartitions(col("avg_score"), col("config_id"))
    }),

    // ── o02 WITNESS: the grid-earlystop two-phase SELECTION arithmetic
    //    (probe means, the global-best margin survivor set, finish-phase
    //    averaging, the early_stopped flag) hash-gated end to end over a
    //    deterministic md5-derived pseudo-fitness both engines compute
    //    identically — the one piece of o02 the o01f/o01b fitness
    //    witnesses cannot see (it is pure driver arithmetic) ──────────
    // ── o03: successive halving (ASHA-style) — geometric seed budgets,
    //    top-1/η promotion per rung; full run over the real fitness is
    //    rows-only like o01/o02, with o03f hash-gating the selection ────
    "o03_successive_halving" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("ret")).collect().map(_.getDouble(0))
      graft.opt.SweepOptimizer.successiveHalving(s, rets,
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = (1L to 9L), genN = 500, eta = 3)
        .select(col("config_id"), col("n_bins"), col("smooth"),
          round(col("avg_score"), 6).as("avg_score"), col("n_seeds"),
          col("rung_reached"))
        .coalesce(1).sortWithinPartitions(col("avg_score"), col("config_id"))
    }),

    // ── o04: Hyperband — three successive-halving brackets hedging
    //    elimination aggressiveness; rows-only (real seeded fits, the
    //    o03 exemption) with o04f hash-gating the bracket arithmetic ───
    "o04_hyperband" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(5000)
        .select(col("ret")).collect().map(_.getDouble(0))
      graft.opt.SweepOptimizer.hyperband(s, rets,
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = (1L to 9L), genN = 500, eta = 3)
        .select(col("bracket"), col("config_id"), col("n_bins"),
          col("smooth"), round(col("avg_score"), 6).as("avg_score"),
          col("n_seeds"), col("rung_reached"))
        .coalesce(1).sortWithinPartitions(col("bracket"), col("avg_score"), col("config_id"))
    }),

    // ── o04f: all three brackets' draw/rung/promotion arithmetic
    //    replayed over the tagged md5 pseudo-fitness ────────────────────
    "o04f_hyperband_core" -> ((s, dir) => {
      graft.opt.SweepOptimizer.hyperband(s, Array.empty[Double],
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = (1L to 9L), genN = 0, eta = 3,
        score = graft.opt.SweepOptimizer.witnessScoreTagged("o04"))
        .select(col("bracket"), col("config_id"), col("n_bins"),
          col("smooth"), round(col("avg_score"), 6).as("avg_score"),
          col("n_seeds"), col("rung_reached"))
        .coalesce(1).sortWithinPartitions(col("bracket"), col("avg_score"), col("config_id"))
    }),

    // ── o03f: the rung/promotion arithmetic replayed over the md5
    //    pseudo-fitness (tag "o03") — every cumulative mean folds in
    //    seed order on both engines ─────────────────────────────────────
    "o03f_successive_halving_core" -> ((s, dir) => {
      graft.opt.SweepOptimizer.successiveHalving(s, Array.empty[Double],
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = (1L to 9L), genN = 0, eta = 3,
        score = graft.opt.SweepOptimizer.witnessScoreTagged("o03"))
        .select(col("config_id"), col("n_bins"), col("smooth"),
          round(col("avg_score"), 6).as("avg_score"), col("n_seeds"),
          col("rung_reached"))
        .coalesce(1).sortWithinPartitions(col("avg_score"), col("config_id"))
    }),

    "o02f_grid_earlystop_core" -> ((s, dir) => {
      graft.opt.SweepOptimizer.gridSearchEarlyStop(s, Array.empty[Double],
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = Seq(1L, 2L, 3L, 4L), genN = 0, earlyAfter = 2, margin = 1.3,
        score = graft.opt.SweepOptimizer.witnessScore)
        .select(col("config_id"), col("n_bins"), col("smooth"),
          round(col("avg_score"), 6).as("avg_score"),
          col("n_seeds").cast("long").as("n_seeds"),
          col("early_stopped").cast("long").as("early_stopped"))
        .coalesce(1).sortWithinPartitions(col("avg_score"), col("config_id"))
    }),

    // ── A17/§2.12 TRAINING witness: the sweep's per-candidate fitness —
    //    ONE (config, seed) grasynda-lite fit + walk + composite-lite
    //    score from literal params (LocalFitness.grasyndaWalk +
    //    compositeLite, the loop body of o01's fan-out); the oracle
    //    replays the quantile-index edges, transitions, the
    //    nextInt/nextDouble LCG walk with smoothing recursion, and the
    //    JS/KS/std/ac1 score in SQL ──────────────────────────────────────
    "o01f_sweep_fitness" -> ((s, dir) => {
      import s.implicits._
      val real = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(2000)
        .select(col("ret")).collect().map(_.getDouble(0))
      val synth = graft.opt.LocalFitness.grasyndaWalk(real, nBins = 8,
        smooth = 0.2, n = 200, seed = 5L)
      val score = graft.opt.LocalFitness.compositeLite(real, synth)
      synth.zipWithIndex.map { case (v, i) => (i, v, score) }.toSeq
        .toDF("i", "raw", "rawscore")
        .select(col("i"), round(col("raw"), 8).as("synth"),
          round(col("rawscore"), 6).as("score"))
        .orderBy(col("i"))
    }),

    // ── §2.12 PER-SERIES sweep fitness: every user's Grasynda-lite
    //    fit + seeded walk (seed+sid) + composite-lite score in ONE
    //    keyed pass — the many-series optimizer fitness shape (o01f is
    //    the single-series witness; the oracle replays every per-user
    //    LCG walk and score) ────────────────────────────────────────────
    "o01b_sweep_fitness_per_user" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      graft.opt.LocalFitness.grasyndaScoreGrouped(rets, "user_id",
          Seq("ts", "event_id"), "ret", nBins = 8, smooth = 0.2, n = 200,
          seed = 5L)
        .select(col("user_id"), col("i"),
          round(col("synth"), 8).as("synth"), round(col("score"), 6).as("score"))
        .orderBy(col("user_id"), col("i"))
    }),

    // ── multi-band sign-LSH ANN near-dup at the LADDER-selected
    //    operating point (occupancy-bounded candidates; the r15 fixed
    //    nPlanes=4 config's 16 buckets/band saturated past 10× — the
    //    ladder deepens with the corpus and the oracle replays the
    //    selection from the same integer bucket counts) ────────────────
    "s01_lsh_ann" -> ((s, dir) => {
      Similarity.lshNearDupPairsLadder(emb(s, dir), "vec_id", "embedding",
          threshold = 0.3, seed = 42L)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 5).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── IVF ANN (the third similarity-search scale path beside brute
    //    force and sign-LSH): literal codebook ⇒ assignment + probing
    //    fully oracle-checkable ─────────────────────────────────────────
    "s02_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, nProbe = 4, k = 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── PQ ANN: asymmetric-distance compressed-domain scan (per-subspace
    //    KMeans codebook frozen as literals) + exact cosine rerank of the
    //    overfetch*k-deep shortlist (16k = 160, matching the oracle).
    //    Operating point from the build-time sweep (tools/SweepAnn):
    //    M8K16/overfetch=16 → recall@10 0.90-0.92 (floor ≥0.8 pinned in
    //    DedupSimSpec), wall flat vs overfetch=4 (which sat at 0.60);
    //    the rerank depth is corpus-size-independent (160 exact dots
    //    per query at any scale). The finer M8K64 codebook reaches the
    //    floor at overfetch=8 but ~3x the encode codegen — documented
    //    alternative, also floor-asserted ──────────────────────────────
    "s03_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          graft.sim.PqCodebook.M8K16, k = 10, overfetch = 16)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── IVF-PQ ANN: list pruning + compressed-domain ADC scan + exact
    //    rerank — the composed production shape ──────────────────────────
    "s04_ivfpq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      // operating point from the build-time sweep (tools/SweepAnn):
      // nProbe=10, overfetch=16 → recall@10 0.86-0.88 vs brute force at
      // sf0.01/sf0.001, wall flat vs nProbe=4 (the ADC scan dominates).
      // 10/16 lists probed is an artifact of the tiny gate corpus — at
      // production scale nlist grows with the corpus and the probed
      // fraction shrinks; the pinned recall floor (≥0.8, DedupSimSpec)
      // is the contract.
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
          nProbe = 10, k = 10, overfetch = 16)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── Indexed IVF-PQ: build the persisted list-partitioned index,
    //    then serve the s04 query from it — values identical to s04,
    //    I/O pruned to the probed lists (PartitionFilters) ─────────────
    "s05_ivfpq_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      val idxPath = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_idx").toString
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
      Similarity.ivfPqTopKIndexed(e.filter(col("vec_id") < 5), idxPath,
          "vec_id", "embedding", graft.sim.IvfCodebook.K16,
          graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ── G2 fit witness: the block/rescale chain with deterministic
    //    strided starts — the zero-RNG twin of g01's seeded walk, fully
    //    oracle-checkable ────────────────────────────────────────────
    "g01f_block_chain" -> ((s, dir) => {
      // compared in the LOG domain: the rescale chain can drift prices
      // across orders of magnitude, where absolute rounding of the raw
      // price is unstable but r6 of ln(price) is ~1e-6 relative
      BlockBootstrap.generateStrided(ev(s, dir), Seq("ts", "event_id"),
          "value", blockSize = 30, n = 2000, stride = 523)
        .select(col("rn"), round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G2 PER-SERIES: the strided block/rescale chain fitted and
    //    generated independently for every user series in ONE shuffle
    //    (flatMapGroups) — the many-series 100 TB generation shape ─────
    "g01b_block_chain_per_user" -> ((s, dir) => {
      BlockBootstrap.generateStridedGrouped(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "value", blockSize = 30, n = 200,
          stride = 523)
        .select(col("user_id"), col("rn"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── G3 PER-SERIES walk: fit + seeded Markov walk for EVERY user
    //    series in one keyed pass (fitArray per series inside
    //    mapPartitions, Random(seed + sid) walks, keyed W2) ───────────
    "g02wb_grasynda_walk_per_user" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      Grasynda.generateGrouped(rets, "user_id", Seq("ts", "event_id"), "ret",
          nBins = 10, seed = 42L, n = 100, initialPrice = 100.0)
        .select(col("user_id"), col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── G3 PER-SERIES: the Grasynda fit frame (quantile edges,
    //    digitize, transitions, pools, starts) keyed on user — one
    //    hash shuffle fits every series at once ────────────────────────
    "g02b_grasynda_fit_per_user" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      Grasynda.fitFrameGrouped(rets, "user_id", Seq("ts", "event_id"),
        "ret", nBins = 10)
    }),

    // ── G3 fit artifact: Grasynda edges/transition/pools (A4+A5+A7+A9),
    //    distributed and oracle-checkable ─────────────────────────────
    "g02f_grasynda_fit" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      Grasynda.fitFrame(rets, Seq("ts", "event_id"), "ret", nBins = 10)
    }),

    // ── G6 fit witness: regime-bootstrap segmentation + per-segment
    //    stats (W5+W6+A4+A5+run-segmentation), oracle-checkable ───────
    "g03f_regime_segments" -> ((s, dir) => {
      graft.gen.RegimeBootstrap.fitFrame(ev(s, dir), Seq("ts", "event_id"),
        "value", nRegimes = 3)
    }),

    // ── G4/G5 fit front-end: the normalized [ret, vol_short, vol_ratio]
    //    HMM feature frame, oracle-checkable ──────────────────────────
    "g04f_regime_features" -> ((s, dir) => {
      graft.gen.RegimeConditional.features(ev(s, dir), Seq("ts", "event_id"), "value")
        .select(col("rn"), round(col("f0"), 6).as("f0"),
          round(col("f1"), 6).as("f1"), round(col("f2"), 6).as("f2"))
        .orderBy(col("rn"))
    }),

    // ── C8 deterministic core: the composite's SQL-expressible
    //    components (everything except hurst/spectral), oracle-checked ─
    "q31f_composite_core" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.eval.CompositeMetric.scoreDf(
          e.filter(col("user_id") % 2 === 0), e.filter(col("user_id") % 2 === 1),
          Seq("ts", "event_id"), "value", withExpensive = false)
        .select(
          round(col("js_divergence"), 8).as("js_divergence"),
          round(col("ks_statistic"), 8).as("ks_statistic"),
          round(col("ac_lag1"), 6).as("ac_lag1"),
          round(col("ac_lag5"), 6).as("ac_lag5"),
          round(col("ac_lag24"), 6).as("ac_lag24"),
          round(col("vol_cluster"), 6).as("vol_cluster"),
          round(col("skew_diff"), 6).as("skew_diff"),
          round(col("kurt_diff"), 6).as("kurt_diff"),
          round(col("std_ratio"), 6).as("std_ratio"))
    }),

    // ── C6 at scale: grouped-aggregation R/S Hurst per USER series —
    //    the many-series path with no collect and no global partition ──
    "q16b_hurst_per_user" -> ((s, dir) => {
      SeriesStats.hurstGrouped(ev(s, dir), perUser, "value")
        .orderBy(col("user_id"))
    }),

    // ── G5 fit witness: per-regime GARCH grids over a DETERMINISTIC
    //    regime split (vol-tertile digitize — the same labeling g03f
    //    oracles) of the q29 1000-return prefix. Witnesses the
    //    per-regime split machinery of regime_hmm_garch.py:96-128 with
    //    zero HMM dependence; verified by a regime-keyed recursive-CTE
    //    σ² replay ──────────────────────────────────────────────────────
    "g05f_regime_garch" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(1000)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("ts"), col("event_id"))))
        .select(col("rn"), col("ret"))
      val rspec = SeriesSpec(Nil, Seq("rn"))
      val withVol = SeriesOps.backfill(
        SeriesOps.rollingStd(rets, rspec, "ret", 24, 12, "vol"),
        rspec, "vol", "volf")
      val probs = (1 until 3).map(i => i.toDouble / 3)
      val edges = withVol.agg(
        expr(s"percentile(volf, array(${probs.mkString(",")}))")).first()
        .getSeq[Double](0).distinct.sorted.toArray
      val edgeLit = array(edges.map(lit): _*)
      val regimed = withVol.withColumn("regime",
        size(filter(edgeLit, e => e <= col("volf"))))
      graft.stats.Garch.gridPerRegime(regimed, Seq("rn"), "ret", "regime")
        .select(col("regime"), col("alpha"), col("beta"),
          round(col("omega"), 10).as("omega"),
          round(col("long_run_var"), 10).as("long_run_var"),
          round(col("ll"), 4).as("ll"))
        .orderBy(col("regime"), col("alpha"), col("beta"))
    }),

    // ── G7 fit witness: the deterministic PELT change-point frame over
    //    the 1000-return prefix; the oracle replays the (unpruned —
    //    optimum-preserving) DP in a recursive CTE ────────────────────
    "g07f_pelt_segments" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(1000)
        .select(col("ts"), col("event_id"), col("ret"))
      graft.gen.RegimeGan.peltFrame(rets, Seq("ts", "event_id"), "ret")
        .select(col("seg_id"), col("start_idx"), col("end_idx"), col("len"),
          round(col("mean_ret"), 8).as("mean_ret"),
          round(col("std_ret"), 8).as("std_ret"),
          round(col("skew"), 6).as("skew"),
          round(col("ac1"), 6).as("ac1"))
        .orderBy(col("seg_id"))
    }),

    // ── G4 walk witness: RegimeConditional.generate over a LITERAL
    //    model (WitnessFixtures) — the seeded AR(1) walk incl. the
    //    polar-method nextGaussian is replayed exactly by the oracle ──
    "g04w_conditional_walk" -> ((s, dir) => {
      graft.gen.RegimeConditional.generate(s, WitnessFixtures.G04Model,
          seed = 7L, n = 200, initialPrice = 100.0)
        .select(col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G4 PER-SERIES walk: every user series draws its own seeded
    //    AR(1) walk from Random(seed + sid) — generation distributed
    //    across the series dimension; keyed W2 reconstruction ─────────
    "g04wb_conditional_walk_per_user" -> ((s, dir) => {
      graft.gen.RegimeConditional.generateGrouped(ev(s, dir), "user_id",
          WitnessFixtures.G04Model, seed = 7L, n = 100, initialPrice = 100.0)
        .select(col("user_id"), col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── G5 PER-SERIES walk: same keyed machine + per-regime GARCH σ²
    //    recursions, one independent σ² state per series ──────────────
    "g05wb_garch_walk_per_user" -> ((s, dir) => {
      graft.gen.RegimeConditional.generateGrouped(ev(s, dir), "user_id",
          WitnessFixtures.G04Model.copy(garch = Some(WitnessFixtures.G05Garch)),
          seed = 7L, n = 100, initialPrice = 100.0)
        .select(col("user_id"), col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── G5 walk witness: same machine + the per-regime GARCH σ²
    //    recursion over literal params ────────────────────────────────
    "g05w_garch_walk" -> ((s, dir) => {
      graft.gen.RegimeConditional.generate(s,
          WitnessFixtures.G04Model.copy(garch = Some(WitnessFixtures.G05Garch)),
          seed = 7L, n = 200, initialPrice = 100.0)
        .select(col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G7 walk witness: RegimeGan.generate over a LITERAL model — the
    //    regime chain, the trained-GAN sampling branch (z → 4-layer
    //    decoder → denormalize) AND the parametric fallback branch are
    //    all replayed exactly by the oracle ───────────────────────────
    "g07w_gan_walk" -> ((s, dir) => {
      graft.gen.RegimeGan.generate(s, WitnessFixtures.G07Model,
          seed = 5L, n = 64, initialPrice = 100.0)
        .select(col("rn"), round(col("ret"), 8).as("ret"),
          round(log(col("typical_price")), 6).as("ln_price"))
        .orderBy(col("rn"))
    }),

    // ── G1 forward witness: the MLP decoder inference math over FIXED
    //    literal weights (WitnessFixtures — shared with the oracle,
    //    which recomputes the same nested arithmetic in SQL) ──────────
    "g06f_decoder_forward" -> ((s, dir) => {
      import s.implicits._
      val bc = s.sparkContext.broadcast(
        (WitnessFixtures.G06Decoder, WitnessFixtures.G06Z))
      s.range(1).as[Long].flatMap { _ =>
        val (d, z) = bc.value
        d.forward(z).zipWithIndex.map { case (v, i) => (i, v) }
      }.toDF("i", "v")
        .select(col("i"), round(col("v"), 6).as("v"))
        .orderBy(col("i"))
    }),

    // ── G8 forward witness: one latent window through the full
    //    generator→supervisor→recovery GRU stack with fixed literal
    //    weights; the oracle unrolls the identical recurrences ────────
    "g08f_timegan_forward" -> ((s, dir) => {
      import s.implicits._
      val bc = s.sparkContext.broadcast(
        (WitnessFixtures.G08Model, WitnessFixtures.G08Z))
      s.range(1).as[Long].flatMap { _ =>
        val (m, z) = bc.value
        val xh = m.recovery.run(m.supervisor.run(m.generator.run(z)))
        xh.zipWithIndex.map { case (row, t) => (t, row(0)) }
      }.toDF("t", "xhat")
        .select(col("t"), round(col("xhat"), 6).as("xhat"))
        .orderBy(col("t"))
    }),

    // ── G4 PER-SERIES EM witness: one Baum-Welch update for EVERY user
    //    series in one keyed pass — per-series quantileInit + emStep
    //    inside SeriesOps.runs (no driver fit loop; the
    //    oracle replays init + forward/backward + M-step per user in
    //    keyed recursive CTEs) ───────────────────────────────────────
    "g04tb_hmm_em_step_per_user" -> ((s, dir) => {
      graft.gen.RegimeConditional.emStepGrouped(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "value", k = 3, n = 200)
        .orderBy(col("user_id"), col("param"), col("i"), col("j"))
    }),

    // ── G4 EM witness: exactly ONE Baum-Welch update (scaled
    //    forward-backward E-step + M-step, graft.gen.Hmm.emStep — the
    //    twin of one hmmlearn fit iteration) from the literal
    //    WitnessFixtures.G04tInit params over the first 200 rounded
    //    g04f feature rows; the oracle replays the full forward/backward
    //    recursion + M-step in recursive CTEs ──────────────────────────
    "g04t_hmm_em_step" -> ((s, dir) => {
      import s.implicits._
      val x = graft.gen.RegimeConditional
        .features(ev(s, dir), Seq("ts", "event_id"), "value")
        .select(col("rn"), round(col("f0"), 6).as("f0"),
          round(col("f1"), 6).as("f1"), round(col("f2"), 6).as("f2"))
        .orderBy(col("rn")).limit(200)
        .collect().sortBy(_.getInt(0))
        .map(r => Array(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      val (m1, ll) = graft.gen.Hmm.emStep(x, WitnessFixtures.G04tInit)
      val rows =
        Seq(("ll", 0, 0, ll)) ++
          m1.startProbs.zipWithIndex.map { case (v, c) => ("start", c, 0, v) } ++
          (for (i <- 0 until 3; j <- 0 until 3)
            yield ("trans", i, j, m1.transition(i)(j))) ++
          (for (c <- 0 until 3; j <- 0 until 3)
            yield ("mean", c, j, m1.means(c)(j))) ++
          (for (c <- 0 until 3; j <- 0 until 3)
            yield ("var", c, j, m1.variances(c)(j)))
      rows.toDF("param", "i", "j", "raw")
        .select(col("param"), col("i"), col("j"),
          when(col("param") === "ll", round(col("raw"), 6))
            .otherwise(round(col("raw"), 8)).as("v"))
        .orderBy(col("param"), col("i"), col("j"))
    }),

    // ── G7 TRAINING witness: exactly ONE adversarial step (D BCE step
    //    over real+fake, then a G step against the updated frozen D —
    //    GanTrainer.step, the loop body of regime_gan.py:202-259) from
    //    the literal WitnessFixtures.G07t nets/batches; the oracle
    //    replays every forward, backward delta, gradient accumulation
    //    and t=1 Adam update in SQL ─────────────────────────────────────
    "g07t_gan_train_step" -> ((s, dir) => {
      import s.implicits._
      val fx = WitnessFixtures.G07t
      val (g1, g2, g2t, g3, d1, d2, d3) = fx.layers()
      val all = Seq(("g", 0, g1), ("g", 1, g2), ("g", 2, g2t), ("g", 3, g3),
        ("d", 0, d1), ("d", 1, d2), ("d", 2, d3))
      val w0 = all.map { case (_, _, l) => (l.w.map(_.clone()), l.b.clone()) }
      graft.train.GanTrainer.step(g1, g2, g2t, g3, d1, d2, d3,
        fx.Real, fx.Z1, fx.Z2, t = 1, lr = 2e-4)
      val rows = all.zip(w0).flatMap { case ((net, li, l), (ww, bb)) =>
        val ws = for (o <- l.w.indices; i <- l.w(o).indices)
          yield (net, li, o, i, l.w(o)(i), l.w(o)(i) - ww(o)(i))
        val bsr = l.b.indices.map(o =>
          (net, li, o, -1, l.b(o), l.b(o) - bb(o)))
        ws ++ bsr
      }
      rows.toDF("net", "layer", "o", "i", "raw", "draw")
        .select(col("net"), col("layer"), col("o"), col("i"),
          round(col("raw"), 8).as("v"), round(col("draw"), 10).as("dv"))
        .orderBy(col("net"), col("layer"), col("o"), col("i"))
    }),

    // ── Adam t=2 witness: TWO sequential Dense.adam updates over
    //    literal gradients — pins the β-decayed moment history and
    //    step-2 bias correction that every t=1 witness leaves
    //    degenerate (g06t/g07t/g08t all have m=v=0 going in) ──────────
    "g07t2_adam_two_step" -> ((s, dir) => {
      import s.implicits._
      val fx = WitnessFixtures.T2Adam
      val l = fx.layer()
      val w0 = l.w.map(_.clone()); val b0 = l.b.clone()
      def setGrad(gw: Array[Array[Double]], gb: Array[Double]): Unit = {
        var o = 0
        while (o < fx.Out) {
          l.gB(o) = gb(o)
          var i = 0
          while (i < fx.In) { l.gW(o)(i) = gw(o)(i); i += 1 }
          o += 1
        }
      }
      setGrad(fx.G1, fx.Gb1); l.adam(2e-4, t = 1, b1 = 0.5)
      setGrad(fx.G2, fx.Gb2); l.adam(2e-4, t = 2, b1 = 0.5)
      val rows = (for (o <- 0 until fx.Out; i <- 0 until fx.In)
        yield (o, i, l.w(o)(i), l.w(o)(i) - w0(o)(i))) ++
        (0 until fx.Out).map(o => (o, -1, l.b(o), l.b(o) - b0(o)))
      rows.toDF("o", "i", "raw", "draw")
        .select(col("o"), col("i"), round(col("raw"), 10).as("v"),
          round(col("draw"), 12).as("dv"))
        .orderBy(col("o"), col("i"))
    }),

    // ── G8 TRAINING witness: exactly ONE phase-2 supervised step
    //    (frozen-embedder forward, supervisor GRU BPTT + sigmoid head,
    //    t=1 Adam — TimeGanTrainer.supervisedStep, the loop body of
    //    timegan_generator.py's supervised phase) from the literal
    //    WitnessFixtures.G08t nets/window; the oracle replays the whole
    //    backward pass in SQL ───────────────────────────────────────────
    "g08t_timegan_sup_step" -> ((s, dir) => {
      import s.implicits._
      val fx = WitnessFixtures.G08t
      val (embedder, supervisor) = fx.nets()
      val sg = supervisor.grus.head
      val named = Seq(
        "wz" -> sg.wz, "uz" -> sg.uz, "bz" -> sg.bz,
        "wr" -> sg.wr, "ur" -> sg.ur, "br" -> sg.br,
        "wh" -> sg.wh, "uh" -> sg.uh, "bh" -> sg.bh,
        "head_w" -> supervisor.head.w, "head_b" -> supervisor.head.b)
      val snap = named.map { case (n, p) => n -> p.v.map(_.clone()) }.toMap
      graft.train.TimeGanTrainer.supervisedStep(embedder, supervisor,
        Seq(fx.X), lr = 1e-3, adamT = 1)
      val rows = named.flatMap { case (n, p) =>
        for (o <- 0 until p.rows; i <- 0 until p.cols)
          yield (n, o, i, p.v(o)(i), p.v(o)(i) - snap(n)(o)(i))
      }
      rows.toDF("param", "o", "i", "raw", "draw")
        .select(col("param"), col("o"), col("i"),
          round(col("raw"), 8).as("v"), round(col("draw"), 10).as("dv"))
        .orderBy(col("param"), col("o"), col("i"))
    }),

    // ── G1 TRAINING witness: exactly ONE VAE gradient step (encoder
    //    forward, reparametrize with literal ε, recon(MSE)+annealed-KL+
    //    MMD gradients, full backward, t=1 Adam — VaeTrainer.vaeStep,
    //    the first leg of vae_gan_trainer.py:220-262's 3-step loop body)
    //    from the literal WitnessFixtures.G06t layers/batch; the oracle
    //    replays every forward, the pairwise MMD kernel + gradient, every
    //    backward delta and the Adam update in SQL ──────────────────────
    "g06t_vae_step" -> ((s, dir) => {
      import s.implicits._
      val fx = WitnessFixtures.G06t
      val (enc1, encMu, encLv, dec1, dec2) = fx.layers()
      val all = Seq(("enc1", enc1), ("encMu", encMu), ("encLv", encLv),
        ("dec1", dec1), ("dec2", dec2))
      val w0 = all.map { case (_, l) => (l.w.map(_.clone()), l.b.clone()) }
      graft.train.VaeTrainer.vaeStep(enc1, encMu, encLv, dec1, dec2,
        fx.X, fx.X, nT = 0, eps = fx.Eps, klW = fx.KlW,
        mmdLambda = fx.MmdLambda, lr = fx.Lr, adamT = 1)
      val rows = all.zip(w0).flatMap { case ((name, l), (ww, bb)) =>
        val wRows = for (o <- l.w.indices; i <- l.w(o).indices)
          yield (name, o, i, l.w(o)(i), l.w(o)(i) - ww(o)(i))
        val bRows = l.b.indices.map(o => (name, o, -1, l.b(o), l.b(o) - bb(o)))
        wRows ++ bRows
      }
      rows.toDF("layer", "o", "i", "raw", "draw")
        .select(col("layer"), col("o"), col("i"),
          round(col("raw"), 8).as("v"), round(col("draw"), 10).as("dv"))
        .orderBy(col("layer"), col("o"), col("i"))
    }),

    // ── C7 witness: spectral distance over the DISTRIBUTED DFT path
    //    (Spectral.powerSpectrum — the at-scale leg; FFT ≡ DFT is
    //    property-tested). Two 64-point windows of the global return
    //    series; the oracle recomputes the DFT with ordered-list folds ─
    "c01_spectral_dft" -> ((s, dir) => {
      import s.implicits._
      val r = SeriesOps.logReturns(ev(s, dir), global, "value", "ret")
        .filter(col("ret").isNotNull)
        .orderBy(col("ts"), col("event_id")).limit(128)
        .select(col("ret")).collect().map(_.getDouble(0))
      val a = r.slice(0, 64); val b = r.slice(64, 128)
      def spec(x: Array[Double]) = graft.stats.Spectral.powerSpectrum(s, x)
        .orderBy(col("k")).collect().map(_.getDouble(1))
      val pa = spec(a); val pb = spec(b)
      // same fold order as composite_metric.py:50-56 and the SQL replay
      val sa = pa.sum + 1e-20; val sb = pb.sum + 1e-20
      var acc = 0.0; var k = 0
      while (k < 64) { val d = pa(k) / sa - pb(k) / sb; acc += d * d; k += 1 }
      val dist = math.sqrt(acc / 64)
      (0 until 64).map(k => (k, pa(k) / sa, pb(k) / sb, dist))
        .toDF("k", "p_real", "p_synth", "spectral_distance")
        .select(col("k"), round(col("p_real"), 8).as("p_real"),
          round(col("p_synth"), 8).as("p_synth"),
          round(col("spectral_distance"), 8).as("spectral_distance"))
        .orderBy(col("k"))
    }),

    // ── C9 witness: Gaussian-kernel MMD² between the even/odd halves of
    //    the embeddings table (bounded ordered samples, the quadratic-
    //    kernel contract); γ is the reference's mean-pairwise-distance
    //    heuristic over the real side ──────────────────────────────────
    "c02_mmd" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (mmd2, gamma, nx, ny) = graft.stats.Mmd.sampledDetail(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        Seq("vec_id"), "v", maxRows = 100)
      Seq((mmd2, gamma, nx, ny)).toDF("mmd2", "gamma", "n_real", "n_synth")
        .select(round(col("mmd2"), 8).as("mmd2"),
          round(col("gamma"), 8).as("gamma"), col("n_real"), col("n_synth"))
    }),

    // ── C9 PER-GROUP: Gaussian-kernel MMD² per embedding label — the
    //    many-series twin of c02: per-(label, half) ordered-prefix caps
    //    bound the quadratic kernel per group, one exchange on the
    //    label, kernel sums in-task in i-major fold order ──────────────
    "c02b_mmd_per_label" -> ((s, dir) => {
      val e = emb(s, dir)
        .select(col("label"), col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      graft.stats.Mmd.sampledGrouped(
          e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
          "label", Seq("vec_id"), "v", maxRows = 100)
        .select(col("label"), round(col("mmd2"), 8).as("mmd2"),
          round(col("gamma"), 8).as("gamma"), col("n_real"), col("n_synth"))
        .orderBy(col("label"))
    }),

    // ── W13 witness: crossfade stitch over 100-row blocks of the global
    //    return series (pure window arithmetic, fully distributed) ─────
    // ── W15: classical additive seasonal decomposition per series —
    //    centered 7-point MA trend, zero-sum per-phase seasonal,
    //    residual; one series-keyed shuffle + a tiny (series, phase)
    //    agg joined back ─────────────────────────────────────────────
    "w15_seasonal_decompose" -> ((s, dir) => {
      SeriesOps.seasonalDecompose(ev(s, dir), perUser, "value",
          period = 7)
        .select(col("user_id"), col("rn"), col("trend"),
          col("seasonal"), col("resid"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── C-family: Ljung–Box whiteness test on per-user log-returns,
    //    h=10 (even → closed-form chi-square survival, exact in both
    //    engines) ────────────────────────────────────────────────────
    "c03_ljung_box" -> ((s, dir) => {
      SeriesStats.ljungBox(
          logret(s, dir).filter(col("ret").isNotNull),
          perUser, "ret", h = 10)
        .select(col("user_id"), col("n_obs"), col("q_stat"),
          col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: McLeod–Li ARCH-effect test — the c03 portmanteau on
    //    SQUARED log-returns (McLeod & Li 1983); a small p says
    //    volatility clusters, i.e. the GARCH surface (q29/g05)
    //    actually applies to this series ───────────────────────────────
    // ── t37: winnow-fingerprint decontamination — the MOSS-guarantee
    //    sketch tier of t01 over the same even/odd fixture ─────────────
    "t37_winnow_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TextOps.winnowContamination(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, win = 4, seed = 34, minShared = 2)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ── p04: token-collocation triangles — degree-oriented triangle
    //    counting + local clustering coefficient over the top-64-token
    //    co-occurrence graph (edge = co-occur in ≥5 docs) ──────────────
    "p04_token_triangles" -> ((s, dir) => {
      val d = docs(s, dir)
      val tok = graft.text.TextOps.tokens(d, "text")
        .select(col("doc_id"), col("token"))
      val top = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("token")).limit(64)
        .select(col("token"))
      val dt = tok.join(broadcast(top), "token").distinct()
      val pairs = dt.as("l").join(dt.as("r"),
          col("l.doc_id") === col("r.doc_id") &&
            col("l.token") < col("r.token"))
        .groupBy(col("l.token").as("t1"), col("r.token").as("t2"))
        .agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") >= 5)
      graft.text.Dedup.triangleCounts(pairs, "t1", "t2")
        .orderBy(col("node"))
    }),

    // ── c15: trend/seasonal strength (Wang–Smith–Hyndman) over the
    //    w15 decomposition — the forecasting-report feature pair ───────
    "c15_decomp_strength" -> ((s, dir) => {
      SeriesStats.decompositionStrength(ev(s, dir), perUser, "value",
          period = 7)
        .select(col("user_id"), col("n_obs"), col("f_trend"),
          col("f_seasonal"))
        .orderBy(col("user_id"))
    }),

    // ── c14: Wilcoxon rank-sum drift — the rank-based robust twin of
    //    c07 Welch between the chronological halves ────────────────────
    "c14_rank_sum_drift" -> ((s, dir) => {
      SeriesStats.rankSumDrift(
          logret(s, dir).filter(col("ret").isNotNull), perUser, "ret")
        .select(col("user_id"), col("n1"), col("n2"), col("u_stat"),
          col("z_score"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── c16: Cramér–von Mises two-sample drift — the ECDF-integral
    //    complement to c07/c14 between the chronological halves;
    //    Anderson's rank formula, exact-integer Σ(r−i)² ──────────────
    "c16_cvm_drift" -> ((s, dir) => {
      SeriesStats.cvmDrift(
          logret(s, dir).filter(col("ret").isNotNull), perUser, "ret")
        .select(col("user_id"), col("n1"), col("n2"), col("u_stat"),
          col("t_stat"))
        .orderBy(col("user_id"))
    }),

    // ── c12: Pettitt change-point — rank-telescoped U_t (keyed
    //    windows only, no pair sweep), K/τ/p per user over value ──────
    "c12_pettitt" -> ((s, dir) => {
      SeriesStats.pettitt(ev(s, dir), perUser, "value")
        .select(col("user_id"), col("n_obs"), col("k_stat"),
          col("tau"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── c13: Anderson–Darling normality on per-user log-returns —
    //    the tail-weighted complement to c04 Jarque–Bera ──────────────
    "c13_anderson_darling" -> ((s, dir) => {
      SeriesStats.andersonDarling(
          logret(s, dir).filter(col("ret").isNotNull), perUser, "ret")
        .select(col("user_id"), col("n_obs"), col("a2_stat"),
          col("a2_mod"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    "c11_arch_lb" -> ((s, dir) => {
      SeriesStats.ljungBox(
          logret(s, dir).filter(col("ret").isNotNull)
            .withColumn("ret2", col("ret") * col("ret")),
          perUser, "ret2", h = 10)
        .select(col("user_id"), col("n_obs"), col("q_stat"),
          col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: Jarque–Bera normality test on per-user log-returns
    //    — χ²₂ survival is exactly exp(−JB/2), closed-form in both
    //    engines; the companion to c03's whiteness ───────────────────
    "c04_jarque_bera" -> ((s, dir) => {
      SeriesStats.jarqueBera(logret(s, dir), perUser, "ret")
        .select(col("user_id"), col("n"),
          round(col("skew"), 6).as("skew"),
          round(col("kurt_excess"), 6).as("kurt_excess"),
          round(col("jb_stat"), 6).as("jb_stat"),
          round(col("p_value"), 6).as("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: Wald–Wolfowitz sign-runs randomness test on per-user
    //    log-returns — zero-crossing signs (integer-deterministic cut),
    //    two-sided normal p via the A&S erfc Horner chain mirrored in
    //    the oracle; completes the c03/c04 diagnostic trio ────────────
    "c06_runs_test" -> ((s, dir) => {
      SeriesStats.runsTest(logret(s, dir), perUser, "ret")
        .select(col("user_id"), col("n_pos"), col("n_neg"),
          col("n_runs"), col("z_score"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: CUSUM drift statistic on per-user log-returns —
    //    max/min excursion of the centered cumulative sum plus the
    //    Brownian-bridge rescaled range; sees a break ANYWHERE (the
    //    c07 midpoint test's complement) ──────────────────────────────
    "c08_cusum" -> ((s, dir) => {
      SeriesStats.cusum(
          logret(s, dir).filter(col("ret").isNotNull), perUser, "ret")
        .select(col("user_id"), col("n_obs"), col("cusum_max"),
          col("cusum_min"), col("rr_stat"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: KPSS level-stationarity test on per-user
    //    log-returns — the ADF complement (null = stationary);
    //    Bartlett long-run variance at the statsmodels-legacy
    //    bandwidth, table-interpolated p clamped to [0.01, 0.10] ─────
    "c10_kpss" -> ((s, dir) => {
      SeriesStats.kpss(logret(s, dir), perUser, "ret")
        .select(col("user_id"), col("n_obs"), col("n_lags"),
          col("kpss_stat"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: Mann–Kendall monotonic-trend test + Sen's slope on
    //    per-user log-returns — pairwise sign statistic with tie
    //    correction, continuity-corrected z, A&S erfc p; the
    //    "is there a trend" complement to c08's break detection.
    //    One series-keyed exchange, O(n²) pair sweep in-task ─────────
    "c09_mann_kendall" -> ((s, dir) => {
      SeriesStats.mannKendall(logret(s, dir), perUser, "ret")
        .select(col("user_id"), col("n_obs"), col("s_stat"),
          col("z_score"), col("p_value"), col("sen_slope"))
        .orderBy(col("user_id"))
    }),

    // ── C-family: Welch two-sample drift test on per-user log-returns
    //    — chronological first vs second half, Welch–Satterthwaite df,
    //    two-sided normal-approx p (halves ≥30 obs); completes the
    //    c03 whiteness / c04 normality / c06 randomness panel ────────
    "c07_welch_drift" -> ((s, dir) => {
      SeriesStats.welchDrift(
          logret(s, dir).filter(col("ret").isNotNull), perUser, "ret")
        .select(col("user_id"), col("n1"), col("n2"), col("mean_diff"),
          col("t_stat"), col("df_w"), col("p_value"))
        .orderBy(col("user_id"))
    }),

    // ── t32: per-doc character Shannon entropy — the gibberish /
    //    encoding-noise quality signal; ZERO shuffle (in-task
    //    sorted-array run-length fold, no char histogram ever
    //    materialized) ────────────────────────────────────────────────
    "t32_char_entropy" -> ((s, dir) => {
      graft.text.TextOps.charEntropy(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_chars_h"), col("n_uniq"),
          col("entropy"))
        .orderBy(col("doc_id"))
    }),

    // ── t33: Heaps-law vocabulary-growth fit — V(N) ≈ K·N^β over
    //    per-doc cumulative (tokens, new types); t31's companion ──────
    "t33_heaps_fit" -> ((s, dir) => {
      graft.text.TextOps.heapsFit(docs(s, dir), "doc_id", "text")
    }),

    // ── t34: robust-winnowing fingerprints (MOSS) — per-doc digest of
    //    the k=8/w=4 rightmost-min selection set; any shared substring
    //    of length ≥ 11 guarantees a shared fingerprint ────────────────
    "t34_winnowing" -> ((s, dir) => {
      graft.text.TextOps.winnowFingerprints(
          docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── t35: Flesch / Flesch–Kincaid readability — the fixture
    //    synthesizes sentence breaks (a period before three common
    //    corpus words) so the sentence term is non-degenerate; all
    //    three counts are regexp_count/regexp_extract_all pairs ────────
    "t35_readability" -> ((s, dir) => {
      val body = regexp_replace(col("text"),
        " (table|value|key) ", ". $1 ")
      graft.text.TextOps.readability(
          docs(s, dir).select(col("doc_id"), body.as("body")),
          "doc_id", "body")
        .orderBy(col("doc_id"))
    }),

    // ── t36: corpus-pair bigram overlap matrix — distinct word
    //    bigrams per source, |A∩B| / Jaccard / containments for all
    //    20·19/2 source pairs; the "did the generator memorize its
    //    seed corpus" divergence check ──────────────────────────────────
    "t36_ngram_overlap" -> ((s, dir) => {
      graft.text.TextOps.ngramOverlapByGroup(
          docs(s, dir).select(col("source"), col("text")),
          "source", "text")
        .orderBy(col("group_a"), col("group_b"))
    }),

    // ── t31: Zipf rank-frequency fit — corpus-level exponent α and
    //    fit r² from an OLS of ln(freq) on ln(rank); the
    //    training-data-report diagnostic of vocabulary shape ─────────
    "t31_zipf_fit" -> ((s, dir) => {
      graft.text.TextOps.zipfFit(docs(s, dir), "text", maxRank = 1000)
        .select(col("n_terms"), round(col("alpha"), 6).as("alpha"),
          round(col("r2"), 6).as("r2"))
    }),

    // ── W16: exponentially-weighted moving average per series —
    //    pandas ewm(adjust=True) truncated at k=20 lags (≤1.2% mass at
    //    q=0.8), so both engines evaluate the identical Horner chain;
    //    one series-keyed window shuffle ───────────────────────────────
    "w16_ewma" -> ((s, dir) => {
      SeriesOps.ewma(ev(s, dir), perUser, "value", q = 0.8, k = 20)
        .withColumn("rn", row_number().over(perUser.w))
        .select(col("user_id"), col("rn"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id"), col("rn"))
    }),

    "w13_crossfade" -> ((s, dir) => {
      val r = SeriesOps.logReturns(ev(s, dir), global, "value", "ret")
        .filter(col("ret").isNotNull)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") <= 600)
        .withColumn("block", expr("(rn - 1) div 100").cast("int"))
        .withColumn("pos", (col("rn") - 1) % 100)
      SeriesOps.crossfadeStitch(r, SeriesSpec(Nil, Seq("rn")), "ret",
          "block", "pos", overlap = 10)
        .select(col("rn"), round(col("stitched"), 8).as("stitched"))
        .orderBy(col("rn"))
    }),

    // ── W14 witness: seeded AR(1) endpoint-pinned bridge from literal
    //    params — the polar nextGaussian stream + noise recursion are
    //    replayed exactly by the oracle ────────────────────────────────
    "w14_ar_bridge" -> ((s, dir) => {
      import s.implicits._
      val v = SeriesOps.arBridge(from = 0.02, to = -0.015, length = 64,
        phi = 0.6, sigma = 0.05, seed = 21L)
      v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
        .toDF("i", "v")
        .select(col("i"), round(col("v"), 8).as("v"))
        .orderBy(col("i"))
    }),

    // ── J4 (beyond reference): as-of join — every odd event aligned to
    //    the most recent even event of the same user (right side
    //    pre-aggregated per (user, ts) so the match is well-defined);
    //    one hash shuffle on the key, oracled by DuckDB's native
    //    ASOF LEFT JOIN ─────────────────────────────────────────────────
    "a01_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val right = e.filter(col("event_id") % 2 === 0)
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("rv"))
      val left = e.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.series.AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "rv")
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value"),
          round(col("asof_value"), 6).as("asof_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Range join (beyond reference): point-in-interval lookup with
    //    NO cartesian / nested-loop plan — bucket-quantized equi-join
    //    (one hash shuffle per side) + residual BETWEEN filter. Every
    //    1-in-50 event becomes a ±5 value band; all other events of the
    //    same user that price inside the band are matched ──────────────
    "a05_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val right = e.filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("event_id").as("r_id"),
          (col("value") - 5.0).as("lo"), (col("value") + 5.0).as("hi"))
      val left = e.filter(col("event_id") % 50 =!= 0)
        .select(col("user_id"), col("event_id").as("l_id"),
          col("value").as("p"))
      graft.series.RangeJoin.pointInInterval(
          left, right, Seq("user_id"), "p", "lo", "hi", bucketWidth = 10.0)
        .select(col("user_id"), col("l_id"), col("r_id"),
          round(col("p"), 6).as("p"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
        .orderBy(col("user_id"), col("l_id"), col("r_id"))
    }),

    // ── Sessionization (beyond reference): gap-based session ids per
    //    user — one keyed window pass, µs-exact gap comparison ──────────
    "a02_sessionize" -> ((s, dir) => {
      SeriesOps.sessionize(ev(s, dir), perUser, "ts", gapSeconds = 1800)
        .select(col("user_id"), col("event_id"), col("session_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ── Deterministic hash split (beyond reference): stable md5-bucket
    //    train/val/test assignment, pure map-side ────────────────────────
    "a03_hash_split" -> ((s, dir) => {
      graft.core.ScaleOps.hashSplit(docs(s, dir), "doc_id", salt = 7,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ── Deterministic stratified sampling (beyond reference): per-lang
    //    keep fractions via the a03 hash buckets, map-side ──────────────
    "a04_stratified_sample" -> ((s, dir) => {
      graft.core.ScaleOps.stratifiedSample(docs(s, dir), "doc_id", "lang",
          salt = 11, fractions = Map("en" -> 0.5, "es" -> 0.25))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ── Deterministic k-per-key sampling: cap docs per (lang, source)
    //    domain by salted-hash rank — the per-domain example cap of
    //    corpus curation; one keyed window pass, rerun-stable ──────────
    "a07_sample_per_key" -> ((s, dir) => {
      graft.core.ScaleOps.sampleKPerKey(
          docs(s, dir).withColumn("domain",
            concat_ws("/", col("lang"), col("source"))),
          "doc_id", "domain", k = 3, salt = 13)
        .select(col("domain"), col("doc_id"))
        .orderBy(col("domain"), col("doc_id"))
    }),

    // ── Cross-doc span dedup: every doc gets the same 12-token
    //    boilerplate header prepended (the license-block shape), span
    //    dedup keeps its first occurrence only and reassembles ──────────
    "d05_span_dedup" -> ((s, dir) => {
      val hdr = "standard license header boilerplate block repeated " +
        "across documents in this corpus exactly"
      val d = docs(s, dir).select(col("doc_id"),
        concat(lit(hdr + " "), col("text")).as("text"))
      graft.text.Dedup.spanDedup(d, "doc_id", "text", blockTokens = 12)
        .orderBy(col("doc_id"))
    }),

    // ── FUZZY span dedup: every doc gets a 12-token boilerplate block
    //    whose FIRST token varies (v0/v1/v2 by doc_id%3) — exact span
    //    dedup (d05) is blind across variants; the MinHash span frame
    //    clusters them (1-token edit ⇒ shingle Jaccard 9/11) and keeps
    //    the (doc, blk)-minimum copy ─────────────────────────────────────
    "d06_fuzzy_span_dedup" -> ((s, dir) => {
      val hdr = "standard license header boilerplate block repeated " +
        "across documents in corpus exactly"
      val d = docs(s, dir).select(col("doc_id"),
        concat(lit("v"), (col("doc_id") % 3).cast("string"),
          lit(" " + hdr + " "), col("text")).as("text"))
      graft.text.Dedup.fuzzySpanDedup(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── EXACT-SUBSTRING duplicated intervals (Lee et al. shape):
    //    duplicated-8-gram runs collapsed into maximal intervals ≥ 20
    //    tokens at ARBITRARY boundaries — the fixture's replicated
    //    passages surface at whatever offset they sit, no block
    //    alignment needed ────────────────────────────────────────────────
    "d09_substring_dedup" -> ((s, dir) => {
      graft.text.Dedup.substringSpans(docs(s, dir), "doc_id", "text",
          k = 8, minSpanTokens = 20)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ── d09f: FUZZY substring spans — gap-bridged run collapse (gaps
    //    ≤ k merge, so a single edited token inside a duplicated
    //    passage no longer splits the interval below threshold) ─────────
    "d09f_substring_fuzzy" -> ((s, dir) => {
      graft.text.Dedup.substringSpans(docs(s, dir), "doc_id", "text",
          k = 8, minSpanTokens = 20, bridgeGap = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ── t23: exact-substring DECONTAMINATION — maximal intervals of an
    //    even-doc "train" corpus whose every 8-gram occurs in the
    //    odd-doc "benchmark" set (the t01 split), ≥ 20 tokens; span
    //    evidence for cut-vs-drop decisions ─────────────────────────────
    "t23_substring_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.Dedup.substringContamination(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, minSpanTokens = 20)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ── t24: C4-style LINE filter — the fixture has no newlines, so
    //    each doc is first shaped into a deterministic multi-line body
    //    (100-char content chunks, terminal '.' on i%3≠0, plus a
    //    blocklisted boilerplate line, a too-short line, and a unique
    //    closing line) exercising all three rules; the op then gates
    //    lines on min-words / terminal-punct / blocklist ───────────────
    "t24_line_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val nc = ceil(length(col("text")) / lit(100.0)).cast("int")
      val content = transform(sequence(lit(0), nc - 1), i =>
        concat(col("text").substr(i * lit(100) + lit(1), lit(100)),
          when(i % 3 =!= 0, lit(".")).otherwise(lit(""))))
      val withBody = d.withColumn("body", concat(
        concat_ws("\n", content), lit("\n"),
        lit("please enable javascript and accept our cookie policy."),
        lit("\n"), lit("ok then."), lit("\n"),
        concat(lit("doc "), col("doc_id").cast("string"),
          lit(" summary ends here."))))
      graft.text.TextOps.lineFilter(withBody, "doc_id", "body",
          minWords = 3, requireTerminal = true,
          blocklist = Seq("javascript", "cookie", "{"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("clean"))
        .orderBy(col("doc_id"))
    }),

    // ── t25: cross-doc repeated-LINE removal (CCNet/RefinedWeb
    //    boilerplate dedup) — same synthetic multi-line body as t24;
    //    the two boilerplate lines recur in EVERY doc (df = n_docs) and
    //    vanish corpus-wide, low-df prose survives. The computed body
    //    stays LIVE deliberately: a localCheckpoint before the explode
    //    was measured to only inflate the 1× base (0.53→0.85 s) while
    //    leaving the 10×-doclen absolute unchanged (1.96 vs 2.00 s) —
    //    the elevated doclen ratio is a small-base artifact, not a
    //    Generate re-evaluation pathology (absolute 10× growth is
    //    3.7×, sublinear) ───────────────────────────────────────────────
    "t25_line_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val nc = ceil(length(col("text")) / lit(100.0)).cast("int")
      val content = transform(sequence(lit(0), nc - 1), i =>
        concat(col("text").substr(i * lit(100) + lit(1), lit(100)),
          when(i % 3 =!= 0, lit(".")).otherwise(lit(""))))
      val withBody = d.withColumn("body", concat(
        concat_ws("\n", content), lit("\n"),
        lit("please enable javascript and accept our cookie policy."),
        lit("\n"), lit("ok then."), lit("\n"),
        concat(lit("doc "), col("doc_id").cast("string"),
          lit(" summary ends here."))))
        .select(col("doc_id"), col("body"))
      graft.text.TextOps.dedupLines(withBody, "doc_id", "body",
          maxDf = 5)
        .orderBy(col("doc_id"))
    }),

    // ── b01: in-engine BPE tokenizer TRAINING — corpus touched once
    //    (word-count agg), then 8 integer-exact merges elected in
    //    batches on the vocabulary frame (the oracle replays them one
    //    election at a time); the model (merge table) is the only
    //    driver state ──────────────────────────────────────────────────
    "b01_bpe_train" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      import s.implicits._
      merges.map(m => (m.rank, m.left, m.right, m.merged, m.pairCount))
        .toDF("rank", "left", "right", "merged", "pair_count")
        .orderBy(col("rank"))
    }),

    // ── b02: BPE ENCODE with the b01 merges — the one encode loop
    //    (mapPartitions over a broadcast merge table, per-task word
    //    cache); map-side, zero shuffles. The oracle replays it as the
    //    rank-ordered replace chain ───────────────────────────────────
    "b02_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      graft.text.Bpe.encodeFast(d, "text", merges)
        .select(col("doc_id"), col("n_tokens_bpe"), col("encoded"))
        .orderBy(col("doc_id"))
    }),

    // ── b03: tokenizer-feed-ready INTEGER ids — the b01 merges induce
    //    a vocabulary (RESERVED specials <pad>/<bos>/<eos>/<unk> at ids
    //    0..3 — the artifact contract every packer/trainer specifies —
    //    then chars sorted, then merges in rank order) and every
    //    encoded symbol maps through a typedLit literal; still
    //    map-side, exploded to the packer-consumable shape ─────────────
    "b03_bpe_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      // batched trainer: bit-identical merges (b01p-gated), ~2 jobs not 8
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val v = graft.text.Bpe.vocab(d, "text", merges, reservedTokens)
      graft.text.Bpe.encodeIds(d, "doc_id", "text", merges, v)
        .select(col("doc_id"), col("pos"), col("symbol"),
          col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ── t09b: sequence packing over the REAL tokenizer feed — each
    //    doc costs its b03 token count plus one <eos> (reserved id 2),
    //    and the output is the packed id stream itself: per-shard
    //    greedy budget fill, every document terminated by its eos row ──
    "t09b_pack_token_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      // batched trainer: bit-identical merges (b01p-gated), ~2 jobs not 8
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val v = graft.text.Bpe.vocab(d, "text", merges, reservedTokens)
      graft.text.TextOps.packTokenIds(d, "doc_id", "source", "text",
          merges, v, budget = 256L, eosId = 2)
        .orderBy(col("source"), col("seq_id"), col("seq_pos"))
    }),

    // ── a16: URL canonicalization — deterministic variant URLs (case,
    //    default/explicit ports, userinfo, tracking params at every
    //    query position, fragments, root slash, junk) normalize to
    //    canonical keys; variants 0/1 and 2/3 are built to COLLIDE ─────
    "a16_url_normalize" -> ((s, dir) => {
      val k = (col("doc_id") % 7).cast("string")
      val v = col("doc_id") % 8
      val url = when(v === 0, concat(lit("https://WWW.Site"), k,
          lit(".COM:443/path?utm_source=x&a=1#frag")))
        .when(v === 1, concat(lit("https://www.site"), k,
          lit(".com/path?a=1")))
        .when(v === 2, concat(lit("http://u:p@site"), k,
          lit(".org:80/")))
        .when(v === 3, concat(lit("http://site"), k, lit(".org")))
        .when(v === 4, concat(lit("https://site"), k,
          lit(".net:8443/p?gclid=99&b=2&utm_medium=m")))
        .when(v === 5, concat(lit("not a url "), k))
        .when(v === 6, concat(lit("https://site"), k,
          lit(".com/p/?ref=tw")))
        .otherwise(concat(lit("ftp://Site"), k, lit(".Io/Path/#f")))
      docs(s, dir).select(col("doc_id"), url.as("url"))
        .withColumn("url_norm",
          graft.text.UrlOps.urlNormalize(col("url")))
        .orderBy(col("doc_id"))
    }),

    // ── t25b: per-collection line dedup — df counted within `source`;
    //    the corpus-wide boilerplate lines still clear maxDf inside
    //    every source (each source holds ≥ maxDf docs), while content
    //    chunks shared ACROSS sources no longer pool their counts ──────
    "t25b_line_dedup_by" -> ((s, dir) => {
      val d = docs(s, dir)
      val nc = ceil(length(col("text")) / lit(100.0)).cast("int")
      val content = transform(sequence(lit(0), nc - 1), i =>
        concat(col("text").substr(i * lit(100) + lit(1), lit(100)),
          when(i % 3 =!= 0, lit(".")).otherwise(lit(""))))
      val withBody = d.withColumn("body", concat(
        concat_ws("\n", content), lit("\n"),
        lit("please enable javascript and accept our cookie policy."),
        lit("\n"), lit("ok then."), lit("\n"),
        concat(lit("doc "), col("doc_id").cast("string"),
          lit(" summary ends here."))))
        .select(col("doc_id"), col("source"), col("body"))
      graft.text.TextOps.dedupLinesBy(withBody, "doc_id", "source",
          "body", maxDf = 5)
        .orderBy(col("doc_id"))
    }),

    // ── b01p: the b01 trainer at electBatch=3 replaying the b01
    //    oracle verbatim: the conflict-free prefix rule makes batching
    //    bit-identical to the sequential greedy, and this entry is the
    //    gate's witness that forces multi-round batching with
    //    sentinel truncation on the fixture ───────────────────────────
    "b01p_bpe_train_batched" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8,
        electBatch = 3)
      bpeOracleGuard(merges, 8)
      import s.implicits._
      merges.map(m => (m.rank, m.left, m.right, m.merged, m.pairCount))
        .toDF("rank", "left", "right", "merged", "pair_count")
        .orderBy(col("rank"))
    }),

    // ── b02p: the same production encode as b02 (greedy scan over a
    //    broadcast merge-rank map, per-word cost independent of
    //    |merges|), kept under its own gated name; it replays the b02
    //    oracle verbatim ────────────────────────────────────────────────
    "b02p_bpe_encode_fast" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      graft.text.Bpe.encodeFast(d, "text", merges)
        .select(col("doc_id"), col("n_tokens_bpe"), col("encoded"))
        .orderBy(col("doc_id"))
    }),

    // ── t29: Unicode NFC normalization — composed vs decomposed forms
    //    of the same visible text (é vs e+U+0301) converge; docs at
    //    %3∈{0,1} end byte-identical after normalization, the changed
    //    flag marks exactly the decomposed third ──────────────────────
    "t29_nfc_normalize" -> ((s, dir) => {
      val tail = element_at(array(
        lit(" café résumé"),
        lit(" café résumé"),
        lit(" plain ascii")), (col("doc_id") % 3).cast("int") + 1)
      graft.text.TextOps.nfcNormalizeFrame(
          docs(s, dir).select(col("doc_id"),
            concat(col("text"), tail).as("body")),
          "doc_id", "body")
        .select(col("doc_id"), col("normalized"), col("changed"))
        .orderBy(col("doc_id"))
    }),

    // ── t29b: Unicode NFKC — compatibility forms (fullwidth latin +
    //    digits, ﬁ/ﬂ ligatures, squared units, plus one decomposed
    //    accent) collapse onto their plain twins; NFC alone leaves
    //    all but the accent byte-distinct. The ja/zh-crawl
    //    normalization mode ─────────────────────────────────────────
    "t29b_nfkc_normalize" -> ((s, dir) => {
      val tail = element_at(array(
        lit(" Ｇｒａｆｔ ５０％ faster"),
        lit(" the ﬁrst ﬂoor"),
        lit(" ５㎞ in ㎡ units"),
        lit(" cafe" + 0x301.toChar + " visit"),
        lit(" plain ascii")), (col("doc_id") % 5).cast("int") + 1)
      graft.text.TextOps.nfcNormalizeFrame(
          docs(s, dir).select(col("doc_id"),
            concat(col("text"), tail).as("body")),
          "doc_id", "body", form = "NFKC")
        .select(col("doc_id"), col("normalized"), col("changed"))
        .orderBy(col("doc_id"))
    }),

    // ── t28: HTML stripping — the fixture wraps each doc's text in a
    //    deterministic page (head with style+script, headings, a
    //    comment, entities); script/style contents and tags must
    //    vanish, entities decode single-pass, prose survives ──────────
    "t28_html_strip" -> ((s, dir) => {
      val body = concat(
        lit("<html><head><style>p{color:red}</style>"),
        lit("<script>var x=1;</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1>\n<p class=\"a\">"), col("text"),
        lit("</p><!-- hidden --><br/>&amp; &lt;tag&gt; "),
        lit("&quot;q&quot;&nbsp;&#39;s</body></html>"))
      graft.text.TextOps.htmlStripFrame(
          docs(s, dir).select(col("doc_id"), body.as("body")),
          "doc_id", "body")
        .select(col("doc_id"), col("clean"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ── t26: script-aware language ID — deterministic multilingual
    //    fixture (doc_id%9 selects a latin / CJK / kana / hangul /
    //    cyrillic / devanagari / greek / hebrew / thai sample);
    //    codepoint-RANGE counts replay identically in Java regex and
    //    RE2, argmax ties break on class name ──────────────────────────
    "t26_langid_script" -> ((s, dir) => {
      val samples = Seq(
        "the quick brown fox jumps over the lazy dog",
        "这 是 一个 中文 句子 我们 在 训练 数据 管道 里 检测 语言 使用 汉字",
        "これ は にほんご の ぶん です かな が とても おおい 日本語",
        "이것 은 한국어 문장 입니다 언어 감지 테스트 입니다",
        "это русское предложение для проверки определения языка",
        "यह भाषा पहचान की जाँच के लिए एक हिंदी वाक्य है",
        "αυτή είναι μια ελληνική πρόταση για τον έλεγχο της γλώσσας",
        "זה משפט בעברית לבדיקת זיהוי השפה שלנו",
        "นี่คือประโยคภาษาไทยสำหรับการตรวจสอบภาษา")
      val body = element_at(
        array(samples.map(lit): _*), (col("doc_id") % 9).cast("int") + 1)
      graft.text.TextOps.langIdScript(
          docs(s, dir).select(col("doc_id"), body.as("body")),
          "doc_id", "body")
        .orderBy(col("doc_id"))
    }),

    // ── t30: SAME-SCRIPT language ID — es/fr/pt held-out sentences
    //    (none in the training corpus) rotated by doc_id%6; the frozen
    //    hashed char-trigram multinomial scores replay in SQL via the
    //    256-row literal weight table, argmax ties break lang ASC ─────
    "t30_langid_trigram" -> ((s, dir) => {
      val samples = Seq(
        "la reunión de vecinos se celebra el jueves por la noche en el salón del ayuntamiento",
        "le médecin m'a dit que je devais me reposer quelques jours et boire beaucoup d'eau",
        "a reunião dos vizinhos realiza-se na quinta à noite no salão da junta",
        "el médico me dijo que debía descansar unos días y beber mucha agua",
        "la réunion des voisins aura lieu jeudi soir dans la salle de la mairie",
        "o médico disse-me que devia descansar uns dias e beber muita água")
      val body = element_at(
        array(samples.map(lit): _*), (col("doc_id") % 6).cast("int") + 1)
      graft.text.TextOps.langIdTrigram(
          docs(s, dir).select(col("doc_id"), body.as("body")),
          "doc_id", "body")
        .orderBy(col("doc_id"))
    }),

    // ── t27: CJK segmentation shim — unsegmented Han/kana text (the
    //    fixture strips spaces from mixed zh/ja samples) comes back
    //    char-tokenized with latin runs intact, so the whitespace
    //    token stack works on CJK corpora; hangul deliberately
    //    unsplit ──────────────────────────────────────────────────────
    "t27_cjk_segment" -> ((s, dir) => {
      val samples = Seq(
        "plain english stays words",
        "这是一个中文句子没有空格",
        "これはにほんごのぶんです日本語まじり",
        "mixed英文和中文text在一起",
        "한국어 문장 은 띄어쓰기 유지")
      val body = element_at(
        array(samples.map(lit): _*), (col("doc_id") % 5).cast("int") + 1)
      graft.text.TextOps.cjkSegmentFrame(
          docs(s, dir).select(col("doc_id"), body.as("body")),
          "doc_id", "body")
        .select(col("doc_id"), col("segmented"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── b05: sentencepiece-style ▁ word markers — boundaries live IN
    //    the symbols, so the encoded stream detokenizes by pure
    //    concatenation (decodeSp ∘ encodeSp == id, spec-pinned); the
    //    oracle replays both the marked trainer and the whole-stream
    //    encode (no trained merge can bridge a boundary: a right
    //    component starting with ▁ is untrainable) ─────────────────────
    "b05_bpe_sentencepiece" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainSp(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      graft.text.Bpe.encodeSp(d, "text", merges)
        .select(col("doc_id"), col("n_tokens_sp"), col("encoded_sp"))
        .orderBy(col("doc_id"))
    }),

    // ── b06: sentencepiece id sequences — the b05 stream through a
    //    marked-corpus vocabulary (▁ is a base character; word-initial
    //    symbols carry their own ids, the sentencepiece shape) ─────────
    "b06_bpe_sp_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainSp(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val marked = d.select(col("doc_id"),
        graft.text.Bpe.markWords(col("text")).as("sp"))
      val v = graft.text.Bpe.vocab(marked, "sp", merges, reservedTokens)
      graft.text.Bpe.encodeIdsSp(d, "doc_id", "text", merges, v)
        .select(col("doc_id"), col("pos"), col("symbol"),
          col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ── b04: tokenizer COVERAGE — the b01 tokenizer (trained on the
    //    clean corpus) scores a drifted copy (the t03 salt injects
    //    digits/@/./- the training alphabet never saw) and reports
    //    per-doc OOV mass ────────────────────────────────────────────────
    "b04_bpe_coverage" -> ((s, dir) => {
      val d = docs(s, dir)
      // batched trainer: bit-identical merges (b01p-gated), ~2 jobs not 8
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val v = graft.text.Bpe.vocab(d, "text", merges)
      val drifted = d.select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com or 415-555-"),
          lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"))
          .as("body"))
      graft.text.Bpe.coverageReport(drifted, "doc_id", "body", merges, v)
        .orderBy(col("doc_id"))
    }),

    // ── b10: tokenizer fertility report — per-language tokens/word
    //    and chars/token over the b02 encode (the eval every tokenizer
    //    paper tables; a language fertility ≫ corpus mean means the
    //    vocabulary under-serves that language) ─────────────────────────
    "b10_fertility" -> ((s, dir) => {
      val d = docs(s, dir)
      // batched trainer: bit-identical merges (b01p-gated), ~2 jobs not 8
      val merges = graft.text.Bpe.trainBatched(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val enc = graft.text.Bpe.encodeFast(d, "text", merges)
        .select(col("doc_id"), col("n_tokens_bpe").cast("long")
          .as("n_tok"))
      val base = d.select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long")
          .as("n_chars"))
      enc.join(base, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tok")).as("total_tokens"))
        .select(col("lang"), col("n_docs"), col("total_words"),
          col("total_chars"), col("total_tokens"),
          round(col("total_tokens").cast("double") /
            col("total_words").cast("double"), 6).as("fertility"),
          round(col("total_chars").cast("double") /
            col("total_tokens").cast("double"), 6)
            .as("chars_per_token"))
        .orderBy(col("lang"))
    }),

    // ── b07: BYTE-FALLBACK tokenizer — the corpus premaps to the
    //    GPT-2-style 256-surrogate byte alphabet under ▁ markers, so
    //    EVERY UTF-8 string tokenizes with zero OOV (the b04 gap,
    //    closed); coverage of a unicode-salted drifted corpus (accents,
    //    CJK, an astral-plane 𝄞 — none in the clean training text) is
    //    identically zero against the CLOSED byte vocabulary ──────────
    "b07_bpe_byte_fallback" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.trainBytes(d, "text", nMerges = 8)
      bpeOracleGuard(merges, 8)
      val v = graft.text.Bpe.byteVocab(merges)
      val drifted = d.select(col("doc_id"),
        concat(col("text"), lit(" café 日本語 𝄞 "),
          col("doc_id").cast("string")).as("body"))
      graft.text.Bpe.coverageReportBytes(drifted, "doc_id", "body",
          merges, v)
        .orderBy(col("doc_id"))
    }),

    // ── b08: unigram-LM Viterbi tokenization — frequency-seeded
    //    piece inventory (top-64 substrings + all chars, r6 log-probs)
    //    and per-word max-logprob/fewest-pieces DP; per-doc totals.
    //    The other major subword family next to BPE ─────────────────
    "b08_unigram_viterbi" -> ((s, dir) => {
      val d = docs(s, dir)
      val pieces = graft.text.Unigram.trainPieces(d, "text", topK = 64)
      graft.text.Unigram.encodeViterbi(d, "text", pieces)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("logprob"))
        .orderBy(col("doc_id"))
    }),

    // ── b09: WordPiece tokenization — the THIRD subword family next
    //    to BPE (b01..b07) and unigram-LM (b08): greedy longest-match
    //    with ##-continuation pieces and BERT's whole-word-[UNK]
    //    fallback; trained on the clean corpus, encoded over a drifted
    //    copy (accents + digits + an over-length word) so every [UNK]
    //    path fires. Integer outputs — exact parity by construction ──
    "b09_wordpiece" -> ((s, dir) => {
      val d = docs(s, dir)
      val pieces = graft.text.WordPiece.trainPieces(d, "text", topK = 64)
      val drifted = d.select(col("doc_id"),
        concat(col("text"), lit(" café naïve"),
          col("doc_id").cast("string"),
          lit(" supercalifragilistic")).as("body"))
      graft.text.WordPiece.encode(drifted, "body", pieces)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk"))
        .orderBy(col("doc_id"))
    }),

    // ── d09 CUT form: duplicated intervals grouped by slice content,
    //    keep-first election per content, losers' tokens removed and
    //    docs reassembled (the d05 output contract at arbitrary
    //    boundaries) ─────────────────────────────────────────────────────
    "d09c_substring_cut" -> ((s, dir) => {
      graft.text.Dedup.substringDedupCut(docs(s, dir), "doc_id", "text",
          k = 8, minSpanTokens = 20)
        .orderBy(col("doc_id"))
    }),

    // ── a14: URL/domain ops — deterministic synthetic URLs (the fixture
    //    carries none): scheme, optional www./userinfo/port variants to
    //    exercise the RE2 host extraction, 21 registrable domains from
    //    (doc_id%7, doc_id%3); rollup + 3-entry blocklist flag ──────────
    "a14_domain_rollup" -> ((s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (col("doc_id") % 3).cast("int") + 1)
      val u = concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0, lit("www.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("u:p@")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 7).cast("string"), lit("."), tld,
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"), lit("?q=x#f"))
      graft.text.UrlOps.domainRollup(
          docs(s, dir).withColumn("url", u), "doc_id", "url", "text",
          blocklist = Seq("site0.com", "site3.org", "site5.net"))
        .orderBy(col("domain"))
    }),

    // ── a14b: PSL-aware domain rollup — a caller-supplied public-
    //    suffix frame (co.uk / com.au / ac.uk / uk) keeps one extra
    //    label, so the seven site*.co.uk sites stay DISTINCT rollup
    //    keys where the two-label rule collapses them all into one
    //    "co.uk" row; the bare "uk" entry pins longest-suffix-wins.
    //    One broadcast equi-join per suffix depth ───────────────────────
    "a14b_domain_rollup_psl" -> ((s, dir) => {
      import s.implicits._
      val tld = element_at(array(lit("co.uk"), lit("com"),
        lit("com.au"), lit("org")), (col("doc_id") % 4).cast("int") + 1)
      val u = concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 7).cast("string"), lit("."), tld,
        lit("/p/"), col("doc_id").cast("string"))
      val suffixes = Seq("co.uk", "com.au", "ac.uk", "uk").toDF("suffix")
      graft.text.UrlOps.domainRollupPsl(
          docs(s, dir).withColumn("url", u), "doc_id", "url", "text",
          suffixes, blocklist = Seq("site0.co.uk", "site2.com"))
        .orderBy(col("domain"))
    }),

    // ── Deterministic exact-N sample: the 100 smallest salt-31 hash
    //    ranks — plans as TakeOrderedAndProject (per-partition top-n +
    //    bounded merge), never a full sort ───────────────────────────────
    "a09_sample_exact_n" -> ((s, dir) => {
      graft.core.ScaleOps.sampleExactN(docs(s, dir), "doc_id", n = 100,
          salt = 31)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── Mixture rebalancing sample: deterministic downsample so the
    //    output follows a target source mix (50/30/20 over three
    //    sources) — the pretraining data-mixture step ───────────────────
    "a08_mixture_sample" -> ((s, dir) => {
      graft.core.ScaleOps.mixtureSample(docs(s, dir), "doc_id", "source",
          salt = 23,
          target = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── a13: weighted sample without replacement (Efraimidis–Spirakis)
    //    — 100 docs with prob ∝ n_chars; ln(u)/w keys r12-rounded so
    //    cross-libm ln ulp cannot flip a rank ───────────────────────────
    "a13_weighted_sample" -> ((s, dir) => {
      graft.core.ScaleOps.weightedSampleN(docs(s, dir), "doc_id",
          greatest(col("n_chars"), lit(1L)).cast("double"), n = 100,
          salt = 37)
        .select(col("doc_id"), col("n_chars"), col("sample_key"))
        .orderBy(col("sample_key").desc, col("doc_id"))
    }),

    // ── a12: deterministic shard shuffle — the training-order
    //    permutation as (shard, pos) from the salted portable hash;
    //    per-SHARD windows only, never a global sort ────────────────────
    "a12_shard_shuffle" -> ((s, dir) => {
      graft.core.ScaleOps.shardShuffle(docs(s, dir), "doc_id",
          salt = 31, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // ── a17: curriculum ordering — short-to-long feed order inside
    //    hash-balanced shards, global stride index, no global sort ─────
    "a17_curriculum_order" -> ((s, dir) => {
      val d = docs(s, dir)
      val nTok = size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long")
      graft.core.ScaleOps.curriculumOrder(
          d.withColumn("n_tokens", nTok), "doc_id", col("n_tokens"),
          nShards = 8, salt = 31)
        .select(col("doc_id"), col("n_tokens"), col("shard"),
          col("pos"), col("global_pos"))
        .orderBy(col("doc_id"))
    }),

    // ── a17b: per-collection curriculum — shards and easy-to-hard
    //    rank within each source; one tenant's long docs never push
    //    another's to the back of the feed ──────────────────────────────
    "a17b_curriculum_by" -> ((s, dir) => {
      val d = docs(s, dir)
      val nTok = size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long")
      graft.core.ScaleOps.curriculumOrderBy(
          d.withColumn("n_tokens", nTok), "doc_id", "source",
          col("n_tokens"), nShards = 8, salt = 31)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("shard"), col("pos"), col("global_pos"))
        .orderBy(col("doc_id"))
    }),

    // ── t22: token frequency spectrum — Zipf/Heaps data card; one
    //    token-keyed agg + a 41-row broadcast bounds join (integer
    //    BETWEEN banding, no floor(log2) libm hazard) ───────────────────
    "t22_token_spectrum" -> ((s, dir) => {
      graft.text.TextOps.tokenSpectrum(docs(s, dir), "doc_id", "text")
        .orderBy(col("band"))
    }),

    // ── a11: temperature-scaled mixture — weights DERIVED from the
    //    observed source shares (w ∝ p^0.5, the multilingual
    //    temperature-sampling knob); sqrt is IEEE-exact so the derived
    //    weights replay bit-identically in the oracle ──────────────────
    "a11_temperature_mixture" -> ((s, dir) => {
      graft.core.ScaleOps.temperatureMixtureSample(docs(s, dir), "doc_id",
          "source", salt = 29, alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── a10: mixture over DISCOVERED domains — t17's frozen-centroid
    //    topics feed a08's deterministic mixture sampler, the "rebalance
    //    the corpus by topic" step when no source labels exist; the
    //    oracle replays topic assignment AND the per-key hash cut ──────
    "a10_topic_mixture" -> ((s, dir) => {
      // materialize the assignment ONCE: the mixture is a two-pass
      // algorithm (feasibility counts, then the hash-cut sample), and
      // composing both passes over the live topicAssign lineage fuses
      // the 64-sum embedding agg + argmin + when-chain cut into one
      // pathological stage (measured 8.5 s vs 0.45 s at sf0.1)
      val topics = graft.text.TextOps.topicAssign(docs(s, dir), "doc_id", "text")
        .withColumn("topic", col("topic").cast("string"))
        .localCheckpoint(true)
      graft.core.ScaleOps.mixtureSample(topics, "doc_id", "topic",
          salt = 23, target = Map("0" -> 0.5, "5" -> 0.3, "7" -> 0.2))
        .select(col("doc_id"), col("topic").cast("long").as("topic"))
        .orderBy(col("doc_id"))
    }),

    // ── A15/A16 witness: the reference's per-generator summary view
    //    (COUNT/ROUND(AVG)/GROUP BY — evaluate_all_generators.py:245-281)
    //    over a metrics frame derived from per-user event stats ────────
    "a15_generator_summary" -> ((s, dir) => {
      val metrics = ev(s, dir).groupBy(col("user_id"))
        .agg(
          (stddev_pop(col("value")) / avg(col("value"))).as("std_ratio"),
          ((max(col("value")) - min(col("value"))) /
            (avg(col("value")) + lit(1e-10))).as("js_divergence"),
          avg(col("value")).as("composite_score"))
        .withColumn("generator",
          concat(lit("g"), (col("user_id") % 3).cast("string")))
        .withColumnRenamed("user_id", "seed")
      graft.io.MetricsViews.register(s, metrics)
      graft.io.MetricsViews.summary(s)
        .orderBy(col("avg_js_div"), col("generator"))
    }),

    // ── C7 PER-SERIES: spectral distance computed fully IN-PLAN — each
    //    user's n-point power spectra by an in-partition Bluestein FFT
    //    (O(n log n) per series) after ONE exchange on the series key;
    //    `capped` flags any series whose half-length exceeded the
    //    per-task memory bound (prefix-DFT, never silent) ───────────────
    "c01b_spectral_per_user" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.stats.Spectral.distanceGrouped(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", Seq("ts", "event_id"), "value")
        .select(col("user_id"), col("k"),
          round(col("p_real"), 8).as("p_real"),
          round(col("p_synth"), 8).as("p_synth"),
          round(col("spectral_distance"), 8).as("spectral_distance"),
          col("capped"))
        .orderBy(col("user_id"), col("k"))
    }),

    // ── C10 PER-SERIES: every user's full GARCH(1,1) grid in one
    //    shuffle (series × config parallelism at scale) ─────────────────
    "q29b_garch_grid_per_user" -> ((s, dir) => {
      val rets = logret(s, dir).filter(col("ret").isNotNull)
      graft.stats.Garch.gridGrouped(rets, "user_id", Seq("ts", "event_id"), "ret")
        .select(col("user_id"), col("alpha"), col("beta"),
          round(col("omega"), 10).as("omega"),
          round(col("long_run_var"), 10).as("long_run_var"),
          round(col("ll"), 4).as("ll"))
        .orderBy(col("user_id"), col("alpha"), col("beta"))
    }),

    // ── G4 PER-SERIES fit: every user's normalized HMM feature frame in
    //    one shuffle on the series key (the grouped twin of g04f) ───────
    "g04b_regime_features_per_user" -> ((s, dir) => {
      graft.gen.RegimeConditional.featuresGrouped(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "value")
        .select(col("user_id"), col("rn"),
          round(col("f0"), 6).as("f0"), round(col("f1"), 6).as("f1"),
          round(col("f2"), 6).as("f2"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // ── G5 PER-SERIES fit: every user's per-REGIME GARCH grids — g03b
    //    labeling composed with the q29b machinery on the (user, regime)
    //    composite key ───────────────────────────────────────────────────
    "g05b_regime_garch_per_user" -> ((s, dir) => {
      graft.gen.RegimeConditional.regimeGarchGridGrouped(ev(s, dir), "user_id",
          Seq("ts", "event_id"), "value")
        .select(col("user_id"), col("regime"), col("alpha"), col("beta"),
          round(col("omega"), 10).as("omega"),
          round(col("long_run_var"), 10).as("long_run_var"),
          round(col("ll"), 4).as("ll"))
        .orderBy(col("user_id"), col("regime"), col("alpha"), col("beta"))
    }),

    // ── G6 PER-SERIES fit: vol-regime segmentation keyed on user — one
    //    shuffle segments every series at once ──────────────────────────
    "g03b_regime_segments_per_user" -> ((s, dir) => {
      graft.gen.RegimeBootstrap.fitFrameGrouped(ev(s, dir), "user_id",
        Seq("ts", "event_id"), "value", nRegimes = 3)
    }),

    // ── PER-SERIES composite core: the q31f component set per user
    //    (even/odd event split) — keyed JS/KS/autocorr/moment stages ───
    "q31b_composite_per_user" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.eval.CompositeMetric.scoreGrouped(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", Seq("ts", "event_id"), "value")
        .select(col("user_id"),
          round(col("js_divergence"), 8).as("js_divergence"),
          round(col("ks_statistic"), 8).as("ks_statistic"),
          round(col("ac_lag1"), 6).as("ac_lag1"),
          round(col("ac_lag5"), 6).as("ac_lag5"),
          round(col("ac_lag24"), 6).as("ac_lag24"),
          round(col("vol_cluster"), 6).as("vol_cluster"),
          round(col("skew_diff"), 6).as("skew_diff"),
          round(col("kurt_diff"), 6).as("kurt_diff"),
          round(col("std_ratio"), 6).as("std_ratio"))
        .orderBy(col("user_id"))
    }),

    // ── PER-SERIES FULL composite: all 11 reference components + the
    //    weighted composite_score per user — the formerly driver-bounded
    //    hurst (per-half grouped R/S) and spectral (per-series FFT) legs
    //    now keyed end-to-end. The score is recomputed here from the
    //    ROUNDED components in the reference's weight-table order so the
    //    weighted fold is bit-reproducible in both engines ─────────────
    "q31c_composite_full_per_user" -> ((s, dir) => {
      val e = ev(s, dir)
      val r = graft.eval.CompositeMetric.scoreGroupedFull(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", Seq("ts", "event_id"), "value")
        .select(col("user_id"),
          round(col("js_divergence"), 8).as("js_divergence"),
          round(col("ks_statistic"), 8).as("ks_statistic"),
          round(col("ac_lag1"), 6).as("ac_lag1"),
          round(col("ac_lag5"), 6).as("ac_lag5"),
          round(col("ac_lag24"), 6).as("ac_lag24"),
          round(col("hurst_diff"), 4).as("hurst_diff"),
          round(col("vol_cluster"), 6).as("vol_cluster"),
          round(col("spectral"), 8).as("spectral"),
          round(col("skew_diff"), 6).as("skew_diff"),
          round(col("kurt_diff"), 6).as("kurt_diff"),
          round(col("std_ratio"), 6).as("std_ratio"))
      val weighted = graft.eval.CompositeMetric.WeightOrder
        .map { case (c, wt) => col(c) * lit(wt) }.reduce(_ + _) /
        lit(graft.eval.CompositeMetric.WeightOrder.map(_._2).sum)
      r.withColumn("composite_score", round(weighted, 6))
        .orderBy(col("user_id"))
    }),

    // ── PER-SERIES DistributionEvaluator core: one metric record per
    //    user (real = even event_ids, synth = odd — a non-empty split
    //    within every series at every SF); every stage keyed on the
    //    series — the million-series evaluation shape ──────────────────
    "q30b_dist_per_user" -> ((s, dir) => {
      val e = ev(s, dir)
      // core + the ADF legs of the reference record (distribution_
      // evaluator.py:105-106) over ONE shared returns exchange; per
      // series: closed-form maxlag=2 witness (q30 carries the
      // maxlag=20 production path); same sid universe, lossless join
      graft.eval.DistributionEvaluator.evaluateGroupedWithAdf(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", Seq("ts", "event_id"), "value")
        .select(col("user_id"),
          round(col("kl_divergence"), 8).as("kl_divergence"),
          round(col("wasserstein_distance"), 6).as("wasserstein_distance"),
          round(col("real_return_mean"), 8).as("real_return_mean"),
          round(col("synthetic_return_mean"), 8).as("synthetic_return_mean"),
          round(col("real_return_std"), 8).as("real_return_std"),
          round(col("synthetic_return_std"), 8).as("synthetic_return_std"),
          round(col("real_autocorr_lag1"), 6).as("real_autocorr_lag1"),
          round(col("synthetic_autocorr_lag1"), 6).as("synthetic_autocorr_lag1"),
          round(col("real_autocorr_lag5"), 6).as("real_autocorr_lag5"),
          round(col("synthetic_autocorr_lag5"), 6).as("synthetic_autocorr_lag5"),
          round(col("real_autocorr_lag10"), 6).as("real_autocorr_lag10"),
          round(col("synthetic_autocorr_lag10"), 6).as("synthetic_autocorr_lag10"),
          round(col("quality_score"), 6).as("quality_score"),
          // _ml2 suffix: these legs use the closed-form maxlag=2 ADF, not
          // the reference's adfuller(maxlag=20, autolag=AIC) — per-series
          // values diverge whenever AIC would pick a lag > 2, so the
          // record field name must not imply reference parity (q30
          // carries the maxlag-20 production path)
          round(col("real_adf_pvalue"), 6).as("real_adf_pvalue_ml2"),
          round(col("synthetic_adf_pvalue"), 6).as("synthetic_adf_pvalue_ml2"))
        .orderBy(col("user_id"))
    }),

    // ── C5 PER-SERIES: closed-form ADF(maxlag=2, autolag=AIC) — τ,
    //    MacKinnon p and chosen lag for every (user, parity) series in
    //    one keyed pass (SeriesOps.runs after the
    //    returns window; no second exchange) ──────────────────────────
    "c05_adf_per_user" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.eval.DistributionEvaluator.adfGrouped(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", Seq("ts", "event_id"), "value")
        .select(col("user_id"),
          round(col("real_adf_tau"), 6).as("real_adf_tau"),
          round(col("real_adf_pvalue"), 6).as("real_adf_pvalue"),
          col("real_adf_lag"),
          round(col("synthetic_adf_tau"), 6).as("synthetic_adf_tau"),
          round(col("synthetic_adf_pvalue"), 6).as("synthetic_adf_pvalue"),
          col("synthetic_adf_lag"))
        .orderBy(col("user_id"))
    }),

    // ── DistributionEvaluator deterministic core (everything except the
    //    driver-side ADF leg, which q30 carries), oracle-checkable ─────
    "q30f_dist_core" -> ((s, dir) => {
      val e = ev(s, dir)
      graft.eval.DistributionEvaluator
        .evaluate(e.filter(col("user_id") % 2 === 0), e.filter(col("user_id") % 2 === 1),
          Seq("ts", "event_id"), "value", withAdf = false)
        .select(
          round(col("kl_divergence"), 8).as("kl_divergence"),
          round(col("wasserstein_distance"), 6).as("wasserstein_distance"),
          round(col("real_return_mean"), 8).as("real_return_mean"),
          round(col("synthetic_return_mean"), 8).as("synthetic_return_mean"),
          round(col("real_return_std"), 8).as("real_return_std"),
          round(col("synthetic_return_std"), 8).as("synthetic_return_std"),
          round(col("real_autocorr_lag1"), 6).as("real_autocorr_lag1"),
          round(col("synthetic_autocorr_lag1"), 6).as("synthetic_autocorr_lag1"),
          round(col("real_autocorr_lag5"), 6).as("real_autocorr_lag5"),
          round(col("synthetic_autocorr_lag5"), 6).as("synthetic_autocorr_lag5"),
          round(col("real_autocorr_lag10"), 6).as("real_autocorr_lag10"),
          round(col("synthetic_autocorr_lag10"), 6).as("synthetic_autocorr_lag10"),
          round(col("quality_score"), 6).as("quality_score"))
    })
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
