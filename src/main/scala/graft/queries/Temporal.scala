package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Baskets, Fences, Graph, Joins, Layout, Sampling, Sequences, Sketch, Stats, Temporal => TOps}

/** Temporal-join and sketch gate rows. The DuckDB oracles are
  * independent formulations: ASOF LEFT JOIN for the as-of operator
  * (DuckDB's native implementation vs our union–sort plan), a plain
  * inequality LEFT JOIN for the binned range join (DuckDB IEJoin vs
  * our bucket equi-join), and a full HUGEINT replay of the HLL
  * register pipeline (same splitmix64 chain as the sampling oracles).
  */
object Temporal {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val d2 = "decimal(18,2)"

  /** events.ts is long nanos under nanosAsLong (sf parquet), or a real
    * timestamp elsewhere — normalize to epoch seconds (integer math;
    * double division would round above 2^53 ns).
    */
  private def tsEpochSeconds(df: DataFrame): Column =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      expr("ts div 1000000000")
    else unix_timestamp(col("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Purchase attribution: every click/view gets the same user's most
    // recent purchase at-or-before it (left-outer as-of). The purchase
    // side is pre-reduced to one row per (user, second) by max
    // event_id so the as-of tie is deterministic.
    "join_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val l = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), secs.as("p_ts_s"),
          col("event_id"), col("value"))
        .groupBy(col("p_uid"), col("p_ts_s"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
      TOps.asOfJoin(l, r, "user_id", "p_uid", "ts_s", "p_ts_s",
        Seq("p_event_id", "p_value", "p_ts_s"))
    }),

    // Same attribution, broadcast formulation: packed version arrays +
    // the codegen'd as_of_pick binary search. Independent plan, same
    // oracle — two implementations must agree with DuckDB AND each
    // other.
    "join_asof_broadcast" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val l = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), secs.as("p_ts_s"),
          col("event_id"), col("value"))
        .groupBy(col("p_uid"), col("p_ts_s"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
      TOps.asOfJoinBroadcast(l, r, "user_id", "p_uid", "ts_s", "p_ts_s",
        Seq("p_event_id", "p_value", "p_ts_s"))
    }),

    // The same attribution through the `enrich.asof` CONFIG PLUGIN in
    // its STREAMING form: clicks/views arrive as a MemoryStream, the
    // purchase versions are the static parquet dimension, and the
    // processor's stream-static broadcast join enriches each record's
    // metadata with `asof.*` values per micro-batch. Same oracle as
    // join_asof_broadcast — the enrichment operator is oracle-checked
    // in both modes.
    "enrich_asof_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val input = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val dimDir = Fences.tempDir("asof_dim")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), secs.as("ts"),
          col("event_id"), col("value"))
        .groupBy(col("key"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
        .withColumn("p_ts_s", col("ts"))
        .write.mode("overwrite").parquet(dimDir)
      Twins.twoBatch(s, input, col("event_id") % 2 === 0) { in =>
        val proc = graft.ops.Registry.create("enrich.asof", Map(
          "key" -> ".Payload.After.user_id",
          "time" -> ".Payload.After.ts_s",
          "table" -> dimDir, "values" -> "p_event_id,p_value,p_ts_s"))
        // MemoryStream delivers each addData block as ONE partition —
        // a harness artifact (a real source is partitioned) that
        // serializes the per-record JSON wrap/parse work; repartition
        // restores source parallelism, results are row-identical
        proc(graft.model.Cdc.wrap(in.repartition(4), "event_id", "events"))
          .writeStream.format("memory")
          .queryName("enrich_asof_stream_out").outputMode("append")
      }
      val m = col(graft.model.Cdc.Metadata)
      val pa = col(graft.model.Cdc.PayloadAfter)
      s.table("enrich_asof_stream_out").select(
        get_json_object(pa, "$.user_id").cast("long").as("user_id"),
        get_json_object(pa, "$.event_id").cast("long").as("event_id"),
        get_json_object(pa, "$.ts_s").cast("long").as("ts_s"),
        m.getItem("asof.p_event_id").cast("long").as("p_event_id"),
        m.getItem("asof.p_value").cast("double").as("p_value"),
        m.getItem("asof.p_ts_s").cast("long").as("p_ts_s"))
    }),

    // Promo-window analysis: each high-value purchase opens a 1-hour
    // window; count/sum ALL events whose timestamp falls inside —
    // a pure range join (no equi-key), planned as a bucket equi-join
    // + residual instead of the nested-loop Spark would pick.
    // Left semantics via joining the window table back to the
    // aggregated pairs (empty windows keep n_events = 0).
    "join_range" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val e = ev.select(col("event_id"), col("event_type"), col("value"),
        secs.as("ts_s"))
      val promo = e.filter(col("event_type") === "purchase" && col("value") >= 140.0)
        .select(col("event_id").as("promo_id"), col("ts_s").as("w_start"),
          (col("ts_s") + 3600L).as("w_end"))
      val pts = e.select(col("event_id").as("e_id"), col("value").as("e_value"),
        col("ts_s").as("e_ts"))
      val pairs = TOps.rangeJoinBinned(pts, "e_ts", promo, "w_start", "w_end",
        bucketWidth = 3600L)
      val agg = pairs.groupBy(col("promo_id"))
        .agg(count(col("e_id")).as("_n"),
          sum(col("e_value").cast(d2)).as("_sv"))
      promo.join(agg, Seq("promo_id"), "left_outer")
        .select(col("promo_id"), col("w_start"),
          coalesce(col("_n"), lit(0L)).as("n_events"),
          coalesce(col("_sv"), lit(0).cast(d2)).cast("double").as("sum_value"))
    }),

    // HLL distinct users per event type (p=12, m=4096): small-range
    // linear-counting branch at every SF (≤150 users/type at sf0.01).
    "sketch_hll_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sketch.hllDistinct(ev, Seq("event_type"), "user_id")
    }),

    // Global HLL over documents.doc_id — crosses into the raw
    // harmonic-mean branch as the SF grows (≈6k distinct at sf0.01,
    // ≈60k at sf0.1 vs the 2.5·m = 10240 threshold).
    "sketch_hll_docs" -> ((s, dir) =>
      Sketch.hllDistinct(t(s, dir, "documents"), Seq.empty, "doc_id")),

    // PageRank over the customer→supplier order graph (5 budgeted
    // power iterations, teleport-only formulation): per iteration one
    // src join + one dst shuffle. Deterministic mode folds in-neighbor
    // contributions in src order so the oracle replays every IEEE step
    // through all five rounds.
    "graph_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 5,
          damping = 0.85, deterministic = true)
        .select(col("node"), col("rank").as("pagerank"))
    }),

    // Personalized PageRank (TrustRank): teleport mass restarts only
    // at the seed customers (custkey ≡ 0 mod 13) — deterministic-fold
    // oracle mode, all five rounds replayed IEEE step for IEEE step.
    "graph_ppr" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // fenced: the orders⋈lineitem projection feeds BOTH the operator
      // and the seed derivation — unfenced it executed twice (r18)
      val edges = graft.analytics.Fences.fence(
        o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (lit(1000000L) + col("l_suppkey")).as("dst")))
      val seeds = edges.select(col("src").as("id"))
        .filter(col("id") % 13 === 0).distinct()
      Graph.personalizedPageRank(edges, "src", "dst", seeds,
          iterations = 5, damping = 0.85, deterministic = true)
        .select(col("node"), col("rank").as("ppr"))
    }),

    // HITS over the same customer->supplier interaction graph:
    // authority ranks suppliers by weighted customer endorsement,
    // hubs rank customers — deterministic-fold oracle mode, 3 rounds
    // of the L1-normalized power iteration replayed sum for sum.
    "graph_hits" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
      Graph.hits(edges, "src", "dst", iterations = 3,
        deterministic = true)
    }),

    // Last-touch conversion attribution: each purchase credits the
    // user's most recent click/view within a 2-hour lookback —
    // revenue per channel. The as-of union-sort shape (one key
    // shuffle, no join explosion) with the tolerance applied after
    // the pick; unattributed conversions land in 'none'.
    "attribution_last_touch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), secs.as("ts_s"),
          col("value"))
      // unique-(key, time) pre-reduce, same shape as the join_asof
      // rows: max touch_id wins a tied second (ids are unique)
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_uid"), secs.as("touch_ts"),
          col("event_id"), col("event_type"))
        .groupBy(col("t_uid"), col("touch_ts"))
        .agg(max(col("event_id")).as("touch_id"),
          max_by(col("event_type"), col("event_id")).as("touch_type"))
      TOps.asOfJoin(purchases, touches, "user_id", "t_uid",
          "ts_s", "touch_ts", Seq("touch_id", "touch_type", "touch_ts"))
        .select(col("value"),
          when(col("touch_ts").isNotNull &&
              col("ts_s") - col("touch_ts") <= 7200L, col("touch_type"))
            .otherwise(lit("none")).as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("conversions"),
          sum(col("value").cast("decimal(18,2)")).as("_r"))
        .select(col("channel"), col("conversions"),
          col("_r").cast("double").as("revenue"))
    }),

    // Linear multi-touch attribution at per-conversion granularity:
    // every click/view in the 2-hour lookback shares the purchase
    // value equally — exact (k_c, n) rationals plus the one-division
    // credit; 'none' rows carry unattributed conversions.
    "attribution_linear" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), secs.as("ts_s"),
          col("value"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_uid"), secs.as("touch_ts"),
          col("event_type"))
      TOps.linearAttribution(purchases, "event_id", "user_id", "ts_s",
        "value", touches, "t_uid", "touch_ts", "event_type",
        lookbackSeconds = 7200L)
    }),

    // Fellegi-Sunter record-linkage scoring: customer self-linkage
    // blocked on nation, three agreement fields with driver-computed
    // log-likelihood weights (the SAME double literals land in the
    // oracle — no runtime ln anywhere).
    // Fuzzy linkage: Jaro–Winkler over (brand, container)-blocked
    // part-name self-pairs — the fuzzy-agreement extension of
    // link_score's exact Fellegi–Sunter fields. The kernel
    // byte-matches DuckDB's rapidfuzz jaro_winkler_similarity;
    // similarities round to 9 dp BEFORE the threshold so both
    // engines filter the identical value.
    "link_jw" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("blk",
        concat_ws("|", col("p_brand"), col("p_size")))
      graft.analytics.Linkage.fuzzyLinks(p, p, "p_partkey", "p_partkey",
        "blk", "p_name", minSim = 0.88, selfPairs = true)
    }),

    // Incremental fuzzy matching: a NOISY batch (ids shifted, last
    // name character dropped) matched against the clean history —
    // the cross-corpus ingest-time shape (new records vs the master
    // table), where selfPairs dedup doesn't apply. Every batch row
    // should JW-match its origin inside the shared block.
    "link_jw_incr" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("blk",
        concat_ws("|", col("p_brand"), col("p_size")))
      val batch = p.select(
        (col("p_partkey") + 5000000L).as("p_partkey"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("p_name"),
        col("blk"))
      graft.analytics.Linkage.fuzzyLinks(batch, p,
        "p_partkey", "p_partkey", "blk", "p_name",
        minSim = 0.95, selfPairs = false)
    }),

    // Streaming fuzzy-linkage twin: the same noisy batch streamed in
    // two micro-batches against the static master — the appended
    // match union must equal the one-shot batch run (per-record
    // matching is batch-decomposable). Oracle = the link_jw_incr
    // replay.
    "link_jw_stream" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("blk",
        concat_ws("|", col("p_brand"), col("p_size")))
      val noisy = p.select(
        (col("p_partkey") + 5000000L).as("p_partkey"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("p_name"),
        col("blk"))
      val out = Fences.tempDir("jw_stream")
      Twins.twoBatch(s, noisy, col("p_partkey") % 2 === 0)(Twins.sink(
        graft.streaming.StreamingOps.fuzzyLinkSink(
          p, "p_partkey", "blk", "p_name", minSim = 0.95, outDir = out)))
      s.read.parquet(s"$out/b*")
    }),

    // Entity resolution end-to-end: fuzzy JW pairs → connected
    // components → (record, entity) assignments — the composition a
    // real linkage pipeline runs (match, then cluster). Reuses two
    // individually-oracled operators; oracle = the same JW threshold
    // feeding a recursive-CTE transitive closure.
    "link_clusters" -> ((s, dir) => {
      val p = t(s, dir, "part").withColumn("blk",
        concat_ws("|", col("p_brand"), col("p_size")))
      val pairs = graft.analytics.Linkage.fuzzyLinks(p, p,
        "p_partkey", "p_partkey", "blk", "p_name",
        minSim = 0.88, selfPairs = true)
      graft.analytics.Dedup.components(pairs, "id_a", "id_b")
        .select(col("id").as("part"), col("label").as("entity"))
    }),

    "link_score" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_pos", (col("c_acctbal") >= 0).cast("string"))
        .withColumn("name_last",
          substring(col("c_name"), -1, 1))
      graft.analytics.Linkage.linkageScore(c, c, "c_custkey", "c_custkey",
        "c_nationkey",
        Seq(("c_mktsegment", 0.9, 0.2), ("bal_pos", 0.7, 0.5),
          ("name_last", 0.95, 0.1)),
        minScore = 2.0, selfPairs = true)
    }),

    // Per-document script composition: the wrong-script/mojibake
    // screen — row-local regexp counts, dominant label by struct max.
    "text_scripts" -> ((s, dir) =>
      graft.analytics.Text.scriptProfile(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming script-profile twin (rowLocalSink): the regexp counts
    // read only the row. Oracle = text_scripts' verbatim.
    "text_scripts_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => graft.analytics.Text.scriptProfile(b, "doc_id", "text"))
    }),

    // Benjamini-Hochberg FDR over a wide screen: deterministic
    // synthetic p-values (splitmix uniform, with a planted signal
    // tier at p/1000 for every 10th user) ranked within event type —
    // the multiple-comparisons gate, verdicts exactly replayed.
    "stats_fdr" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val u = pmod(graft.analytics.HashFunctions.splitmix64_hash(
        col("event_id") + lit(13L)), lit(1000000L))
      val p0 = u.cast("double") / lit(1000000.0)
      val p = when(col("user_id") % 10 === 0, p0 / lit(1000.0))
        .otherwise(p0)
      Stats.fdrBH(
        ev.select(col("event_type"), col("event_id"), p.as("p")),
        Seq("event_type"), "event_id", "p", alpha = 0.05)
    }),

    // Additive day-of-week seasonal effects of daily revenue per
    // event type: exact decimal phase sums, one division per mean.
    "ts_seasonal_effect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"),
          tsEpochSeconds(ev).as("_secs"), col("value"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("rev"))
      Stats.seasonalEffect(daily, Seq("event_type"), "day", "rev",
        phases = 7)
    }),

    // Inter-arrival gap statistics per event type: the heartbeat-
    // health screen — span-telescoped mean, max/min gap, exact
    // variance rational (linearTrend's overflow discipline).
    "ts_gaps" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      TOps.interArrival(
        ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
          col("event_id")),
        Seq("event_type"), "ts_s", "event_id")
    }),

    // Strict local maxima of value per event type over (ts, id) —
    // the spike primitive; boundaries and plateaus excluded.
    "ts_peaks" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      TOps.localPeaks(
        ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
          col("event_id"), col("value")),
        Seq("event_type"), "ts_s", "event_id", "value")
    }),

    // Per-brand Pareto frontier of parts (maximize size AND price):
    // the n log n prefix-max skyline vs the oracle's INDEPENDENT
    // quadratic NOT-EXISTS formulation — structurally different
    // plans, same surviving set.
    "join_skyline" -> ((s, dir) =>
      Joins.skyline2D(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size"), col("p_retailprice")),
        Seq("p_brand"), "p_size", "p_retailprice")),

    // Per-user clickstream log-likelihood under the corpus' own
    // Markov transition model: fold in sequence position, ln
    // bit-compatible — the behavioral fluency screen.
    // Frequent sequential trigrams of each user's time-ordered event
    // stream (behavioral motifs) — order-sensitive sequence mining
    // next to seq_transitions' first-order view. Pure integer counts.
    "seq_ngrams" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sequences.frequentNgrams(ev, Seq("user_id"),
        tsEpochSeconds(ev), col("event_id"), col("event_type"),
        n = 3, minSupport = 50L)
    }),

    "seq_likelihood" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sequences.sequenceLikelihood(
        ev.select(col("user_id"), tsEpochSeconds(ev).as("ts_s"),
          col("event_id"), col("event_type")),
        Seq("user_id"), col("ts_s"), col("event_id"), col("event_type"))
    }),

    // Market-basket frequent pairs over order baskets with Apriori
    // support pruning — rare items never reach the within-basket
    // self-join. Pure integer counts: exact under any partitioning.
    "basket_pairs" -> ((s, dir) =>
      Baskets.frequentPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2L)),

    // Association rules on top of the frequent pairs: both rule
    // directions, confidence gated by exact cross-multiply, lift from
    // the broadcast basket count — integer verdicts, one-division
    // strengths.
    // minConfidence 0.05, not 0.5: TPC-H-ish baskets have per-part
    // supports ~30, so pair confidences sit near 2/30 — 0.5 made the
    // gate row vacuously empty on BOTH engines (r9 ADVICE); 0.05
    // keeps a non-empty result to hash-compare while still gating.
    "basket_rules" -> ((s, dir) =>
      Baskets.associationRules(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2L,
        minConfidence = 0.05)),

    // KMV distinct sketch: k smallest splitmix64 hashes per event
    // type — the mergeable cardinality state with exact-below-k
    // semantics; the oracle replays the hash chain and the k-th-min
    // estimator in HUGEINT.
    "sketch_kmv" -> ((s, dir) => {
      val st = Sketch.kmvState(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 64)
      Sketch.kmvEstimate(st, Seq("event_type"), k = 64)
    }),

    // KMV SET ALGEBRA (the HLL-impossible part): pairwise
    // union/intersection/Jaccard estimates of the per-event-type user
    // sets from ONE grouped state — k smallest of each pair's union,
    // exact membership flags below the union θ, the Beyer et al.
    // K∩/k estimator. The oracle replays the hash chain and the pair
    // expansion in HUGEINT.
    "sketch_kmv_setops" -> ((s, dir) => {
      val st = Sketch.kmvState(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 64)
      Sketch.kmvSetOps(st, "event_type", k = 64)
    }),

    // KLL-style quantile sketch: per-row hash coins pick each item's
    // level (order-free determinism), the group keeps everything at
    // or above the smallest level that fits k, and p50/p90/p99 come
    // from weighted ranks against the exact row count — all integer
    // arithmetic the oracle replays (splitmix64 chain, trailing
    // zeros via a powers join, `div`-based target ranks).
    "sketch_kll" -> ((s, dir) => {
      val st = Sketch.kllState(t(s, dir, "events"),
        Seq("event_type"), "value", "event_id", k = 64)
      Sketch.kllQuantiles(st, Seq("event_type"))
    }),

    // KLL MERGE LAW: two sketches built independently over disjoint
    // halves of the log (split by event_id parity), merged, then
    // quantile-selected — must EQUAL the direct sketch of the whole
    // log bit-for-bit (per-item levels make the union's cut a pure
    // function of the row multiset). Oracle = the direct replay.
    "sketch_kll_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = Sketch.kllState(ev.filter(col("event_id") % 2 === 0),
        Seq("event_type"), "value", "event_id", k = 64)
      val b = Sketch.kllState(ev.filter(col("event_id") % 2 === 1),
        Seq("event_type"), "value", "event_id", k = 64)
      Sketch.kllQuantiles(
        Sketch.kllMerge(Seq(a, b), Seq("event_type"), k = 64),
        Seq("event_type"))
    }),

    // Distributed Bloom filter: membership word table over purchase
    // users, probed with every user — the cross-batch "seen before?"
    // primitive. Hash-matching (user, bloom_hit, is_member) against
    // the oracle's position-set replay proves BOTH the exact bit
    // layout and the no-false-negatives law (is_member=1 ⇒ hit=1) on
    // every row.
    "sketch_bloom" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val members = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val words = Sketch.bloomWords(members, "user_id",
        mBits = 1 << 16, kHashes = 4)
      val probed = Sketch.bloomProbe(words,
        ev.select(col("user_id")).distinct(), "user_id",
        mBits = 1 << 16, kHashes = 4)
      probed.join(members.withColumn("is_member", lit(1L)),
          Seq("user_id"), "left")
        .select(col("user_id"), col("bloom_hit"),
          coalesce(col("is_member"), lit(0L)).as("is_member"))
    }),

    // BLOOM UNION LAW: word tables built independently over clicks
    // and purchases, OR-merged — must equal the direct filter of the
    // union bit-for-bit (OR is idempotent/associative). Oracle = the
    // direct replay; output is the raw (word_idx, bits) state.
    "sketch_bloom_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = Sketch.bloomWords(
        ev.filter(col("event_type") === "click").select(col("user_id")),
        "user_id", mBits = 1 << 16, kHashes = 4)
      val b = Sketch.bloomWords(
        ev.filter(col("event_type") === "purchase").select(col("user_id")),
        "user_id", mBits = 1 << 16, kHashes = 4)
      Sketch.bloomMerge(Seq(a, b))
    }),

    // 3-core of the customer->supplier interaction graph by bounded
    // peeling — pure integer degrees, early exit equals the fixed
    // budget by monotonicity, which is exactly how the oracle replays
    // it.
    "graph_kcore" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
      Graph.kCore(edges, "src", "dst", k = 3, maxRounds = 8)
    }),

    // Per-day Shannon entropy of the event-type mix: the label-skew
    // screen, with the -sum p ln p fold in category order so the
    // double replays bit for bit.
    "stats_entropy" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.categoricalEntropy(
        ev.select(tsEpochSeconds(ev).as("ts_s"), col("event_type"))
          .select(expr("ts_s div 86400").as("day"), col("event_type")),
        Seq("day"), "event_type")
    }),

    // Rolling 7-day distinct users per day, sliding the window by
    // register algebra: raw rows are hashed once (per-day registers),
    // each register row is exploded over the 7 windows it serves, and
    // the window union is a min-merge over ≤ days × 4096 rows. Oracle
    // replays the explode + merge + estimate in HUGEINT.
    "sketch_hll_sliding" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(tsEpochSeconds(ev).as("_secs"), col("user_id"))
        .select(expr("_secs div 86400").as("day"), col("user_id"))
      Sketch.hllSlidingDistinct(e, "day", "user_id", windowDays = 7)
    }),

    // Sketch algebra: intersection of click-users and purchase-users
    // by inclusion-exclusion over MERGED register tables (never
    // re-reading the raw data for the union). Oracle replays all three
    // estimates in HUGEINT.
    "sketch_hll_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sketch.hllIntersect(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id")
    }),

    // Exact heavy hitters over the token stream: Misra-Gries candidate
    // pruning + confirming count. The oracle is the straight exact
    // count — the whole point is that the pruned plan returns it.
    "sketch_heavy_hitters" -> ((s, dir) =>
      Sketch.heavyHitters(
        t(s, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("item"))
          .filter(col("item") =!= ""),
        "item", threshold = 50L)),

    // Interval union: per-user purchase windows coalesced into maximal
    // disjoint spans (running-max sweep, one key shuffle).
    "interval_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), secs.as("start_s"),
          (secs + 1800L).as("end_s"))
      TOps.mergeIntervals(iv, "user_id", "start_s", "end_s")
    }),

    // Per-type 3-sigma outliers with the z-test cleared of divisions:
    // exact integer arithmetic, so the flag set is bit-stable under
    // any partitioning (the oracle replays it in HUGEINT).
    "stats_anomaly" -> ((s, dir) =>
      Stats.zscoreOutliers(t(s, dir, "events"), Seq("event_type"), "value",
          z = 3, scale = 2)
        .select(col("event_id"), col("event_type"), col("value"))),

    // Robust outliers: |v − median| > 3·MAD on scaled integers (rank
    // selection, no interpolation — the oracle replays the ranks).
    "stats_mad" -> ((s, dir) =>
      Stats.madOutliers(t(s, dir, "events"), Seq("event_type"), "value",
          k = 3, scale = 2)
        .select(col("event_id"), col("event_type"), col("value"))),

    // Rolling z-score over each user's trailing 10 events — the
    // temporal anomaly screen; division-free integer test, exact.
    "stats_anomaly_rolling" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"), col("value"),
        tsEpochSeconds(ev).as("ts_s"))
      Stats.rollingZOutliers(e, Seq("user_id"), Seq("ts_s", "event_id"),
          "value", windowRows = 10, k = 3, scale = 2, minObs = 5)
        .select(col("event_id"), col("user_id"), col("value"))
    }),

    // Exponentially-decayed "trending" count per event type: weights
    // are whole-half-life dyadics 2^-k — exactly representable, so the
    // grouped double sum is order-independent and hash-oracle-able
    // (a continuous e^-λΔt would ride libm and could not be).
    "stats_decayed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.decayedCount(
        ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s")),
        Seq("event_type"), "ts_s",
        refTime = 1706745600L, // 2024-02-01T00:00:00Z
        halfLifeSeconds = 86400L)
    }),

    // Concurrency profile: +1/-1 boundary sweep over 30-min activity
    // windows per event type — concurrency after each boundary
    // instant, half-open semantics (end ties before start). Integer
    // cumsum, one key shuffle.
    "ts_concurrency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val iv = ev.select(col("event_type"), secs.as("s_s"),
        (secs + 1800L).as("e_s"))
      TOps.concurrency(iv, "event_type", "s_s", "e_s")
    }),

    // OLS daily-revenue trend per event type from exact integer sums
    // (x re-based, y in cents): slope as an exact rational plus the
    // derived doubles the oracle replays step for step.
    "stats_trend" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"),
          tsEpochSeconds(ev).as("_secs"), col("value"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("_rev"))
        .select(col("event_type"), col("day"),
          col("_rev").cast("double").as("rev"))
      Stats.linearTrend(daily, Seq("event_type"), "day", "rev", scale = 2)
    }),

    // 10%-trimmed mean of value per event type: ppm-exact cut counts,
    // survivors summed through decimal — the robust location screen
    // between stats_mad's median and the plain mean.
    "stats_trimmed" -> ((s, dir) =>
      Stats.trimmedMean(
        t(s, dir, "events").select(col("event_type"), col("value")),
        Seq("event_type"), "value", trimFraction = 0.1)),

    // Schema drift between two snapshots: the ingest contract gate on
    // METADATA (no data scanned) — the oracle derives both sides from
    // DuckDB's own DESCRIBE, so the canonical-type mapping is checked
    // against an independent engine's schema reader.
    "schema_drift" -> ((s, dir) => {
      val a = t(s, dir, "orders")
      val b = a.drop("o_orderpriority")
        .withColumn("o_custkey", col("o_custkey").cast("int"))
        .withColumn("o_flag", lit("x"))
      graft.analytics.Profiling.schemaDrift(a, b)
    }),

    // Spearman rank correlation between event time and value per
    // event type, on a hash-thinned entity subset that keeps the
    // exact cross sums inside the signed-64 window at every SF (the
    // operator's documented exactness window, ~4n^4): doubled average
    // ranks are integers, so the oracle replays rank-for-rank.
    "stats_spearman" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.spearman(
        ev.filter(col("user_id") % 64 === 0)
          .select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
            col("value")),
        Seq("event_type"), "ts_s", "value")
    }),

    // ===== round-10 rows =====

    // Kendall τ-b on the same user-parity sample as spearman: pure
    // integer concordant/discordant/tie counts, one sqrt at the end.
    "stats_kendall" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.kendallTau(
        ev.filter(col("user_id") % 64 === 0)
          .select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
            col("value")),
        Seq("event_type"), "ts_s", "value")
    }),

    // One-way ANOVA F across event types on cent-exact values; the
    // between-group fold runs in category order so the doubles replay.
    "stats_anova" -> ((s, dir) =>
      Stats.anovaF(t(s, dir, "events"), "event_type", "value")),

    // Kruskal–Wallis H across event types: doubled midranks from
    // distinct-value cumulative counts (no row-level global sort),
    // tie-corrected, category-order fold.
    "stats_kruskal" -> ((s, dir) =>
      Stats.kruskalWallis(t(s, dir, "events"), "event_type", "value")),

    // Local clustering coefficient over the frequent-pair graph (the
    // graph_triangles edge set): integer triangle/degree counts per
    // node, one division.
    "graph_clustering" -> ((s, dir) =>
      Graph.clusteringCoefficient(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L),
        "item_a", "item_b")),

    // Degree assortativity of the customer→supplier interaction graph
    // (the pagerank/hits edge set): exact decimal sufficient
    // statistics, sqrt-free by symmetry.
    "graph_assort" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
      Graph.assortativity(edges, "src", "dst")
    }),

    // Holt double exponential smoothing of per-type daily revenue:
    // sequential fold in day order (bit-stable), zero-initial-trend
    // variant, one-step forecast.
    "ts_holt" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          col("value"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("value").cast(d2)).cast(d2).cast("double").as("rev"))
      TOps.holt(daily, Seq("event_type"), "day", "rev",
        alpha = 0.5, beta = 0.25)
    }),

    // Lagged cross-correlation between daily click and purchase
    // counts (lags −3..3): integer sufficient statistics, one
    // correctly-rounded sqrt.
    "ts_crosscorr" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def daily(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(tsEpochSeconds(ev).as("_secs"))
        .select(expr("_secs div 86400").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
      TOps.crossCorrelation(daily("click"), daily("purchase"),
        "day", "n", maxLag = 3)
    }),

    // Daily OHLC bars per event type: open/close by (ts, event_id)
    // order — deterministic under timestamp ties; decimal(18,2)
    // exact high/low.
    "ts_ohlc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      TOps.ohlc(ev.withColumn("ts_s", tsEpochSeconds(ev)),
        Seq("event_type"), "ts_s", "event_id", "value",
        periodSeconds = 86400L)
    }),

    // t-closeness audit: market segment groups vs the global
    // account-balance distribution over 6 ordered buckets — EMD by
    // cross-multiplied integer cumulative counts, one division.
    "privacy_tclose" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val cents = (col("c_acctbal").cast(d2) * 100).cast("long")
      // +100000 keeps the dividend non-negative so truncation ==
      // floor on BOTH engines; subtract-pmod makes the numerator
      // divisible, so the double division is exact (cohortRetention's
      // trick)
      val shifted = cents + 100000L
      val bucket =
        ((shifted - pmod(shifted, lit(200000L))) / 200000L).cast("long")
      graft.analytics.Privacy.tCloseness(
        c.select(col("c_mktsegment"), bucket.as("bal_bucket")),
        Seq("c_mktsegment"), "bal_bucket")
    }),

    // Rolling Bollinger bands over per-type daily revenue (20-day
    // trailing window, k=2): exact decimal running sums, bands in one
    // fixed double expression.
    "ts_bollinger" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          col("value"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("value").cast(d2)).cast(d2).cast("double").as("rev"))
      TOps.bollinger(daily, Seq("event_type"), "day", "rev",
        window = 20, k = 2.0)
    }),

    // Undirected degree histogram of the frequent-pair graph — the
    // hub-cap sizing diagnostic, pure integer counts.
    "graph_degrees" -> ((s, dir) =>
      Graph.degreeHistogram(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L),
        "item_a", "item_b")),

    // Brown–Forsythe (median-centered Levene): ANOVA F on integer
    // doubled deviations from each category's doubled median — the
    // robust equal-spread screen next to stats_anova's equal-mean.
    "stats_levene" -> ((s, dir) =>
      Stats.brownForsythe(t(s, dir, "events"), "event_type", "value")),

    // Reciprocity of the directed event-type transition graph (per
    // user, time-ordered): integer edge counts, one division.
    "graph_recip" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("_secs"), col("event_id"))
      val tr = ev.select(col("user_id"), col("event_id"),
          col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNotNull)
      Graph.reciprocity(
        tr.select(col("_prev").as("src"), col("event_type").as("dst")),
        "src", "dst")
    }),

    // Deterministic fixed-size sample: exactly 50 events per type by
    // seeded splitmix64 hash order — the oracle replays the chain and
    // the (hash, id) rank.
    "sample_fixed" -> ((s, dir) =>
      Sampling.fixedSizeSample(
        t(s, dir, "events").select(col("event_id"), col("event_type")),
        Seq("event_type"), "event_id", k = 50, seed = 11L)),

    // Row-level snapshot reconciliation: orders vs a perturbed copy
    // (price bumped on 1/97 of keys, 1/101 of keys dropped, status
    // flipped on 1/89) — the CDC convergence check.
    "dq_reconcile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(d2).as("o_totalprice"),
          col("o_orderstatus"))
      val b = o.filter(col("o_orderkey") % 101 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 97 === 0,
            (col("o_totalprice") + lit(1).cast(d2)).cast(d2))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 89 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      graft.analytics.DataQuality.reconcile(o, b, Seq("o_orderkey"),
        Seq("o_custkey", "o_totalprice", "o_orderstatus"))
    }),

    // Weekly cohort retention triangle over user activity: cohort =
    // first active week, cell counts actives at each offset — exact
    // integers end to end.
    "stats_cohort" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.cohortRetention(
        ev.select(col("user_id"), tsEpochSeconds(ev).as("ts_s")),
        "user_id", "ts_s", periodSeconds = 604800L)
    }),

    // Relational pivot: per-user wide activity counts (the
    // fixed-vocabulary pivot every BI export needs). Spark's pivot
    // compiles to one hash aggregation with conditional counts — the
    // oracle is the explicit CASE formulation.
    "pivot_events" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase", "error"))
        .select(col("user_id"), col("click").as("n_click"),
          col("view").as("n_view"), col("purchase").as("n_purchase"),
          col("error").as("n_error"))),

    // Two-proportion A/B significance per event type (variant = user
    // parity, success = value >= 50): the z-test with denominators
    // AND the square root cleared — decimal(38,0) cross-multiply, so
    // the flag is exact and the oracle replays it in HUGEINT.
    "stats_abtest" -> ((s, dir) =>
      Stats.abTest(t(s, dir, "events"), Seq("event_type"),
        variantACond = col("user_id") % 2 === 0,
        successCond = col("value") >= 50.0)),

    // Kaplan-Meier churn curve over user lifetimes: users whose last
    // event predates Jan-25 churned at (last - first); the rest are
    // right-censored at the log end. The raw pass collapses to
    // ≤ distinct-duration rows; the cumulative product is a bounded
    // self-join + t-ordered IEEE fold the oracle replays exactly.
    "stats_survival" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val u = ev.select(col("user_id"), tsEpochSeconds(ev).as("_s"))
        .groupBy(col("user_id"))
        .agg(min(col("_s")).as("fs"), max(col("_s")).as("ls"))
      val subj = u.select(
        when(col("ls") < 1706140800L, expr("(ls - fs) div 86400"))
          .otherwise(expr("(1706745600 - fs) div 86400")).as("t"),
        (col("ls") < 1706140800L).as("obs"))
      Stats.kaplanMeier(subj, Seq.empty, "t", col("obs"))
    }),

    // CUSUM level-shift detection over daily event counts per type:
    // the recursive max(0, prev + x - k) computed scan-free as
    // cumsum - running-min (two frames, one key shuffle, all integer).
    "stats_cusum" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"),
          tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), expr("_secs div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      Stats.cusum(daily, Seq("event_type"), "day", "x", k = 60L, h = 100L)
    }),

    // Nearest-in-time join: each click aligns to the CLOSEST purchase
    // within ±1 h, either direction (as-of only looks back). Same
    // single-shuffle union-sort shape; oracle = two DuckDB ASOF joins
    // (backward + forward) + the tie-preferring choose.
    "ts_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), secs.as("p_ts_s"),
          col("event_id"), col("value"))
        .groupBy(col("p_uid"), col("p_ts_s"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
      TOps.nearestJoin(l, r, "user_id", "p_uid", "ts_s", "p_ts_s",
        Seq("p_event_id", "p_value"), maxGap = 3600L)
    }),

    // Binning-free drift screen beside PSI: exact two-sample KS
    // statistic as the cross-multiplied rational (decimal(38,0) — no
    // division until the display column), one (type, value) shuffle.
    "stats_ks_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.ksTest(
        ev.select(col("event_type"), col("value"),
          tsEpochSeconds(ev).as("_secs")),
        Seq("event_type"), "value",
        refCond = col("_secs") <= 1705363200L)
        .select(col("event_type"), col("d_num").cast("long").as("d_num"),
          col("n_ref"), col("n_cur"), col("d"))
    }),

    // Classifier evaluation at fixed operating points: exact confusion
    // counts per threshold in ONE aggregation pass (2K+2 conditional
    // sums, no global sort) — length-vs-English as the deterministic
    // score/label pair; the classifier composition is spec-covered.
    "stats_pr_curve" -> ((s, dir) =>
      Stats.prCurve(
        t(s, dir, "documents")
          .select(col("n_chars").cast("double").as("score"),
            col("lang"), col("doc_id")),
        "score", col("lang") === "en",
        thresholds = Seq(100.0, 250.0, 500.0, 1000.0, 2000.0, 4000.0))),

    // Feature-drift screen: PSI of the value distribution per event
    // type between the first and second halves of the log (16 fixed
    // bins, add-one smoothing). One scan + one (type, bin) shuffle;
    // the float tail is a 16-term fold the oracle replays exactly.
    "stats_psi_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.psiDrift(
        ev.select(col("event_type"), col("value"),
          tsEpochSeconds(ev).as("_secs")),
        Seq("event_type"), "value",
        refCond = col("_secs") <= 1705363200L, // 2024-01-16T00:00:00Z
        lo = 0.0, width = 25.0, bins = 16)
    }),

    // Winsorize at exact per-type order statistics [p05, p95] — pure
    // rank-select + least/greatest, no value arithmetic anywhere.
    "stats_winsorize" -> ((s, dir) =>
      Stats.winsorize(
        t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value", loQ = 0.05, hiQ = 0.95)),

    // Histogram-sketch quantiles: p50/p95/p99 of value per event type
    // from a 1024-bin fixed histogram (state ≤ groups × bins).
    "sketch_quantile_hist" -> ((s, dir) =>
      Sketch.histogramQuantiles(t(s, dir, "events"), Seq("event_type"),
        "value", lo = 0.0, width = 0.5, bins = 1024,
        qs = Seq(0.5, 0.95, 0.99))),

    // Histogram MERGE LAW: two sketches built independently over
    // disjoint time halves, merged by integer count addition, then
    // quantile-selected — must EQUAL the direct sketch of the whole
    // log (the oracle computes the latter; exact, unlike HLL's
    // probabilistic registers, because counts add losslessly). This is
    // the per-day/per-partition rollup shape at 100 TB: data rows are
    // touched once per slice, merges touch only ≤ groups × bins rows.
    "sketch_hist_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pos = tsEpochSeconds(ev)
      val split = 1705363200L // 2024-01-16T00:00:00Z
      def half(p: Column => Column) = Sketch.histogramBins(
        ev.filter(p(pos)), Seq("event_type"), "value",
        lo = 0.0, width = 0.5, bins = 1024)
      Sketch.histogramQuantilesFromBins(
        Sketch.histogramMerge(
          Seq(half(_ <= split), half(_ > split)), Seq("event_type")),
        Seq("event_type"), lo = 0.0, width = 0.5,
        qs = Seq(0.5, 0.95, 0.99))
    }),

    // Morton (Z-order) layout key: the bit interleave a lakehouse
    // writer sorts by for multi-column min/max pruning — exercised at
    // the common THREE-column clustering case (order, part, supplier;
    // 48-bit key). Pure column arithmetic — the oracle recomputes
    // every bit in SQL.
    "layout_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        Layout.zorderKey(
          Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
          bits = 16).as("zkey"))
    }),

    // Min/max file skipping over a Z-ordered layout: zkey ranges as
    // deterministic pseudo-files, per-file stats, then the read-side
    // skip decision for a two-column box predicate. The oracle
    // replays every zkey bit, the stats, and the intersection test.
    "layout_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
        .select(col("l_orderkey"), col("l_partkey"),
          Layout.zorderKey(col("l_orderkey"), col("l_partkey"), bits = 16)
            .as("zkey"))
        .withColumn("file_id", expr("zkey div 16777216"))
      val stats = Layout.fileStats(li, "file_id",
        Seq("l_orderkey", "l_partkey"))
      Layout.pruneFiles(stats,
        Seq(("l_orderkey", 1000L, 2200L), ("l_partkey", 200L, 1500L)))
    }),

    // Per-file Bloom skipping: 64-bit masks over l_partkey per
    // zorder-derived file, probed with 20 point-lookup keys — the
    // high-cardinality complement of min/max pruning. Integer masks,
    // every bit oracle-replayed; soundness (never skip a containing
    // file) is spec-proven.
    "layout_bloom" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
        .select(col("l_partkey"),
          Layout.zorderKey(col("l_orderkey"), col("l_partkey"), bits = 16)
            .as("zkey"))
        .withColumn("file_id", expr("zkey div 16777216"))
      val stats = Layout.bloomFileStats(li, "file_id", "l_partkey")
      val probes = t(s, dir, "part").filter(col("p_partkey") <= 20)
        .select(col("p_partkey").as("l_partkey"))
      Layout.bloomPrune(stats, probes, "l_partkey")
    }),

    // Small-file compaction plan: documents as a pseudo file listing
    // (path = doc_id, size = n_chars) partitioned by source — quota
    // bin packing at a 500 B target; files >= target keep bin -1.
    // One window over metadata rows; the oracle replays every cumsum.
    "layout_compaction" -> ((s, dir) => {
      val files = t(s, dir, "documents")
        .select(col("source"), col("doc_id").cast("string").as("path"),
          col("n_chars").as("size_bytes"))
      Layout.compactionPlan(files, "path", "size_bytes",
        targetBytes = 500L, partitionCols = Seq("source"))
    }),

    // Bloom-pruned semi-join: lineitems of selective orders; result
    // must equal the plain IN-subquery (exactness of the prefilter).
    "join_bloom_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sel = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") >= 200000.0)
      Joins.bloomSemiJoin(li, sel, "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // LOCF resample: per-user purchase value forward-filled onto a
    // 6-hour grid. Oracle: DuckDB generate_series + native ASOF join.
    "ts_resample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val obs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), secs.as("ts_s"), col("value"), col("event_id"))
        .groupBy(col("user_id"), col("ts_s"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      TOps.resampleLocf(obs, "user_id", "ts_s", "v", step = 21600L)
    }),

    // Linear-interpolation resample on the same grid as ts_resample.
    // Oracle: full window replay (fixed-order IEEE arithmetic — the
    // interpolation formula is transcribed term-for-term).
    "ts_interpolate" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val obs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), secs.as("ts_s"), col("value"), col("event_id"))
        .groupBy(col("user_id"), col("ts_s"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      TOps.resampleInterpolate(obs, "user_id", "ts_s", "v", step = 21600L)
    }),

    // Absence detection: clicks with NO purchase in the next 2 hours
    // (union-sort forward window, never a nested-loop anti-join).
    // Oracle: the independent NOT EXISTS range subquery.
    "ts_absence" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), secs.as("ts_s"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), secs.as("p_ts_s"))
      TOps.absentWithin(clicks, purchases, "user_id", "p_uid",
        "ts_s", "p_ts_s", window = 7200L)
    }),

    // Funnel min-cascade per user (view → click → purchase). The
    // operator is a greedy single-pass fold; the oracle is the
    // independent min-cascade join chain — a hash match PROVES the
    // greedy ≡ cascade equivalence on this data, per-user, with the
    // reached-step times exposed.
    "funnel_user" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("user_id"), col("event_type"),
        tsEpochSeconds(ev).as("ts_s"))
      TOps.funnelSteps(e, "user_id", "event_type", "ts_s",
          Seq("view", "click", "purchase"))
        .select(col("user_id"),
          col("steps_reached").cast("long").as("steps_reached"),
          // try_: an unreached step is a NULL time (ANSI element_at
          // would throw on the shorter array)
          try_element_at(col("step_times"), lit(1)).as("t1"),
          try_element_at(col("step_times"), lit(2)).as("t2"),
          try_element_at(col("step_times"), lit(3)).as("t3"))
    }),

    // Streaming funnel twin driven END-TO-END as a real 2-batch stream
    // (same time-split harness as session_stream): per-key greedy
    // min-cascade state carries across the micro-batch boundary — a
    // funnel whose view landed before the split and whose click lands
    // after must still advance (the interesting edge). The Update-mode
    // stream emits the key's current progression each batch; the final
    // table is max(struct(...)) per key (steps_reached is monotone and
    // reached-step times never change), which the batch min-cascade
    // join-chain oracle checks exactly.
    "funnel_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"),
          tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L // 2024-01-16T00:00:00Z
      Twins.twoBatch(s, input, col("ts_s") <= split)(in =>
        graft.streaming.StreamingOps.funnelStepsStream(in,
            "user_id", "event_type", "ts_s", Seq("view", "click", "purchase"))
          .writeStream.format("memory")
          .queryName("funnel_stream_out").outputMode("update"))
      s.table("funnel_stream_out")
        .select(col("user_id"),
          struct(col("steps_reached"),
            try_element_at(col("step_times"), lit(1)).as("t1"),
            try_element_at(col("step_times"), lit(2)).as("t2"),
            try_element_at(col("step_times"), lit(3)).as("t3")).as("_p"))
        .groupBy(col("user_id")).agg(max(col("_p")).as("_p"))
        .select(col("user_id"),
          col("_p.steps_reached").cast("long").as("steps_reached"),
          col("_p.t1"), col("_p.t2"), col("_p.t3"))
    }),

    // Interval × interval overlap (no equi-key): which promo windows
    // collide? Emitted once per pair via the first-shared-bucket
    // guard — no distinct pass.
    "join_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val promo = ev.filter(col("event_type") === "purchase" && col("value") >= 100.0)
        .select(col("event_id"), secs.as("ts_s"))
      val a = promo.select(col("event_id").as("pa_id"), col("ts_s").as("pa_s"),
        (col("ts_s") + 3600L).as("pa_e"))
      val b = promo.select(col("event_id").as("pb_id"), col("ts_s").as("pb_s"),
        (col("ts_s") + 3600L).as("pb_e"))
      TOps.intervalOverlapJoin(a, b, "pa_s", "pa_e", "pb_s", "pb_e",
        bucketWidth = 3600L)
        .filter(col("pa_id") < col("pb_id"))
        .select(col("pa_id"), col("pb_id"))
    }),

    // Interval subtraction: purchase activity windows minus error
    // blackouts per user (the A \ ∪B remainder). The operator is a
    // boundary sweep; the oracle is the structurally different
    // clip-and-gap formulation — independent algorithms must agree.
    "interval_subtract" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val avail = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), secs.as("start_s"),
          (secs + 7200L).as("end_s"))
      val block = ev.filter(col("event_type") === "error")
        .select(col("user_id"), secs.as("start_s"),
          (secs + 1800L).as("end_s"))
      TOps.intervalSubtract(avail, block, "user_id", "start_s", "end_s")
    }),

    // Salting must be invisible in the result: the salted fact⋈dim
    // join aggregates to EXACTLY the plain join's numbers (oracle is
    // the plain join) while the physical key is (key, salt).
    "join_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, o, "l_orderkey", "o_orderkey", "l_linenumber", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(sum((col("l_extendedprice").cast(d2) *
            (lit(1).cast(d2) - col("l_discount").cast(d2))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Gap sessionization as a reusable operator (q9 aggregates session
    // COUNTS; this row checks the per-event session ASSIGNMENT, the
    // harder deterministic surface).
    "session_assign" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"),
        tsEpochSeconds(ev).as("ts_s"))
      TOps.sessionize(e, "user_id", "ts_s", "event_id", gapSeconds = 1800L)
        .select(col("event_id"), col("user_id"), col("ts_s"), col("session_seq"))
    }),

    // Streaming sessionize twin driven END-TO-END as a real 2-batch
    // stream (MemoryStream → flatMapGroupsWithState fold → memory
    // sink): the event log splits by TIME at the fixed Jan-16 instant
    // (the cdc_incr_agg snapshot point), so every user active on both
    // sides has a session ordinal that must carry ACROSS the
    // micro-batch boundary — sessions open at the split must continue
    // numbering, not restart (the interesting edge; per-key state is
    // one (last ts, ordinal) pair). The stream arrives in time order,
    // so the batch window sessionization over the whole log is the
    // exact oracle. The driver .collect() is harness glue feeding
    // MemoryStream, same as dedup_stream_triage.
    "session_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_id"), col("user_id"),
        tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L // 2024-01-16T00:00:00Z
      Twins.twoBatch(s, input, col("ts_s") <= split)(in =>
        graft.streaming.StreamingOps.sessionizeStream(in,
            "user_id", "ts_s", "event_id", gapSeconds = 1800L)
          .writeStream.format("memory")
          .queryName("session_stream_out").outputMode("append"))
      s.table("session_stream_out")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          col("session_seq"))
    }),

    // Streaming HLL twin: the register state min-merged across a real
    // 2-batch stream must equal the batch sketch of the whole log —
    // the merge law under micro-batch delivery. Oracle = the direct
    // batch HLL replication.
    "sketch_hll_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), col("user_id"),
        tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L // 2024-01-16T00:00:00Z
      val state = Fences.tempDir("hll_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.hllRegisterSink(
          state, Seq("event_type"), "user_id")))
      Sketch.hllEstimate(s.read.parquet(s"$state/batch=1"),
        Seq("event_type"))
    }),

    // Streaming KMV twin: the k-min state min-merged across a real
    // 2-batch stream must equal the batch sketch of the whole log
    // (k-smallest-of-a-union law) — oracle = the batch sketch_kmv
    // formulation.
    "sketch_kmv_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), col("user_id"),
        tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L
      val state = Fences.tempDir("kmv_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.kmvSink(
          state, Seq("event_type"), "user_id", k = 64)))
      Sketch.kmvEstimate(s.read.parquet(s"$state/batch=1"),
        Seq("event_type"), k = 64)
    }),

    // Set algebra over the STREAMED state: the same 2-batch kmvSink
    // run, then kmvSetOps on the final state — by the k-smallest-of-
    // a-union merge law the streamed state equals the batch state, so
    // the pairwise estimates match the batch oracle bit-for-bit.
    "sketch_kmv_setops_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), col("user_id"),
        tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L
      val state = Fences.tempDir("kmv_setops_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.kmvSink(
          state, Seq("event_type"), "user_id", k = 64)))
      Sketch.kmvSetOps(s.read.parquet(s"$state/batch=1"),
        "event_type", k = 64)
    }),

    // Streaming KLL twin: the quantile state kll-merged across a real
    // 2-batch stream must equal the batch sketch of the whole log
    // (per-item hash levels make the merge exact) — oracle = the
    // batch sketch_kll replay.
    "sketch_kll_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.filter(col("value").isNotNull)
        .select(col("event_type"), col("value"), col("event_id"),
          tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L
      val state = Fences.tempDir("kll_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.kllSink(
          state, Seq("event_type"), "value", "event_id", k = 64)))
      Sketch.kllQuantiles(s.read.parquet(s"$state/batch=1"),
        Seq("event_type"))
    }),

    // Streaming Bloom twin: the word table OR-merged across a real
    // 2-batch stream of purchase users must equal the batch filter of
    // the whole set (OR idempotence/associativity) — oracle = the
    // direct position-set replay.
    "sketch_bloom_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L
      val state = Fences.tempDir("bloom_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.bloomSink(
          state, "user_id", mBits = 1 << 16, kHashes = 4)))
      s.read.parquet(s"$state/batch=1")
    }),

    // Streaming SCD2 twin: version history maintained across a real
    // 2-batch stream — versions opened in batch 1 must be CLOSED by
    // batch 2's first change per key. Oracle = the batch cdc_scd2
    // formulation over the whole log.
    "scd2_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("user_id"), col("event_id"),
        tsEpochSeconds(ev).as("pos"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("update")).as("op"), col("value"))
      val split = 1705363200L
      val state = Fences.tempDir("scd2_stream")
      Twins.twoBatch(s, input, col("pos") <= split)(Twins.sink(
        graft.streaming.StreamingOps.scd2Sink(
          state, Seq("user_id"), Seq("pos", "event_id"), "pos", "op")))
      s.read.parquet(s"$state/batch=1")
        .select(col("user_id"), col("event_id"), col("valid_from"),
          col("valid_to"), col("value"), col("is_current"))
    }),

    // Sketch mergeability: two independently-built register tables
    // (click users, purchase users) merged with min(_mw) must equal
    // the direct sketch of the union — the oracle computes the
    // latter, the query the former; a hash match PROVES the merge law
    // on this data, not just the estimate.
    "sketch_hll_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = Sketch.hllRegisters(
        ev.filter(col("event_type") === "click"), Seq.empty, "user_id")
      val b = Sketch.hllRegisters(
        ev.filter(col("event_type") === "purchase"), Seq.empty, "user_id")
      Sketch.hllEstimate(Sketch.hllMerge(Seq(a, b), Seq.empty), Seq.empty)
    }),

    // Count-min over the document token stream: width 16 forces real
    // collisions on the ~31-token shared vocabulary, so the min-over-
    // depth logic is exercised (estimate > true for colliding tokens).
    // Probe set = every token; output compares true vs CMS count.
    "sketch_cms_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("true_count"))
      val counters = Sketch.cmsCounters(counts, "token", "true_count",
        depth = 4, width = 16)
      counts.join(
        Sketch.cmsLookup(counters, counts.select(col("token")), "token",
          depth = 4, width = 16),
        Seq("token"))
        .select(col("token"), col("true_count"), col("cms_estimate"))
    }),

    // Triangle enumeration over the frequent-pair co-occurrence graph:
    // degree-oriented wedges (Σ outdeg² ≤ O(m^1.5)) + closing-edge
    // confirm. The oracle is the structurally independent id-ordered
    // 3-way self-join — two different algorithms must agree exactly.
    "graph_triangles" -> ((s, dir) =>
      Graph.triangles(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L),
        "item_a", "item_b")),

    // Mann–Whitney U rank-sum drift test per event type (variant =
    // user parity): doubled midranks keep R1/U1/tie-term exact
    // integers; the normal-approx significance inequality is cleared
    // of division AND square root in decimal(38,0).
    "stats_mannwhitney" -> ((s, dir) =>
      Stats.mannWhitney(t(s, dir, "events"), Seq("event_type"),
        "value", col("user_id") % 2 === 0)
        .select(col("event_type"), col("n1"), col("n2"),
          col("u1_x2").cast("long").as("u1_x2"),
          col("tie_term").cast("long").as("tie_term"),
          col("significant"))),

    // Chi-square goodness-of-fit against uniform day-of-week per
    // event type (epoch day + 4 ≡ Thursday-origin): the uniform-E
    // collapse k·ΣO² − N² makes the decision pure integer.
    "stats_chisq_gof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dowed = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"),
          pmod(expr("_secs div 86400") + lit(4L), lit(7L)).as("dow"))
      Stats.chisqUniform(dowed, Seq("event_type"), col("dow"), k = 7)
    }),

    // First-order Markov transition matrix of per-user event streams:
    // one entity-key window shuffle, then a ≤ states² count table
    // with exact integer counts + one IEEE division for p.
    "seq_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sequences.transitionMatrix(ev, Seq("user_id"),
        tsEpochSeconds(ev), col("event_id"), col("event_type"))
    }),

    // Seasonal-naive anomaly screen: daily event counts vs the same
    // weekday one week earlier, fetched by VALUE (range frame pinned
    // at [-7,-7]) so date gaps never misalign the season. Integer
    // relative+absolute alarm rule.
    "stats_seasonal" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), expr("_secs div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      Stats.seasonalNaive(daily, Seq("event_type"), "day", "x",
        period = 7L)
    }),

    // Schema-wide column profiler over lineitem: one scan, one
    // aggregation (Expand-based exact multi-distinct), min/max split
    // into numeric/string pairs for a fixed output schema.
    "profile_columns" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        // shipdate is TIMESTAMP_NTZ; session TZ is UTC, so the
        // NTZ→TZ hop is the identity and →long is epoch seconds
        .withColumn("l_ship_s",
          col("l_shipdate").cast("timestamp").cast("long"))
      graft.analytics.Profiling.columnProfile(li,
        numCols = Seq("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice", "l_ship_s"),
        strCols = Seq("l_returnflag", "l_linestatus"))
    }),

    // Streaming count-min twin: counter tables are LINEAR, so the
    // summed state across a real 2-batch stream must equal the batch
    // sketch of the whole token log — the additive merge law, with
    // _SUCCESS-committed batch dirs making replays idempotent (sum is
    // not idempotent the way HLL's min-merge is). Oracle = the direct
    // batch counter replication (same splitmix chain as sketch_cms).
    "sketch_cm_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      val state = Fences.tempDir("cms_stream")
      Twins.twoBatch(s, input, col("doc_id") < 250L)(Twins.sink(
        graft.streaming.StreamingOps.cmsCounterSink(
          state, "token", depth = 4, width = 16)))
      s.read.parquet(s"$state/batch=1")
        .select(col("_row").as("cms_row"), col("_idx").as("cms_idx"),
          col("_c").cast("long").as("cnt"))
    }),

    // Gini concentration of per-user revenue within each event type:
    // exact integer numerator/denominator via a rank window over
    // cents, one IEEE division for the coefficient.
    "stats_gini" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val perUser = ev.groupBy(col("event_type"), col("user_id"))
        .agg((sum(col("value").cast(d2)) * lit(100))
          .cast("long").as("cents"))
      Stats.gini(perUser, Seq("event_type"), "cents")
    }),

    // Lag-1 autocorrelation of the daily event-count series per type:
    // five exact integer sums over value-aligned (x_t, x_{t-1}) pairs,
    // r = one cast + sqrt + divide (bit-replicable IEEE).
    "stats_autocorr" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), expr("_secs div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      Stats.autocorr(daily, Seq("event_type"), "day", "x", lag = 1L)
    }),

    // Theil–Sen robust trend over the same daily series: median of
    // pairwise slopes carried as exact (Δy, Δt) rationals; selection
    // order (IEEE slope, Δy, Δt) is total, so both engines pick the
    // identical median row.
    "stats_theil_sen" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), expr("_secs div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      Stats.theilSen(daily, Seq("event_type"), "day", "x")
    }),

    // k-anonymity release gate over (event_type, user-bucket, week)
    // quasi-identifiers: suppress-from-the-right ladder, every level
    // beyond the first re-aggregates only failing group rows.
    "privacy_kanon" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.select(col("event_type"),
          expr("user_id div 100").as("user_bucket"),
          tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), col("user_bucket"),
          expr("_secs div 86400 div 7").as("week"))
      graft.analytics.Privacy.kAnonymize(base,
        Seq("event_type", "user_bucket", "week"), minK = 10L)
    }),

    // Common-neighbor link prediction over the frequent-pair graph:
    // unconnected distance-2 pairs scored by neighborhood Jaccard
    // (integer counts + inclusion–exclusion union; one IEEE division).
    "graph_links" -> ((s, dir) =>
      Graph.jaccardLinks(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L),
        "item_a", "item_b", minJaccard = 0.4)),

    // Benford first-digit screen over event value cents per type:
    // fixed ppm rationals keep the deviation test integer-exact.
    "stats_benford" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cents = ev.select(col("event_type"),
        (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
      Stats.benford(cents, Seq("event_type"), "cents")
    }),

    // Snapshot differ: reconstruct the change log between two keyed
    // dumps (insert/update/delete, unchanged dropped) — one full
    // outer join + null-safe compares.
    "cdc_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val oldSnap = o.filter(col("o_orderkey") % 17 =!= 3)
      val newSnap = o.filter(col("o_orderkey") % 13 =!= 5)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.model.Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
    }),

    // Incremental JOIN view maintenance across a real 2-batch tagged
    // stream: delta-join rule (dL⋈R ∪ L⋈dR ∪ dL⋈dR); the final view
    // must equal the batch join of both full tables.
    "cdc_incr_join" -> ((s, dir) => {
      // one tagged feed: order rows ('l') and customer rows ('r')
      val ords = t(s, dir, "orders").select(lit("l").as("_side"),
        col("o_custkey").as("cust"), col("o_orderkey"),
        col("o_totalprice").as("o_total"),
        lit(null).cast("string").as("c_name"),
        lit(null).cast("string").as("c_seg"))
      val custs = t(s, dir, "customer").select(lit("r").as("_side"),
        col("c_custkey").as("cust"), lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_total"), col("c_name"),
        col("c_mktsegment").as("c_seg"))
      val state = Fences.tempDir("join_view")
      Twins.twoBatch(s, ords.unionAll(custs),
        when(col("_side") === "l", col("o_orderkey") % 2 === 0)
          .otherwise(col("cust") % 3 =!= 0))(Twins.sink(
        graft.streaming.StreamingOps.joinViewSink(
          state, "cust", Seq("o_orderkey", "o_total"),
          Seq("c_name", "c_seg"))))
      s.read.parquet(s"$state/view/batch=1")
        .select(col("cust"), col("o_orderkey"), col("o_total"),
          col("c_name"), col("c_seg"))
    }),

    // Tumbling-window streaming aggregation twin: Spark's built-in
    // window() groupBy in complete mode over a 2-batch stream must
    // equal the batch hourly rollup — the mapping proof for the
    // engine's windowed-agg surface.
    "window_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s"))
      val split = 1705363200L
      Twins.twoBatch(s, input, col("ts_s") <= split)(
        _.withColumn("_ts", timestamp_seconds(col("ts_s")))
          .groupBy(window(col("_ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .writeStream.format("memory")
          .queryName("window_stream_out").outputMode("complete"))
      s.table("window_stream_out")
        .select(col("event_type"),
          col("window.start").cast("long").as("window_start_s"),
          col("cnt"))
    }),

    // Exact rank-select quantiles (p50/p90/p99) of value per event
    // type: the value at rank ceil(p·n) — always a real data value,
    // bit-identical across engines. The exactness sibling of the
    // mergeable histogram sketch.
    "stats_quantiles" -> ((s, dir) =>
      Stats.quantilesExact(t(s, dir, "events"), Seq("event_type"),
        "value", Seq(0.5, 0.9, 0.99))),

    // RFM segmentation of customers within their market segment:
    // entity aggregate + three within-segment ntile(5) windows under
    // total (metric, id) orders — integer tiles, deterministic.
    "stats_rfm" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val base = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_custkey").as("cust"),
          col("o_orderdate").cast("timestamp").cast("long").as("ts"),
          (col("o_totalprice").cast(d2) * lit(100)).cast("long").as("cents"))
      // as-of anchor: 2001-09-01T00:00:00Z, just past the newest order
      Stats.rfm(base, Seq("seg"), Seq("cust"), "ts", "cents",
          asOfSeconds = 999302400L)
        .select(col("seg"), col("cust"), col("recency_days"),
          col("frequency"), col("monetary_cents"),
          col("r").cast("long").as("r"), col("f").cast("long").as("f"),
          col("m").cast("long").as("m"), col("rfm_cell"))
    }),

    // Time-weighted average of each user's value signal (LOCF step
    // function to the log end): exact integer value·seconds, one
    // IEEE division — the metrics-correct mean for irregular gauges.
    "ts_twa" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val obs = ev.select(col("user_id"), tsEpochSeconds(ev).as("ts_s"),
        (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
      TOps.twa(obs, Seq("user_id"), "ts_s", "cents",
        endTs = 1706745600L)
    }),

    // Tukey IQR fences per event type: exact rank-select quartiles,
    // four IEEE ops for the fences, outlier count on a broadcast
    // join-back.
    "stats_tukey" -> ((s, dir) =>
      Stats.tukeyFences(t(s, dir, "events"), Seq("event_type"), "value")),

    // l-diversity release check on (event_type, user-bucket) groups
    // with the value-decade as the sensitive attribute.
    "privacy_ldiv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.select(col("event_type"),
          expr("user_id div 100").as("user_bucket"),
          (col("value").cast(d2) * lit(100)).cast("long").as("_c"))
        .select(col("event_type"), col("user_bucket"),
          expr("_c div 1000").as("sens"))
      graft.analytics.Privacy.lDiversity(base,
        Seq("event_type", "user_bucket"), "sens", minL = 3L)
    }),

    // Connected components of the frequent-pair graph via the
    // engine's iterative min-label propagation; oracle = recursive-
    // CTE transitive closure (the dedup_clusters playbook on a
    // different graph).
    "graph_components" -> ((s, dir) =>
      graft.analytics.Dedup.components(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L)
          .select(col("item_a").as("id_a"), col("item_b").as("id_b")))
        .select(col("id").as("node"), col("label").as("component"))),

    // Synchronous label-propagation communities (Raghavan 2007, min-
    // label tie rule + self-vote) on the same frequent-pair graph —
    // all-integer votes, so the 4-round result is bit-replayable;
    // oracle = the four rounds unrolled as argmax CTEs.
    "graph_labelprop" -> ((s, dir) =>
      Graph.labelPropagation(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L)
          .select(col("item_a").as("id_a"), col("item_b").as("id_b")),
        "id_a", "id_b", iterations = 4)),

    // Modularity of the label-propagation partition on the same
    // frequent-pair graph: Q accumulated as the exact rational
    // Σ(4m·e_c − d_c²)/4m² — one double division at the end.
    "graph_modularity" -> ((s, dir) => {
      // fenced: the pair graph feeds labelPropagation AND modularity —
      // unfenced the frequentPairs self-join executed twice (r18)
      val pairs = graft.analytics.Fences.fence(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
            "l_orderkey", "l_partkey", minSupport = 2L)
          .select(col("item_a").as("id_a"), col("item_b").as("id_b")))
      val comm = Graph.labelPropagation(pairs, "id_a", "id_b",
        iterations = 4)
      Graph.modularity(pairs, "id_a", "id_b", comm)
    }),

    // Multi-source BFS hop distance to the nearest seed (TrustRank-
    // style seed proximity) from the nodes ≡ 0 (mod 7); oracle =
    // bounded recursive CTE with min-hop aggregation.
    "graph_seed_dist" -> ((s, dir) => {
      // fenced: the pair graph feeds the seed derivation (twice, one
      // per endpoint column) AND the BFS operator — unfenced the
      // frequentPairs self-join executed three times (r18)
      val pairs = graft.analytics.Fences.fence(
        Baskets.frequentPairs(t(s, dir, "lineitem"),
            "l_orderkey", "l_partkey", minSupport = 2L)
          .select(col("item_a").as("id_a"), col("item_b").as("id_b")))
      val seeds = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .filter(col("id") % 7 === 0).distinct()
      Graph.seedDistance(pairs, "id_a", "id_b", seeds, maxHops = 4)
    }),

    // Deterministic exact mode of value cents per event type (ties to
    // the smallest value — Spark's builtin mode() leaves ties
    // unspecified); oracle = independent max-count join-back.
    "stats_mode" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cents = ev.filter(col("value").isNotNull)
        .select(col("event_type"),
          (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
      Stats.exactMode(cents, Seq("event_type"), "cents")
    }),

    // Per-document 3-gram novelty vs the id-ordered corpus: fraction
    // of distinct grams FIRST seen in this document.
    "text_novelty" -> ((s, dir) =>
      graft.analytics.Text.novelty(t(s, dir, "documents"),
        "doc_id", "text", n = 3)),

    // Exact single changepoint per daily revenue series (binary
    // segmentation depth 1): argmax of the SSE-reduction score over
    // exact integer prefix sums — A, D exact, the score one fixed
    // double expression, ties to the smallest split.
    "ts_changepoint" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          (col("value").cast(d2) * lit(100)).cast("long").as("_cents"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("_cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("_cents")).as("cents"))
      TOps.changepoint(daily, Seq("event_type"), "day", "cents")
    }),

    // Streaming twin of ts_changepoint: raw events stream through a
    // keyed (event_type, day) sum state in two batches (sum-merge is
    // order-insensitive and cents totals are integer-exact in the
    // double accumulator), then the SAME changepoint runs over the
    // state — shares the batch oracle.
    "ts_changepoint_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("cents"))
      val state = Fences.tempDir("cp_stream")
      Twins.twoBatch(s, input, col("day") % 2 === 0)(Twins.sink(
        graft.streaming.StreamingOps.keyedMeanSink(
          state, "event_type", "day", "cents")))
      val daily = s.read.parquet(s"$state/batch=1")
        .select(col("domain").as("event_type"), col("step").as("day"),
          col("s").cast("long").as("cents"))
      TOps.changepoint(daily, Seq("event_type"), "day", "cents")
    }),

    // Streaming twin of stats_hurst: the same keyed (event_type, day)
    // sum state as ts_changepoint_stream feeds the batch R/S fit —
    // integer-exact state, shared batch oracle.
    "stats_hurst_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("cents"))
      val state = Fences.tempDir("hurst_stream")
      Twins.twoBatch(s, input, col("day") % 2 === 0)(Twins.sink(
        graft.streaming.StreamingOps.keyedMeanSink(
          state, "event_type", "day", "cents")))
      val daily = s.read.parquet(s"$state/batch=1")
        .select(col("domain").as("event_type"), col("step").as("day"),
          col("s").cast("long").as("cents"))
      TOps.hurstRs(daily, Seq("event_type"), "day", "cents")
    }),

    // Hurst exponent of the daily revenue series per type: R/S over
    // 8/16/32-day blocks — every R/S one fixed double expression over
    // exact integers, per-scale means folded in block order, 6-dp
    // log-log OLS (the zipf discipline).
    "stats_hurst" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          (col("value").cast(d2) * lit(100)).cast("long").as("_cents"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("_cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("_cents")).as("cents"))
      TOps.hurstRs(daily, Seq("event_type"), "day", "cents")
    }),

    // LTTB-style downsampling of the daily revenue series per type
    // (parallel-anchor variant): endpoints + the largest-triangle
    // point per interior bucket, every area compared as an exact
    // cleared-denominator integer.
    "ts_lttb" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"),
          (col("value").cast(d2) * lit(100)).cast("long").as("_cents"))
        .select(col("event_type"), expr("_secs div 86400").as("day"),
          col("_cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("_cents")).as("cents"))
      TOps.lttb(daily, Seq("event_type"), "day", "cents", buckets = 8)
    }),

    // Seeded Laplace-mechanism noisy counts per event type: inverse
    // CDF from the splitmix64 uniform, ln bit-compatible with the
    // oracle's — the DP release machinery, reproducibly seeded.
    "privacy_noise" -> ((s, dir) =>
      graft.analytics.Privacy.noisyCount(t(s, dir, "events"),
        Seq("event_type"), epsilon = 0.5, seed = 7L)),

    // File-range overlap depth: fileStats min/max ranges swept with
    // the interval concurrency operator — the clustering-quality
    // metric that justifies Z-order/compaction (depth 1 = perfectly
    // clustered, depth = #files = fully interleaved).
    "layout_overlap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("file", expr("l_orderkey div 1500"))
        .withColumn("ship_s",
          col("l_shipdate").cast("timestamp").cast("long"))
      val ranges = Layout.fileStats(li, "file", Seq("ship_s"))
        .select(lit("l_shipdate").as("colname"),
          col("min_ship_s").as("lo"), (col("max_ship_s") + 1L).as("hi"))
      TOps.concurrency(ranges, "colname", "lo", "hi")
    }),

    // Built-in stream-stream interval join across a 2-batch split:
    // clicks x purchases of the same user within ±1 h. Inner joins
    // emit on match, so the final table equals the batch interval
    // join — the all-pairs-in-window sibling of ts_nearest.
    "stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ev = t(s, dir, "events")
      val secs = tsEpochSeconds(ev)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), secs.as("ts_s"))
      val split = 1705363200L
      val (c0, c1) = clicks.collect().toSeq.partition(_.getLong(2) <= split)
      val (p0, p1) = purch.collect().toSeq.partition(_.getLong(2) <= split)
      Twins.scope(s) {
        val inC = MemoryStream[Row](Encoders.row(clicks.schema), s)
        val inP = MemoryStream[Row](Encoders.row(purch.schema), s)
        val c = inC.toDF().toDF("c_uid", "c_id", "c_ts_s")
          .withColumn("c_ts", timestamp_seconds(col("c_ts_s")))
          .withWatermark("c_ts", "2 hours")
        val p = inP.toDF().toDF("p_uid", "p_id", "p_ts_s")
          .withColumn("p_ts", timestamp_seconds(col("p_ts_s")))
          .withWatermark("p_ts", "2 hours")
        val joined = c.join(p,
          col("c_uid") === col("p_uid") &&
            col("p_ts") >= col("c_ts") - expr("interval 1 hour") &&
            col("p_ts") <= col("c_ts") + expr("interval 1 hour"))
        val q = joined.writeStream.format("memory")
          .queryName("stream_join_out").outputMode("append").start()
        try {
          inC.addData(c0); inP.addData(p0); q.processAllAvailable()
          inC.addData(c1); inP.addData(p1); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("stream_join_out")
        .select(col("c_uid").as("user_id"), col("c_id"), col("c_ts_s"),
          col("p_id"), col("p_ts_s"))
    }),

    // Point-in-time join to SCD2 history — the lookup SCD2 exists
    // for: each purchase resolves its user's dimension version AS OF
    // the purchase instant. As-of union-sort on valid_from + validity
    // filter (non-overlapping intervals make the latest-from version
    // the only candidate); same-second version chains resolve by the
    // dedupRight max-struct rule.
    "join_scd2_pit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pos = tsEpochSeconds(ev)
      val log = ev.select(col("user_id"), col("event_id"), pos.as("pos"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("update")).as("op"),
        col("value"))
      val hist = graft.model.Cdc.scd2(log, Seq("user_id"),
          Seq(col("pos"), col("event_id")), col("pos"), "op")
        .select(col("user_id").as("h_uid"), col("event_id").as("v_id"),
          col("valid_from"), col("valid_to"), col("value").as("v_value"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("f_id"), pos.as("f_ts"))
      TOps.pitJoin(facts, hist, "user_id", "h_uid", "f_ts",
          "valid_from", "valid_to", Seq("v_id", "v_value"))
        .select(col("user_id"), col("f_id"), col("f_ts"),
          col("v_id").as("version_id"), col("v_value").as("version_value"))
    }),

    // Session-level rollup on top of sessionize: start/end/duration,
    // event count and revenue per (user, session) — the base table of
    // product analytics, one window pass + one aggregate.
    "session_metrics" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("user_id"), tsEpochSeconds(ev).as("ts_s"),
        col("event_id"),
        (col("value").cast(d2) * lit(100)).cast("long").as("cents"))
      TOps.sessionize(e, "user_id", "ts_s", "event_id",
          gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"),
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("revenue_cents"))
        .withColumn("duration_s", col("end_s") - col("start_s"))
    }),

    // Seasonal-naive forecast backtest over the daily count series:
    // exact integer error sums, MAE + WAPE one IEEE division each —
    // the baseline every fancier forecaster must beat.
    "ts_backtest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.select(col("event_type"), tsEpochSeconds(ev).as("_secs"))
        .select(col("event_type"), expr("_secs div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      Stats.forecastBacktest(daily, Seq("event_type"), "day", "x",
        period = 7L)
    }),

    // Wald–Wolfowitz runs test on the (ts, id)-ordered high/low value
    // sequence per type — the ORDER-randomness screen the value-
    // distribution tests are blind to. Exact integer decision.
    "stats_runs" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Stats.runsTest(
        ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
          col("event_id"), col("value")),
        Seq("event_type"), col("ts_s"), col("event_id"),
        col("value") >= 50.0)
    }),

    // Streaming histogram twin: additive bin state across a real
    // 2-batch stream must equal the batch histogram sketch — the
    // third sketch sink (HLL min-merge, CMS sum, histogram sum).
    "sketch_hist_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val input = ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s"),
        col("value"))
      val split = 1705363200L
      val state = Fences.tempDir("hist_stream")
      Twins.twoBatch(s, input, col("ts_s") <= split)(Twins.sink(
        graft.streaming.StreamingOps.histogramBinSink(
          state, Seq("event_type"), "value",
          lo = 0.0, width = 0.5, bins = 1024)))
      s.read.parquet(s"$state/batch=1")
        .select(col("event_type"), col("_bin").as("bin"),
          col("_c").cast("long").as("cnt"))
    }),

    // Hilbert-curve layout key (the locality upgrade over Z-order:
    // consecutive keys are always 4-adjacent cells, no Z-jumps) —
    // custom codegen'd expression; the oracle unrolls all 16 rotation
    // levels of the xy2d loop in SQL.
    "layout_hilbert" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
      li.select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(65536L)).as("hx"),
          pmod(col("l_suppkey"), lit(65536L)).as("hy"))
        .withColumn("hkey",
          Layout.hilbertKey(col("hx"), col("hy"), bits = 16))
    }),

    // The Hilbert adjacency property turned into the metric that
    // matters: lay the same rows out as 16 files under the Hilbert
    // vs the Morton key (deterministic ntile over the key order — the
    // oracle-replicable stand-in for repartitionByRange, whose
    // sampling is nondeterministic), collect min/max file stats on
    // (hx, hy), and count files a rectangle query must read. Tighter
    // curves ⇒ tighter per-file bounding boxes ⇒ fewer files.
    "layout_hilbert_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(256L)).as("hx"),
          pmod(col("l_orderkey"), lit(256L)).as("hy"))
      def layout(name: String, key: org.apache.spark.sql.Column) = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(key, col("l_orderkey"), col("l_linenumber"))
        val files = Layout.fileStats(
          li.withColumn("file", ntile(16).over(w)), "file",
          Seq("hx", "hy"))
        files.agg(count(lit(1)).as("files_total"),
          sum(when(col("min_hx") <= 143L && col("max_hx") >= 112L &&
            col("min_hy") <= 143L && col("max_hy") >= 112L, lit(1L))
            .otherwise(lit(0L))).as("files_read"))
          .select(lit(name).as("layout"), col("files_total"),
            col("files_read"))
      }
      layout("hilbert", Layout.hilbertKey(col("hx"), col("hy"), 8))
        .unionByName(layout("zorder",
          Layout.zorderKey(col("hx"), col("hy"), 8)))
    }),

    // Leakage-free temporal split with a 1-day embargo: train strictly
    // before split−embargo, test at/after split, the gap dropped —
    // the TIME-leakage counterpart of the hash-based grouped split.
    "sample_time_split" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sampling.timeSplit(
          ev.select(col("event_type"), tsEpochSeconds(ev).as("ts_s")),
          "ts_s", splitAt = 1705363200L, embargo = 86400L)
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("ts_s")).as("min_ts"),
          max(col("ts_s")).as("max_ts"))
    }),

    // Keyed pseudonymization: user ids replaced by the seeded hash,
    // consistently — per-pseudonym activity counts must equal the
    // per-user counts under the replayed mapping.
    "privacy_pseudonym" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.analytics.Privacy.pseudonymize(
          ev.select(col("user_id"), col("event_type")),
          Seq("user_id"), secret = 99L)
        .groupBy(col("user_id").as("pseudo_uid"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    })
  )

  /** Shared splitmix64 HUGEINT chain (same as the sampling oracles)
    * parameterized by input table/column/group, then the HLL register
    * pipeline: reg = top 12 bits, w = low 52 bits, min(w) per
    * register, bit-length by 6-step integer binary search (floor(log2)
    * would round 2^52−1 up), exact HUGEINT harmonic sum scaled by
    * 2^53, and the final double expression replayed verbatim.
    */
  private def hllOracle(table: String, valueCol: String, groupSel: String,
      groupBy: String): String = {
    val g = if (groupSel.isEmpty) "" else s"$groupSel, "
    val gb = if (groupBy.isEmpty) "" else s"GROUP BY $groupBy"
    val gbRegs = if (groupBy.isEmpty) "GROUP BY reg" else s"GROUP BY $groupBy, reg"
    s"""WITH ${hllRegsCtes(table, valueCol, g, gbRegs)},
       rf AS (SELECT * FROM r),
       ${hllTailSql(g, gb)}"""
  }

  /** The splitmix64 chain + register table as a CTE block ending in
    * `r` ($g reg, mw) — shared by [[hllOracle]] and the sliding
    * variant below.
    */
  private def hllRegsCtes(table: String, valueCol: String, g: String,
      gbRegs: String): String =
    s"""c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
       m0 AS (SELECT $g(CAST($valueCol AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
              FROM $table CROSS JOIN c WHERE $valueCol IS NOT NULL),
       ma AS (SELECT $g xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
       m1 AS (SELECT $g (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
       mb AS (SELECT $g xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
       m2 AS (SELECT $g (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
       m3 AS (SELECT $g xor(x5, x5 // 2147483648) AS x6 FROM m2),
       h AS (SELECT $g x6 // 4503599627370496 AS reg, x6 % 4503599627370496 AS w FROM m3),
       r AS (SELECT $g reg, min(w) AS mw FROM h $gbRegs)"""

  /** The estimate tail (bit-length binary search, HUGEINT harmonic
    * sum, final double expression) over a register CTE named `rf`
    * ($g reg, mw).
    */
  private def hllTailSql(g: String, gb: String): String =
    s"""b1 AS (SELECT $g reg, CASE WHEN mw >= 4294967296 THEN 32 ELSE 0 END AS a1,
              CASE WHEN mw >= 4294967296 THEN mw // 4294967296 ELSE mw END AS w1 FROM rf),
       b2 AS (SELECT $g reg, a1 + CASE WHEN w1 >= 65536 THEN 16 ELSE 0 END AS a2,
              CASE WHEN w1 >= 65536 THEN w1 // 65536 ELSE w1 END AS w2 FROM b1),
       b3 AS (SELECT $g reg, a2 + CASE WHEN w2 >= 256 THEN 8 ELSE 0 END AS a3,
              CASE WHEN w2 >= 256 THEN w2 // 256 ELSE w2 END AS w3 FROM b2),
       b4 AS (SELECT $g reg, a3 + CASE WHEN w3 >= 16 THEN 4 ELSE 0 END AS a4,
              CASE WHEN w3 >= 16 THEN w3 // 16 ELSE w3 END AS w4 FROM b3),
       b5 AS (SELECT $g reg, a4 + CASE WHEN w4 >= 4 THEN 2 ELSE 0 END AS a5,
              CASE WHEN w4 >= 4 THEN w4 // 4 ELSE w4 END AS w5 FROM b4),
       b6 AS (SELECT $g reg, a5 + CASE WHEN w5 >= 2 THEN 1 ELSE 0 END
              + CASE WHEN (CASE WHEN w5 >= 2 THEN w5 // 2 ELSE w5 END) >= 1 THEN 1 ELSE 0 END AS bl FROM b5),
       tt AS (SELECT $g CAST(power(2.0, bl) AS HUGEINT) AS term FROM b6),
       a AS (SELECT $g count(*) AS n_registers, sum(term) AS sp FROM tt $gb),
       sv AS (SELECT $g n_registers, 4096 - n_registers AS v,
              sp + CAST(4096 - n_registers AS HUGEINT) * CAST(9007199254740992 AS HUGEINT) AS stot FROM a),
       dd AS (SELECT $g n_registers, v,
              CAST(CAST(stot // 4096 AS BIGINT) AS DOUBLE) * CAST(4096 AS DOUBLE) +
              CAST(CAST(stot % 4096 AS BIGINT) AS DOUBLE) AS sd FROM sv)
       SELECT $g n_registers,
         CASE WHEN (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096 AS DOUBLE)))
                   * CAST(4096 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE) / sd
                   <= CAST(2.5 AS DOUBLE) * CAST(4096 AS DOUBLE) AND v > 0
              THEN CAST(4096 AS DOUBLE) * ln(CAST(4096 AS DOUBLE) / CAST(v AS DOUBLE))
              ELSE (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096 AS DOUBLE)))
                   * CAST(4096 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE) / sd
         END AS estimate
       FROM dd"""

  /** Sliding-window HLL oracle: per-day register tables from the same
    * hash chain, each day's registers exploded over the `windowDays`
    * trailing windows they contribute to, min-merged per (day, reg),
    * restricted to days present in the data, then the shared estimate
    * tail grouped by day.
    */
  private def hllSlidingOracle(table: String, valueCol: String,
      windowDays: Int): String =
    s"""WITH ${hllRegsCtes(table, valueCol, "day, ", "GROUP BY day, reg")},
       ds AS (SELECT DISTINCT day FROM r),
       ex AS (SELECT r.day + gs.g AS day, reg, mw
              FROM r, generate_series(0, ${windowDays - 1}) AS gs(g)),
       rm AS (SELECT day, reg, min(mw) AS mw FROM ex GROUP BY day, reg),
       rf AS (SELECT rm.day, reg, mw FROM rm JOIN ds USING (day)),
       ${hllTailSql("day, ", "GROUP BY day")}"""

  /** Unrolled power-iteration replication: each round's in-neighbor
    * sum is a list_reduce fold in src order (== the engine's
    * deterministic mode), teleport/damping literals printed from the
    * same Scala doubles the engine uses.
    */
  private def pageRankOracle(iterations: Int, damping: Double): String = {
    val tp = s"CAST(${1.0 - damping} AS DOUBLE)"
    val d = s"CAST($damping AS DOUBLE)"
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (SELECT n.node,
           $tp / CAST(nn.n AS DOUBLE) +
             $d * coalesce(s.s, CAST(0.0 AS DOUBLE)) AS rank
         FROM nodes n CROSS JOIN nc nn
         LEFT JOIN (SELECT e.dst AS node,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(r.rank / CAST(e.deg AS DOUBLE) ORDER BY e.src)),
               (a, b) -> a + b) AS s
           FROM ew e JOIN r${k - 1} r ON r.node = e.src
           GROUP BY e.dst) s ON s.node = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (SELECT DISTINCT o.o_custkey AS src,
            1000000 + l.l_suppkey AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       nodes AS (SELECT DISTINCT node FROM
         (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY src),
       ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
              FROM nodes CROSS JOIN nc nn),
       $iters
       SELECT node, rank AS pagerank FROM r$iterations"""
  }

  /** The label-propagation CTE chain (frequent-pair graph, symmetric
    * edges, four unrolled argmax rounds), shared by the labelprop and
    * modularity oracles. */
  private val labelpropCtes: String = {
    val prefix =
      """WITH items AS (SELECT DISTINCT l_orderkey AS b,
              l_partkey AS i FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         l0 AS MATERIALIZED (SELECT u AS node, u AS lbl
               FROM edges GROUP BY u)"""
    val rounds = (1 to 4).map { k =>
      s""",
         v$k AS (SELECT n, lbl, count(*) AS c FROM (
               SELECT e2.u AS n, l.lbl FROM edges e2
                 JOIN l${k - 1} l ON l.node = e2.v
               UNION ALL
               SELECT node AS n, lbl FROM l${k - 1}) GROUP BY 1, 2),
         l$k AS MATERIALIZED (SELECT n AS node, lbl FROM (
               SELECT n, lbl, row_number() OVER (PARTITION BY n
                 ORDER BY c DESC, lbl ASC) AS rn FROM v$k) WHERE rn = 1)"""
    }.mkString
    prefix + rounds
  }

  /** Hurst R/S replay, shared by the batch row and its streaming
    * twin (the keyedMeanSink state is the same exact daily table). */
  private val hurstOracleSql: String =
    """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS t,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
         base AS (SELECT g, t, v,
             CAST(row_number() OVER (PARTITION BY g ORDER BY t) - 1
               AS BIGINT) AS k
           FROM e),
         ms AS (SELECT g, t, v, CAST(mm.m AS BIGINT) AS m, k // mm.m AS b
           FROM base, (VALUES (8), (16), (32)) mm(m)),
         st AS (SELECT g, m, b, t, v,
             CAST(row_number() OVER wb AS BIGINT) AS i,
             sum(v) OVER wb AS si,
             sum(v) OVER wball AS sm,
             CAST(count(*) OVER wball AS BIGINT) AS cnt
           FROM ms WINDOW wb AS (PARTITION BY g, m, b ORDER BY t),
             wball AS (PARTITION BY g, m, b)),
         dev AS (SELECT g, m, b, v,
             CAST(si AS HUGEINT) * m - CAST(i AS HUGEINT) *
               CAST(sm AS HUGEINT) AS dv
           FROM st WHERE cnt = m),
         blk AS (SELECT g, m, b, max(dv) - min(dv) AS r,
             CAST(max(m) AS HUGEINT) *
               sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) -
               sum(CAST(v AS HUGEINT)) * sum(CAST(v AS HUGEINT)) AS vr
           FROM dev GROUP BY g, m, b),
         rs AS (SELECT g, m, b,
             CAST(r AS DOUBLE) / sqrt(CAST(vr AS DOUBLE)) AS rsv
           FROM blk WHERE vr > 0),
         pm AS (SELECT g, m,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(rsv ORDER BY b)), (a, x) -> a + x) /
               CAST(count(*) AS DOUBLE) AS mean_rs,
             CAST(count(*) AS BIGINT) AS nb
           FROM rs GROUP BY g, m),
         pts AS (SELECT g, m, nb, ln(CAST(m AS DOUBLE)) AS x,
             ln(mean_rs) AS y
           FROM pm WHERE mean_rs > 0),
         sums AS (SELECT g,
             CAST(count(*) AS BIGINT) AS n_scales,
             CAST(sum(nb) AS BIGINT) AS n_blocks,
             CAST(count(*) AS DOUBLE) AS n,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x ORDER BY x)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(y ORDER BY x)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x * y ORDER BY x)), (a, v) -> a + v) AS sxy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x * x ORDER BY x)), (a, v) -> a + v) AS sxx
           FROM pts GROUP BY g),
         fit AS (SELECT g, n_scales, n_blocks, n, sx, sy,
             (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope_raw
           FROM sums),
         o AS (SELECT g AS event_type, n_scales, n_blocks,
             CASE WHEN round(slope_raw, 6) = 0 THEN 0.0
               ELSE round(slope_raw, 6) END AS hurst,
             CASE WHEN round((sy - slope_raw * sx) / n, 6) = 0 THEN 0.0
               ELSE round((sy - slope_raw * sx) / n, 6) END AS log_c
           FROM fit)
         SELECT * FROM o WHERE n_scales >= 2"""

  /** Changepoint replay, shared by the batch row and its streaming
    * twin (whose state table is the same exact daily-cents sums). */
  private val changepointOracleSql: String =
    """WITH e AS (SELECT event_type AS g,
            epoch_ns(ts) // 1000000000 // 86400 AS t,
            CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
              AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY 1, 2),
       st AS (SELECT g, t, v,
           CAST(row_number() OVER (PARTITION BY g ORDER BY t)
             AS BIGINT) AS k,
           sum(v) OVER (PARTITION BY g ORDER BY t) AS sk,
           CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n,
           sum(v) OVER (PARTITION BY g) AS s
         FROM e),
       cand AS (SELECT *,
           CAST(sk AS HUGEINT) * n - CAST(s AS HUGEINT) * k AS a,
           CAST(k * (n - k) AS HUGEINT) AS dd
         FROM st WHERE k < n),
       sc AS (SELECT *, (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) /
           CAST(dd AS DOUBLE) AS q FROM cand),
       best AS (SELECT *, row_number() OVER (PARTITION BY g
           ORDER BY q DESC, k ASC) AS rn FROM sc)
       SELECT g AS event_type, n, k AS cp_k, t AS split_at,
         CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left,
         CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE) AS mean_right,
         q AS score
       FROM best WHERE rn = 1"""

  /** Personalized-PageRank replay: [[pageRankOracle]] with the
    * teleport (and the init mass) confined to the seed set — every
    * IEEE step (tp/|S| division, t + d·s accumulation, src-ordered
    * contribution folds) identical to the operator's. */
  private def pprOracle(iterations: Int, damping: Double): String = {
    val tp = s"CAST(${1.0 - damping} AS DOUBLE)"
    val d = s"CAST($damping AS DOUBLE)"
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (SELECT t.node,
           t.t + $d * coalesce(s.s, CAST(0.0 AS DOUBLE)) AS rank
         FROM tele t
         LEFT JOIN (SELECT e.dst AS node,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(r.rank / CAST(e.deg AS DOUBLE) ORDER BY e.src)),
               (a, b) -> a + b) AS s
           FROM ew e JOIN r${k - 1} r ON r.node = e.src
           GROUP BY e.dst) s ON s.node = t.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (SELECT DISTINCT o.o_custkey AS src,
            1000000 + l.l_suppkey AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       nodes AS (SELECT DISTINCT node FROM
         (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       seeds AS (SELECT DISTINCT src AS node FROM edges WHERE src % 13 = 0),
       sc2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY src),
       ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       tele AS (SELECT n.node,
           CASE WHEN s.node IS NOT NULL
                THEN $tp / CAST(sc.n AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS t
         FROM nodes n CROSS JOIN sc2 sc
         LEFT JOIN seeds s ON s.node = n.node),
       r0 AS (SELECT t.node,
           CASE WHEN t.t > CAST(0.0 AS DOUBLE)
                THEN CAST(1.0 AS DOUBLE) / CAST(sc.n AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS rank
         FROM tele t CROSS JOIN sc2 sc),
       $iters
       SELECT node, rank AS ppr FROM r$iterations"""
  }

  /** HITS replay: the deterministic-fold L1 power iteration, fold
    * orders identical to the operator's (per-node sums in neighbor
    * order, normalizers in node order). */
  private def hitsOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      val prevHub = if (k == 1) "h0" else s"hub${k - 1}"
      s"""araw$k AS (SELECT e.dst AS node,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(h.hub ORDER BY e.src)), (a, b) -> a + b) AS a
         FROM edges e JOIN $prevHub h ON h.node = e.src
         GROUP BY e.dst),
       asum$k AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(a ORDER BY node)), (x, y) -> x + y) AS s FROM araw$k),
       auth$k AS (SELECT node, a / (SELECT s FROM asum$k) AS authority
                  FROM araw$k),
       hraw$k AS (SELECT e.src AS node,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(a.authority ORDER BY e.dst)), (x, y) -> x + y) AS h
         FROM edges e JOIN auth$k a ON a.node = e.dst
         GROUP BY e.src),
       hsum$k AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(h ORDER BY node)), (x, y) -> x + y) AS s FROM hraw$k),
       hub$k AS (SELECT node, h / (SELECT s FROM hsum$k) AS hub
                 FROM hraw$k)"""
    }.mkString(",\n")
    s"""WITH edges AS (SELECT DISTINCT o.o_custkey AS src,
            1000000 + l.l_suppkey AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS hub
              FROM edges),
       $iters
       SELECT coalesce(a.node, h.node) AS node,
         coalesce(a.authority, CAST(0.0 AS DOUBLE)) AS authority,
         coalesce(h.hub, CAST(0.0 AS DOUBLE)) AS hub
       FROM auth$iterations a FULL OUTER JOIN hub$iterations h
         ON a.node = h.node"""
  }

  /** Bounded k-core peel replay: fixed `rounds` of degree-filter
    * CTEs — by monotonicity extra rounds past convergence are no-ops,
    * matching the operator's early exit. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""keep$r AS MATERIALIZED (SELECT n FROM (
           SELECT n, count(*) AS d FROM (
             SELECT u AS n FROM e${r - 1}
             UNION ALL SELECT v FROM e${r - 1}) GROUP BY n)
         WHERE d >= $k),
       e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
         WHERE u IN (SELECT n FROM keep$r)
           AND v IN (SELECT n FROM keep$r))"""
    }.mkString(",\n")
    s"""WITH edges AS (SELECT DISTINCT o.o_custkey AS src,
            1000000 + l.l_suppkey AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       e0 AS MATERIALIZED (SELECT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src <> dst),
       $iters
       SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree FROM (
         SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       GROUP BY n"""
  }

  /** The splitmix64-chain → 63-bit hash → per-group k=64 min-set CTEs
    * shared by every KMV oracle (ends at `st AS (g, h)`). */
  private val kmvStateCtes: String =
    """c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_type AS g,
              (CAST(user_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
              FROM events CROSS JOIN c WHERE user_id IS NOT NULL),
         ma AS (SELECT g, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT g, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT g, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT g, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT g, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         hh AS (SELECT DISTINCT g, x6 // 2 AS h FROM m3),
         rk AS (SELECT g, h,
              row_number() OVER (PARTITION BY g ORDER BY h) AS r
            FROM hh),
         st AS (SELECT g, h FROM rk WHERE r <= 64)"""

  private val oraclesKmvSql: String =
    s"""WITH $kmvStateCtes,
         est AS (SELECT g, count(*) AS cnt, max(h) AS theta FROM st GROUP BY g)
         SELECT g AS event_type, CAST(cnt AS BIGINT) AS n_state,
           CASE WHEN cnt < 64 THEN CAST(CAST(cnt AS BIGINT) AS DOUBLE)
             ELSE CAST(63 AS DOUBLE) * CAST(9223372036854775807 AS DOUBLE)
               / CAST(CAST(theta AS BIGINT) AS DOUBLE) END AS estimate
         FROM est"""

  /** Pair expansion over the SAME state CTEs: union-of-states k-min
    * with exact membership flags, then the K∩/k estimator — the
    * operation-ordered double arithmetic (one division, one multiply)
    * the engine performs. */
  private val oraclesKmvSetOpsSql: String =
    s"""WITH $kmvStateCtes,
         gs AS (SELECT DISTINCT g FROM st),
         ex AS (SELECT s.g AS type_a, g2.g AS type_b, s.h,
                  1 AS ia, 0 AS ib
                FROM st s JOIN gs g2 ON s.g < g2.g
                UNION ALL
                SELECT g1.g, s.g, s.h, 0, 1
                FROM st s JOIN gs g1 ON g1.g < s.g),
         mg AS (SELECT type_a, type_b, h, max(ia) AS ia, max(ib) AS ib
                FROM ex GROUP BY 1, 2, 3),
         rk2 AS (SELECT type_a, type_b, h, ia, ib,
              row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS r
            FROM mg),
         x AS (SELECT * FROM rk2 WHERE r <= 64),
         ag AS (SELECT type_a, type_b, count(*) AS nu, max(h) AS theta,
              sum(ia * ib) AS nc FROM x GROUP BY 1, 2)
         SELECT type_a, type_b, CAST(nc AS BIGINT) AS n_common,
           (CASE WHEN nu < 64 THEN CAST(CAST(nu AS BIGINT) AS DOUBLE)
             ELSE CAST(63 AS DOUBLE) * CAST(9223372036854775807 AS DOUBLE)
               / CAST(CAST(theta AS BIGINT) AS DOUBLE) END) AS union_est,
           (CAST(CAST(nc AS BIGINT) AS DOUBLE)
               / CAST(CAST(nu AS BIGINT) AS DOUBLE))
             * (CASE WHEN nu < 64 THEN CAST(CAST(nu AS BIGINT) AS DOUBLE)
               ELSE CAST(63 AS DOUBLE) * CAST(9223372036854775807 AS DOUBLE)
                 / CAST(CAST(theta AS BIGINT) AS DOUBLE) END) AS inter_est,
           (CAST(CAST(nc AS BIGINT) AS DOUBLE)
               / CAST(CAST(nu AS BIGINT) AS DOUBLE)) AS jaccard_est
         FROM ag"""

  /** Script-composition replay, shared by the batch row and its
    * streaming twin (row-local features ⇒ identical oracle). */
  private val oraclesTextScriptsSql: String =
    """WITH base AS (SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
           CAST(len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
           CAST(len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS n_cjk,
           CAST(len(regexp_extract_all(text, '[ \t\n\x0B\f\r]')) AS BIGINT) AS n_space
           FROM documents),
         ext AS (SELECT *,
           n_chars - n_latin - n_digit - n_cyrillic - n_cjk - n_space AS n_other
           FROM base)
         SELECT doc_id, n_chars, n_latin, n_digit, n_cyrillic, n_cjk,
           n_space, n_other,
           CASE WHEN n_chars > 0 THEN
             CAST(n_latin AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS latin_frac,
           CASE
             WHEN n_other = greatest(n_latin, n_digit, n_cyrillic, n_cjk, n_other) THEN 'other'
             WHEN n_latin = greatest(n_latin, n_digit, n_cyrillic, n_cjk, n_other) THEN 'latin'
             WHEN n_digit = greatest(n_latin, n_digit, n_cyrillic, n_cjk, n_other) THEN 'digit'
             WHEN n_cyrillic = greatest(n_latin, n_digit, n_cyrillic, n_cjk, n_other) THEN 'cyrillic'
             ELSE 'cjk'
           END AS dominant_script
         FROM ext"""

  /** KLL replay: same splitmix64 chain as the KMV oracle (on event_id
    * — per ROW coins, no DISTINCT: quantiles weigh duplicates),
    * trailing zeros by isolating the lowest set bit and looking it up
    * in a 63-row powers-of-two table (pure integer — no float log2),
    * the cut level from a descending cumulative count, weighted ranks
    * i·2^l via the same powers table, and `//`-division target ranks
    * — every step integer-exact, so the merge-law and streaming twins
    * reuse it verbatim.
    */
  private val oraclesKllSql: String = {
    val powers = (0 to 62).map(i => s"($i, ${1L << i})").mkString(", ")
    s"""WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_type AS g, value AS v,
              (CAST(event_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
              FROM events CROSS JOIN c
              WHERE value IS NOT NULL AND event_id IS NOT NULL),
         ma AS (SELECT g, v, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT g, v, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT g, v, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT g, v, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT g, v, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         hh AS (SELECT g, v, CAST(x6 // 2 AS BIGINT) AS h FROM m3),
         pw(i, p) AS (VALUES $powers),
         tz AS (SELECT g, v, h,
              CAST(CASE WHEN h = 0 THEN 62 ELSE pw.i END AS BIGINT) AS t
            FROM hh LEFT JOIN pw ON pw.p = (h & (-h))),
         hist AS (SELECT g, t, count(*) AS cnt FROM tz GROUP BY g, t),
         cum AS (SELECT g, t,
              SUM(cnt) OVER (PARTITION BY g ORDER BY t DESC) AS cge FROM hist),
         lv AS (SELECT g,
              COALESCE(MAX(CASE WHEN cge > 64 THEN t END) + 1, 0) AS l
            FROM cum GROUP BY g),
         nn AS (SELECT g, count(*) AS n FROM tz GROUP BY g),
         kept AS (SELECT tz.g AS g, v, h, l, n FROM tz
              JOIN lv ON tz.g = lv.g JOIN nn ON tz.g = nn.g
              WHERE t >= l),
         rk AS (SELECT g, v, l, n,
              row_number() OVER (PARTITION BY g ORDER BY v, h) AS i FROM kept),
         wr AS (SELECT g, v, l, n, CAST(rk.i AS BIGINT) * pl.p AS r
            FROM rk JOIN pw pl ON pl.i = l),
         est AS (SELECT g, MAX(n) AS n, MAX(l) AS l, count(*) AS m,
              COALESCE(MIN(CASE WHEN r >= (n * 5000 + 9999) // 10000 THEN v END), MAX(v)) AS p50,
              COALESCE(MIN(CASE WHEN r >= (n * 9000 + 9999) // 10000 THEN v END), MAX(v)) AS p90,
              COALESCE(MIN(CASE WHEN r >= (n * 9900 + 9999) // 10000 THEN v END), MAX(v)) AS p99
            FROM wr GROUP BY g)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n_rows,
           CAST(l AS BIGINT) AS kll_level, CAST(m AS BIGINT) AS m_state,
           p50, p90, p99
         FROM est"""
  }

  /** One splitmix64 chain (seed 7 + hash index i from the `ks` CTE)
    * over `src`'s user_id, ending in `<pfx>pos` ($sel pos) with
    * pos = x6 mod 2^16. Shared by the Bloom oracles; power-of-two
    * modulus makes the unsigned HUGEINT mod equal Spark's signed
    * pmod bit-for-bit.
    */
  private def bloomChainCtes(pfx: String, src: String, sel: String): String =
    s"""${pfx}0 AS (SELECT $sel (CAST(user_id AS HUGEINT) + 7 + i + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
            FROM $src CROSS JOIN ks CROSS JOIN c),
       ${pfx}a AS (SELECT $sel xor(x1, x1 // 1073741824) AS x2, m64 FROM ${pfx}0),
       ${pfx}1 AS (SELECT $sel (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ${pfx}a),
       ${pfx}b AS (SELECT $sel xor(x3, x3 // 134217728) AS x4, m64 FROM ${pfx}1),
       ${pfx}2 AS (SELECT $sel (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM ${pfx}b),
       ${pfx}3 AS (SELECT $sel xor(x5, x5 // 2147483648) AS x6 FROM ${pfx}2),
       ${pfx}pos AS (SELECT $sel x6 % 65536 AS pos FROM ${pfx}3)"""

  /** Direct Bloom word-table replay over `WHERE $where` user_ids:
    * distinct (word, bit) positions, bits = HUGEINT sum of exact
    * power-of-two literals (a 64-row VALUES table — never float pow),
    * reinterpreted as the signed 64-bit word Spark's shiftleft/bit_or
    * produces.
    */
  private def bloomWordsOracle(where: String): String = {
    val powers = (0 to 63).map(i => s"($i, ${BigInt(1) << i})").mkString(", ")
    s"""WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
       ks AS (SELECT range AS i FROM range(0, 4)),
       src AS (SELECT user_id FROM events
               WHERE ($where) AND user_id IS NOT NULL),
       ${bloomChainCtes("u", "src", "")},
       wb AS (SELECT DISTINCT pos // 64 AS w, pos % 64 AS b FROM upos),
       pw(bi, p) AS (VALUES $powers),
       sm AS (SELECT w, sum(p) AS s2 FROM wb JOIN pw ON pw.bi = wb.b GROUP BY w)
       SELECT CAST(w AS BIGINT) AS word_idx,
         CAST(CASE WHEN s2 >= CAST(9223372036854775808 AS HUGEINT)
                   THEN s2 - CAST(18446744073709551616 AS HUGEINT)
                   ELSE s2 END AS BIGINT) AS bits
       FROM sm"""
  }

  /** Bloom probe replay: member positions as a distinct set, each
    * candidate position checked by semi-join (set-membership of the
    * position IS the word-table bit test), hit = min over the k
    * positions; is_member tags the exact set so a hash match also
    * proves no false negatives row-by-row.
    */
  private val bloomProbeOracle: String =
    s"""WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
       ks AS (SELECT range AS i FROM range(0, 4)),
       mem AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
       cand AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
       ${bloomChainCtes("am", "mem", "")},
       apos AS (SELECT DISTINCT pos FROM ampos),
       ${bloomChainCtes("bm", "cand", "user_id,")},
       ph AS (SELECT bp.user_id, CASE WHEN ap.pos IS NOT NULL THEN 1 ELSE 0 END AS s
              FROM bmpos bp LEFT JOIN apos ap ON ap.pos = bp.pos),
       pr AS (SELECT user_id, min(s) AS hit FROM ph GROUP BY user_id)
       SELECT pr.user_id, CAST(pr.hit AS BIGINT) AS bloom_hit,
         CAST(CASE WHEN mem.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_member
       FROM pr LEFT JOIN mem ON mem.user_id = pr.user_id"""

  val oracles: Map[String, String] = Map(
    // ===== round-13 oracles =====
    "sketch_bloom" -> bloomProbeOracle,
    "sketch_bloom_merge" ->
      bloomWordsOracle("event_type IN ('click', 'purchase')"),
    "sketch_bloom_stream" -> bloomWordsOracle("event_type = 'purchase'"),
    // independent JW kernel (DuckDB's rapidfuzz); both engines round
    // to 9 dp before filtering, the text_collocations ulp discipline
    "link_jw" ->
      """SELECT least(a.p_partkey, b.p_partkey) AS id_a,
           greatest(a.p_partkey, b.p_partkey) AS id_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9) >= 0.88""",
    // cross-corpus replay: same noisy-batch derivation, same kernel
    "link_jw_incr" ->
      """WITH batch AS (SELECT p_partkey + 5000000 AS k,
             substr(p_name, 1, length(p_name) - 1) AS name,
             p_brand, p_size FROM part)
         SELECT bt.k AS id_a, a.p_partkey AS id_b,
           round(jaro_winkler_similarity(bt.name, a.p_name), 9) AS jw
         FROM batch bt JOIN part a
           ON bt.p_brand = a.p_brand AND bt.p_size = a.p_size
         WHERE round(jaro_winkler_similarity(bt.name, a.p_name), 9) >= 0.95""",
    // streamed twin == the batch run: same replay
    "link_jw_stream" ->
      """WITH batch AS (SELECT p_partkey + 5000000 AS k,
             substr(p_name, 1, length(p_name) - 1) AS name,
             p_brand, p_size FROM part)
         SELECT bt.k AS id_a, a.p_partkey AS id_b,
           round(jaro_winkler_similarity(bt.name, a.p_name), 9) AS jw
         FROM batch bt JOIN part a
           ON bt.p_brand = a.p_brand AND bt.p_size = a.p_size
         WHERE round(jaro_winkler_similarity(bt.name, a.p_name), 9) >= 0.95""",
    // same lead-window sequence, gram = '>'-joined labels with the
    // operator's separator escaping ('\'→'\\', '>'→'\>' — a no-op for
    // the events vocabulary, the contract for arbitrary ones)
    "seq_ngrams" ->
      """WITH seq AS (SELECT
              replace(replace(event_type, '\', '\\'), '>', '\>') AS s0,
              lead(replace(replace(event_type, '\', '\\'), '>', '\>'), 1)
                OVER (PARTITION BY user_id
                ORDER BY epoch_ns(ts) // 1000000000, event_id) AS s1,
              lead(replace(replace(event_type, '\', '\\'), '>', '\>'), 2)
                OVER (PARTITION BY user_id
                ORDER BY epoch_ns(ts) // 1000000000, event_id) AS s2
            FROM events)
         SELECT s0 || '>' || s1 || '>' || s2 AS gram,
           CAST(count(*) AS BIGINT) AS support
         FROM seq WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
         GROUP BY 1 HAVING count(*) >= 50""",
    // same JW threshold feeding the graph_components closure playbook
    "link_clusters" ->
      """WITH RECURSIVE jw AS (
           SELECT a.p_partkey AS u0, b.p_partkey AS v0
           FROM part a JOIN part b
             ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             AND a.p_partkey < b.p_partkey
           WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9) >= 0.88),
         edges AS (SELECT u0 AS u, v0 AS v FROM jw
               UNION SELECT v0, u0 FROM jw),
         reach AS (SELECT u AS a, v AS b FROM edges
               UNION
               SELECT r.a, e2.v FROM reach r JOIN edges e2 ON r.b = e2.u),
         lab AS (SELECT a AS part, least(min(b), a) AS entity
               FROM reach GROUP BY a)
         SELECT part, entity FROM lab""",
    // ===== round-10 oracles =====
    // pair-class counting over the same user-parity sample: the pair
    // MULTISET is numbering-invariant, so DuckDB's own row_number is a
    // valid dedupe; integer class counts, one correctly-rounded sqrt
    "stats_kendall" ->
      """WITH base AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 AS x, value AS y
            FROM events WHERE user_id % 64 = 0 AND value IS NOT NULL),
         rn AS (SELECT g, x, y,
              row_number() OVER (PARTITION BY g ORDER BY x, y) AS i
            FROM base),
         p AS (SELECT a.g,
              CASE WHEN a.x = b.x AND a.y = b.y THEN 'txy'
                   WHEN a.x = b.x THEN 'tx'
                   WHEN a.y = b.y THEN 'ty'
                   WHEN (a.x < b.x) = (a.y < b.y) THEN 'c'
                   ELSE 'd' END AS cls
            FROM rn a JOIN rn b ON a.g = b.g AND a.i < b.i),
         agg AS (SELECT g,
              CAST(sum(CASE WHEN cls = 'c' THEN 1 ELSE 0 END) AS HUGEINT) AS c,
              CAST(sum(CASE WHEN cls = 'd' THEN 1 ELSE 0 END) AS HUGEINT) AS d,
              CAST(sum(CASE WHEN cls = 'tx' THEN 1 ELSE 0 END) AS HUGEINT) AS tx,
              CAST(sum(CASE WHEN cls = 'ty' THEN 1 ELSE 0 END) AS HUGEINT) AS ty,
              CAST(sum(CASE WHEN cls = 'txy' THEN 1 ELSE 0 END) AS HUGEINT) AS txy,
              CAST(count(*) AS HUGEINT) AS np
            FROM p GROUP BY g)
         SELECT g AS event_type,
           CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           CAST(tx + txy AS BIGINT) AS ties_x,
           CAST(ty + txy AS BIGINT) AS ties_y,
           CASE WHEN np - tx - txy > 0 AND np - ty - txy > 0 THEN
             CAST(CAST(c - d AS BIGINT) AS DOUBLE) /
             sqrt(CAST(CAST(np - tx - txy AS BIGINT) AS DOUBLE) *
                  CAST(CAST(np - ty - txy AS BIGINT) AS DOUBLE)) END
             AS kendall_tau
         FROM agg""",
    // cent-exact HUGEINT sufficient statistics; the between-group sum
    // folds in category order exactly as the operator's sorted fold
    "stats_anova" ->
      """WITH b AS (SELECT event_type AS g,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
            FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         cats AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
              sum(v) AS s, sum(v * v) AS ss FROM b GROUP BY g),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS ntot,
              CAST(sum(s) AS DOUBLE) AS grand,
              CAST(sum(ss) AS DOUBLE) AS sstot,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                     CAST(n AS DOUBLE) ORDER BY g)),
                (a, b) -> a + b) AS sqmeans
            FROM cats)
         SELECT k, ntot AS n,
           sqmeans - grand * grand / CAST(ntot AS DOUBLE) AS ss_between,
           sstot - sqmeans AS ss_within,
           CASE WHEN k > 1 AND ntot > k AND sstot - sqmeans > 0 THEN
             ((sqmeans - grand * grand / CAST(ntot AS DOUBLE)) /
              CAST(k - 1 AS DOUBLE)) /
             ((sstot - sqmeans) / CAST(ntot - k AS DOUBLE)) END AS f_stat
         FROM f""",
    // doubled midranks from distinct-value cumulative counts (the
    // operator's windowless rank), tie-corrected H, category fold
    "stats_kruskal" ->
      """WITH b AS (SELECT event_type AS g, value AS v FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL),
         cv AS (SELECT g, v, CAST(count(*) AS HUGEINT) AS cnt
            FROM b GROUP BY 1, 2),
         vs AS (SELECT v, sum(cnt) AS t FROM cv GROUP BY v),
         rk AS (SELECT v, t,
              coalesce(sum(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                CAST(0 AS HUGEINT)) AS below
            FROM vs),
         r2 AS (SELECT v, 2 * below + t + 1 AS r2 FROM rk),
         cats AS (SELECT g, sum(cnt) AS n, sum(cnt * r2.r2) AS rs
            FROM cv JOIN r2 USING (v) GROUP BY g),
         ties AS (SELECT coalesce(sum(t * t * t - t),
              CAST(0 AS HUGEINT)) AS tie FROM vs),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS ntot,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE) /
                     CAST(n AS DOUBLE) ORDER BY g)),
                (a, b) -> a + b) AS sqrank
            FROM cats)
         SELECT k, ntot AS n, CAST(tie AS BIGINT) AS tie_term,
           CASE WHEN ntot > k AND
             CAST(1.0 AS DOUBLE) - CAST(tie AS DOUBLE) /
               (CAST(ntot AS DOUBLE) * CAST(ntot AS DOUBLE) *
                CAST(ntot AS DOUBLE) - CAST(ntot AS DOUBLE)) > 0 THEN
             (CAST(3.0 AS DOUBLE) / (CAST(ntot AS DOUBLE) *
                (CAST(ntot AS DOUBLE) + CAST(1.0 AS DOUBLE))) * sqrank -
              CAST(3.0 AS DOUBLE) *
                (CAST(ntot AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
             (CAST(1.0 AS DOUBLE) - CAST(tie AS DOUBLE) /
               (CAST(ntot AS DOUBLE) * CAST(ntot AS DOUBLE) *
                CAST(ntot AS DOUBLE) - CAST(ntot AS DOUBLE))) END AS h_stat
         FROM f CROSS JOIN ties""",
    // triangles via the independent id-ordered 3-way self-join (the
    // graph_triangles oracle), exploded per vertex + degree join
    "graph_clustering" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
              (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY 1),
         tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
              (SELECT a AS node FROM tris UNION ALL
               SELECT b FROM tris UNION ALL SELECT c FROM tris)
              GROUP BY 1)
         SELECT d.node, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
             CAST(coalesce(t.n_triangles, 0) * 2 AS DOUBLE) /
             CAST(d.degree * (d.degree - 1) AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS clustering
         FROM deg d LEFT JOIN tc t USING (node)""",
    // sqrt-free by symmetry: both directions included so Σx = Σy and
    // the denominator is a plain rational; HUGEINT exact sums
    "graph_assort" ->
      """WITH edges AS (SELECT DISTINCT o.o_custkey AS src,
              1000000 + l.l_suppkey AS dst
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         bidir AS (SELECT src AS a, dst AS b FROM edges
                   UNION ALL SELECT dst, src FROM edges),
         deg AS (SELECT a AS n, CAST(count(*) AS HUGEINT) AS d
                 FROM bidir GROUP BY 1),
         xy AS (SELECT da.d AS x, db.d AS y
                FROM bidir j JOIN deg da ON da.n = j.a
                JOIN deg db ON db.n = j.b),
         st AS (SELECT CAST(count(*) AS HUGEINT) AS m,
                sum(x) AS sx, sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM xy)
         SELECT CAST(m AS BIGINT) AS m_directed_edges,
           CASE WHEN m * sxx - sx * sx <> 0 THEN
             CAST(m * sxy - sx * sx AS DOUBLE) /
             CAST(m * sxx - sx * sx AS DOUBLE) END AS assortativity
         FROM st""",
    // the level/trend recursion as an ordered list fold with a
    // [level, trend] accumulator — term-for-term the operator's
    // sequential fold, duplicated new-level expression included
    "ts_holt" ->
      """WITH daily AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS rev
            FROM events GROUP BY 1, 2),
         ser AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points,
              list([rev, CAST(0.0 AS DOUBLE)] ORDER BY day) AS ys
            FROM daily GROUP BY g),
         folded AS (SELECT g, n_points,
              list_reduce(
                list_prepend([ys[1][1], CAST(0.0 AS DOUBLE)], ys[2:]),
                (acc, x) ->
                  [CAST(0.5 AS DOUBLE) * x[1] +
                     (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) *
                       (acc[1] + acc[2]),
                   CAST(0.25 AS DOUBLE) *
                     ((CAST(0.5 AS DOUBLE) * x[1] +
                       (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) *
                         (acc[1] + acc[2])) - acc[1]) +
                   (CAST(1.0 AS DOUBLE) - CAST(0.25 AS DOUBLE)) * acc[2]])
                AS st
            FROM ser)
         SELECT g AS event_type, n_points, st[1] AS level, st[2] AS trend,
           st[1] + st[2] AS forecast
         FROM folded""",
    // integer daily counts, HUGEINT sufficient statistics per lag,
    // one correctly-rounded sqrt
    "ts_crosscorr" ->
      """WITH a AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS HUGEINT) AS va
            FROM events WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS HUGEINT) AS vb
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
         lags AS (SELECT unnest(range(-3, 4)) AS lag),
         j AS (SELECT l.lag, a.va, b.vb
               FROM a CROSS JOIN lags l
               JOIN b ON b.day = a.day + l.lag),
         st AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
              sum(va) AS sa, sum(vb) AS sb, sum(va * vb) AS sab,
              sum(va * va) AS saa, sum(vb * vb) AS sbb
            FROM j GROUP BY lag)
         SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
             CAST(n * sab - sa * sb AS DOUBLE) /
             sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
                  CAST(n * sbb - sb * sb AS DOUBLE)) END AS xcorr
         FROM st""",
    // open/close by (ts, event_id) row_number — the same total order
    // as the operator's struct min/max; decimal-exact high/low
    "ts_ohlc" ->
      """WITH e AS (SELECT event_type,
              epoch_ns(ts) // 1000000000 AS t, event_id AS id,
              CAST(value AS DECIMAL(18,2)) AS v
            FROM events WHERE value IS NOT NULL),
         p AS (SELECT event_type, t // 86400 AS period, t, id, v FROM e),
         r AS (SELECT *,
              row_number() OVER (PARTITION BY event_type, period
                ORDER BY t, id) AS rf,
              row_number() OVER (PARTITION BY event_type, period
                ORDER BY t DESC, id DESC) AS rl
            FROM p)
         SELECT event_type, CAST(period AS BIGINT) AS period,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rf = 1 THEN v END) AS DOUBLE) AS open,
           CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
           CAST(max(CASE WHEN rl = 1 THEN v END) AS DOUBLE) AS close
         FROM r GROUP BY 1, 2""",
    // EMD by cross-multiplied integer cumulative counts over the full
    // (segment x bucket) grid, one division
    "privacy_tclose" ->
      """WITH c0 AS (SELECT c_mktsegment AS seg,
              (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                + 100000) // 200000 AS bkt
            FROM customer),
         cell AS (SELECT seg, bkt, CAST(count(*) AS HUGEINT) AS c
            FROM c0 GROUP BY 1, 2),
         grp AS (SELECT seg, sum(c) AS ng FROM cell GROUP BY 1),
         cat AS (SELECT bkt, sum(c) AS call FROM cell GROUP BY 1),
         tot AS (SELECT sum(call) AS nt FROM cat),
         mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM cat),
         grid AS (SELECT g.seg, g.ng, k.bkt, k.call,
              coalesce(cl.c, CAST(0 AS HUGEINT)) AS c
            FROM grp g CROSS JOIN cat k
            LEFT JOIN cell cl ON cl.seg = g.seg AND cl.bkt = k.bkt),
         cum AS (SELECT seg, ng,
              sum(c) OVER (PARTITION BY seg ORDER BY bkt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
              sum(call) OVER (PARTITION BY seg ORDER BY bkt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
            FROM grid),
         agg AS (SELECT seg, ng,
              sum(abs(cumg * t.nt - cumall * ng)) AS num, max(t.nt) AS nt
            FROM cum CROSS JOIN tot t GROUP BY 1, 2)
         SELECT seg AS c_mktsegment, CAST(ng AS BIGINT) AS n,
           CASE WHEN m.m > 1 THEN
             CAST(num AS DOUBLE) / CAST(ng * nt * (m.m - 1) AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS emd
         FROM agg CROSS JOIN mm m""",
    // exact decimal running sums over the same 20-row frame; bands
    // replayed in the operator's fixed double expression order
    "ts_bollinger" ->
      """WITH daily AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS rev
            FROM events GROUP BY 1, 2),
         c AS (SELECT g, day,
              CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cts
            FROM daily),
         wnd AS (SELECT g, day, cts,
              CAST(count(*) OVER win AS HUGEINT) AS n,
              sum(cts) OVER win AS s,
              sum(cts * cts) OVER win AS ss
            FROM c WINDOW win AS (PARTITION BY g ORDER BY day
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT g AS event_type, day AS x, CAST(n AS BIGINT) AS n_window,
           CAST(cts AS DOUBLE) / CAST(100 AS DOUBLE) AS value,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE)
             AS mean,
           sqrt(CAST(n * ss - s * s AS DOUBLE) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
             (CAST(100 AS DOUBLE) * CAST(100 AS DOUBLE))) AS stddev,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE) +
             CAST(2.0 AS DOUBLE) *
             sqrt(CAST(n * ss - s * s AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
               (CAST(100 AS DOUBLE) * CAST(100 AS DOUBLE))) AS upper,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE) -
             CAST(2.0 AS DOUBLE) *
             sqrt(CAST(n * ss - s * s AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
               (CAST(100 AS DOUBLE) * CAST(100 AS DOUBLE))) AS lower
         FROM wnd""",
    // degree histogram over the independent frequent-pair edge set
    "graph_degrees" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
              (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY 1)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg GROUP BY 1""",
    // the ANOVA tail on integer doubled deviations from the doubled
    // median (rank-position values are sorted-multiset positions —
    // tie order inside row_number cannot change them)
    "stats_levene" ->
      """WITH b AS (SELECT event_type AS g,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         rk AS (SELECT g, c,
              row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
              count(*) OVER (PARTITION BY g) AS n FROM b),
         med AS (SELECT g, CAST((sum(c) * 2) // count(*) AS BIGINT) AS m2
            FROM rk WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
            GROUP BY g),
         dev AS (SELECT rk.g,
              CAST(abs(rk.c * 2 - med.m2) AS HUGEINT) AS v
            FROM rk JOIN med USING (g)),
         cats AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
              sum(v) AS s, sum(v * v) AS ss FROM dev GROUP BY g),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k,
              CAST(sum(n) AS BIGINT) AS ntot,
              CAST(sum(s) AS DOUBLE) AS grand,
              CAST(sum(ss) AS DOUBLE) AS sstot,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                     CAST(n AS DOUBLE) ORDER BY g)),
                (a, b) -> a + b) AS sqmeans
            FROM cats)
         SELECT k, ntot AS n,
           sqmeans - grand * grand / CAST(ntot AS DOUBLE) AS ss_between,
           sstot - sqmeans AS ss_within,
           CASE WHEN k > 1 AND ntot > k AND sstot - sqmeans > 0 THEN
             ((sqmeans - grand * grand / CAST(ntot AS DOUBLE)) /
              CAST(k - 1 AS DOUBLE)) /
             ((sstot - sqmeans) / CAST(ntot - k AS DOUBLE)) END AS f_stat
         FROM f""",
    // distinct directed transition edges + an EXISTS reverse probe
    "graph_recip" ->
      """WITH s AS (SELECT user_id, event_id, event_type,
              epoch_ns(ts) // 1000000000 AS t FROM events),
         tr AS (SELECT user_id, event_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY t, event_id) AS prev
            FROM s),
         e AS (SELECT DISTINCT prev AS s2, event_type AS t2 FROM tr
               WHERE prev IS NOT NULL AND prev <> event_type),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
         r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM e a
               WHERE EXISTS (SELECT 1 FROM e b
                 WHERE b.s2 = a.t2 AND b.t2 = a.s2))
         SELECT m_edges, n_reciprocal,
           CASE WHEN m_edges > 0 THEN
             CAST(n_reciprocal AS DOUBLE) / CAST(m_edges AS DOUBLE) END
             AS reciprocity
         FROM m CROSS JOIN r""",
    // the splitmix64(id + 11) chain, signed reinterpretation, then
    // the (hash, id) rank per type
    "sample_fixed" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_id, event_type,
              (CAST(event_id AS HUGEINT) + 11 +
               CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
            FROM events CROSS JOIN c),
         ma AS (SELECT event_id, event_type,
              xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT event_id, event_type, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT event_id, event_type,
              xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT event_id, event_type, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT event_id, event_type,
              xor(x5, x5 // 2147483648) AS x6 FROM m2),
         sg AS (SELECT event_id, event_type,
              CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
                THEN x6 - CAST(18446744073709551616 AS HUGEINT)
                ELSE x6 END AS BIGINT) AS h FROM m3),
         rk AS (SELECT event_id, event_type,
              row_number() OVER (PARTITION BY event_type
                ORDER BY h, event_id) AS sample_rank FROM sg)
         SELECT event_id, event_type, CAST(sample_rank AS BIGINT)
           AS sample_rank
         FROM rk WHERE sample_rank <= 50""",
    // full-outer key classification with null-safe column compares;
    // mismatch columns named in sorted order
    "dq_reconcile" ->
      """WITH a AS (SELECT o_orderkey, o_custkey,
              CAST(o_totalprice AS DECIMAL(18,2)) AS p,
              o_orderstatus AS st FROM orders),
         b AS (SELECT o_orderkey, o_custkey,
              CASE WHEN o_orderkey % 97 = 0
                THEN CAST(p + CAST(1 AS DECIMAL(18,2)) AS DECIMAL(18,2))
                ELSE p END AS p,
              CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE st END AS st
            FROM a WHERE o_orderkey % 101 <> 0),
         j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
              a.o_orderkey IS NOT NULL AS ina,
              b.o_orderkey IS NOT NULL AS inb,
              a.o_custkey IS NOT DISTINCT FROM b.o_custkey AS eqc,
              a.p IS NOT DISTINCT FROM b.p AS eqp,
              a.st IS NOT DISTINCT FROM b.st AS eqs
            FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         SELECT o_orderkey,
           CASE WHEN NOT inb THEN 'only_a'
                WHEN NOT ina THEN 'only_b'
                WHEN NOT (eqc AND eqp AND eqs) THEN 'mismatch'
                ELSE 'match' END AS status,
           CASE WHEN ina AND inb THEN concat_ws(',',
               CASE WHEN NOT eqc THEN 'o_custkey' END,
               CASE WHEN NOT eqs THEN 'o_orderstatus' END,
               CASE WHEN NOT eqp THEN 'o_totalprice' END)
           ELSE '' END AS mismatch_cols
         FROM j""",
    "graph_pagerank" -> pageRankOracle(5, 0.85),
    "graph_ppr" -> pprOracle(5, 0.85),
    "graph_hits" -> hitsOracle(3),
    "graph_kcore" -> kCoreOracle(3, 8),
    // the splitmix64 chain (seed 7) >> 1, k smallest distinct hashes,
    // (k-1)*2^63/theta estimator — BIGINT->DOUBLE rounding route
    "sketch_kmv" -> oraclesKmvSql,
    "sketch_kmv_setops" -> oraclesKmvSetOpsSql,
    "sketch_kll" -> oraclesKllSql,
    // merge(s(A), s(B)) == s(A ∪ B) exactly (per-item levels), so the
    // direct replay is the oracle for the merged formulation too
    "sketch_kll_merge" -> oraclesKllSql,
    // counts + list_reduce fold in category order; same ln
    "stats_entropy" ->
      """WITH base AS (SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
              event_type AS c
            FROM events WHERE event_type IS NOT NULL),
         cnts AS (SELECT day, c, CAST(count(*) AS BIGINT) AS cnt
            FROM base GROUP BY 1, 2),
         wn AS (SELECT day, c, cnt,
              sum(cnt) OVER (PARTITION BY day) AS n
            FROM cnts),
         terms AS (SELECT day, c, cnt, n,
              0.0 - (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS term
            FROM wn)
         SELECT day, CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_categories,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(term ORDER BY c)), (a, b) -> a + b) AS entropy,
           CASE WHEN count(*) > 1 THEN
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(term ORDER BY c)), (a, b) -> a + b) /
             ln(CAST(count(*) AS DOUBLE)) END AS normalized
         FROM terms GROUP BY day""",
    // the same driver-computed log-likelihood weights as the
    // operator (Double.toString round-trips the exact bits); plain
    // equality suffices — every compared field is non-null
    "link_score" -> {
      // weights derived EXACTLY as the operator derives them — via
      // (1 - m)/(1 - u) on the same doubles (1 - 0.9 is not the
      // double 0.1), StrictMath for JIT-independent bits
      def w(x: Double) = s"CAST('${x}' AS DOUBLE)"
      def aw(m: Double, u: Double) = w(StrictMath.log(m / u))
      def dw(m: Double, u: Double) = w(StrictMath.log((1 - m) / (1 - u)))
      val (mkA, mkD) = (aw(0.9, 0.2), dw(0.9, 0.2))
      val (bpA, bpD) = (aw(0.7, 0.5), dw(0.7, 0.5))
      val (nlA, nlD) = (aw(0.95, 0.1), dw(0.95, 0.1))
      s"""WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
              CAST(c_acctbal >= 0 AS VARCHAR) AS bal_pos,
              substr(c_name, length(c_name), 1) AS name_last
            FROM customer),
         p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
              (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END +
               CASE WHEN a.bal_pos = b.bal_pos THEN 1 ELSE 0 END +
               CASE WHEN a.name_last = b.name_last THEN 1 ELSE 0 END)
                AS n_agree,
              (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN $mkA ELSE $mkD END +
               CASE WHEN a.bal_pos = b.bal_pos THEN $bpA ELSE $bpD END +
               CASE WHEN a.name_last = b.name_last THEN $nlA ELSE $nlD END)
                AS score
            FROM c a JOIN c b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree, score
         FROM p WHERE score >= CAST(2.0 AS DOUBLE)"""
    },
    "text_scripts" -> oraclesTextScriptsSql,
    "text_scripts_stream" -> oraclesTextScriptsSql,
    "sketch_kmv_setops_stream" -> oraclesKmvSetOpsSql,
    "stats_fdr" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_type, event_id, user_id,
              (CAST(event_id AS HUGEINT) + 13 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
              FROM events CROSS JOIN c),
         ma AS (SELECT event_type, event_id, user_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT event_type, event_id, user_id, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT event_type, event_id, user_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT event_type, event_id, user_id, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT event_type, event_id, user_id, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         sg AS (SELECT event_type, event_id, user_id,
              CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
                THEN x6 - m64 ELSE x6 END AS sv
            FROM m3),
         pv AS (SELECT event_type, event_id,
              CASE WHEN user_id % 10 = 0
                THEN (CAST(((sv % 1000000) + 1000000) % 1000000 AS DOUBLE) /
                      CAST(1000000 AS DOUBLE)) / CAST(1000.0 AS DOUBLE)
                ELSE CAST(((sv % 1000000) + 1000000) % 1000000 AS DOUBLE) /
                     CAST(1000000 AS DOUBLE) END AS p
            FROM sg),
         rk AS (SELECT event_type, event_id, p,
              CAST(row_number() OVER (PARTITION BY event_type
                ORDER BY p, event_id) AS BIGINT) AS p_rank,
              count(*) OVER (PARTITION BY event_type) AS m
            FROM pv),
         ks AS (SELECT event_type, event_id, p, p_rank,
              coalesce(max(CASE WHEN p * CAST(m AS DOUBLE) <=
                  CAST(p_rank AS DOUBLE) * CAST(0.05 AS DOUBLE)
                THEN p_rank END) OVER (PARTITION BY event_type),
                0) AS k_star
            FROM rk)
         SELECT event_type, event_id, p, p_rank,
           CAST(k_star AS BIGINT) AS k_star,
           p_rank <= k_star AS rejected
         FROM ks""",
    "ts_seasonal_effect" ->
      """WITH daily AS (SELECT event_type AS g,
              (epoch_ns(ts) // 1000000000) // 86400 AS day,
              CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS rev
            FROM events GROUP BY 1, 2),
         ph AS (SELECT g, ((day % 7) + 7) % 7 AS phase,
              CAST(count(*) AS BIGINT) AS n,
              sum(CAST(rev AS DECIMAL(18,2))) AS s
            FROM daily GROUP BY 1, 2),
         tot AS (SELECT g, phase, n, s,
              sum(n) OVER (PARTITION BY g) AS tn,
              sum(s) OVER (PARTITION BY g) AS ts
            FROM ph)
         SELECT g AS event_type, CAST(phase AS BIGINT) AS phase, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS phase_mean,
           CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) AS overall_mean,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) AS effect
         FROM tot""",
    "ts_gaps" ->
      """WITH seq AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 AS ts_s,
              epoch_ns(ts) // 1000000000 -
                lag(epoch_ns(ts) // 1000000000) OVER (
                  PARTITION BY event_type
                  ORDER BY epoch_ns(ts) // 1000000000, event_id) AS gap
            FROM events),
         a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
              CAST(min(ts_s) AS BIGINT) AS t0,
              CAST(max(ts_s) AS BIGINT) AS t1,
              CAST(min(gap) AS BIGINT) AS min_gap,
              CAST(max(gap) AS BIGINT) AS max_gap,
              sum(CAST(gap AS HUGEINT) * gap) AS sg2
            FROM seq GROUP BY 1),
         d AS (SELECT g, n, t0, t1, min_gap, max_gap,
              CAST(n - 1 AS HUGEINT) * sg2 -
                CAST(t1 - t0 AS HUGEINT) * (t1 - t0) AS vnum,
              CAST(n - 1 AS HUGEINT) * (n - 2) AS vden
            FROM a)
         SELECT g AS event_type, n AS n_events,
           CAST(n - 1 AS BIGINT) AS n_gaps,
           CAST(t1 - t0 AS BIGINT) AS span_s,
           CASE WHEN n > 1 THEN CAST(t1 - t0 AS DOUBLE) /
             CAST(n - 1 AS DOUBLE) END AS mean_gap,
           min_gap, max_gap,
           CAST(vnum AS BIGINT) AS gap_var_num,
           CAST(vden AS BIGINT) AS gap_var_den,
           coalesce(abs(vnum) <= CAST('9223372036854775807' AS HUGEINT) AND
            vden <= CAST('9223372036854775807' AS HUGEINT), false) AS exact,
           CASE WHEN n > 2 THEN CAST(CAST(vnum AS BIGINT) AS DOUBLE) /
             CAST(CAST(vden AS BIGINT) AS DOUBLE) END AS gap_var
         FROM d""",
    // the streaming KMV state must equal the batch sketch of the
    // whole log — same oracle as sketch_kmv by the merge law
    "sketch_kmv_stream" -> oraclesKmvSql,
    // 2-batch stream state == batch sketch of the whole log — same
    // direct replay by the KLL merge law
    "sketch_kll_stream" -> oraclesKllSql,
    // signed-pmod fold assignment: s = two's-complement x6, fold =
    // ((s % 5) + 5) % 5 — NOT x6 % 5 (2^64 ≡ 1 mod 5)
    "sample_kfold" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_id,
              (CAST(event_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
              FROM events CROSS JOIN c),
         ma AS (SELECT event_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT event_id, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT event_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT event_id, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT event_id, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         sg AS (SELECT event_id,
              CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
                THEN x6 - m64 ELSE x6 END AS sv
            FROM m3)
         SELECT event_id,
           CAST(((sv % 5) + 5) % 5 AS BIGINT) AS fold
         FROM sg""",
    "ts_peaks" ->
      """WITH s AS (SELECT event_type,
              epoch_ns(ts) // 1000000000 AS ts_s, event_id, value,
              lag(value) OVER (PARTITION BY event_type
                ORDER BY epoch_ns(ts) // 1000000000, event_id) AS pv,
              lead(value) OVER (PARTITION BY event_type
                ORDER BY epoch_ns(ts) // 1000000000, event_id) AS nv
            FROM events)
         SELECT event_type, ts_s, event_id, value
         FROM s WHERE pv IS NOT NULL AND nv IS NOT NULL
           AND value > pv AND value > nv""",
    // deliberately quadratic NOT EXISTS — an independent formulation
    // of domination, not a replay of the prefix-max plan
    "join_skyline" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice
         FROM part p
         WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
           AND NOT EXISTS (
             SELECT 1 FROM part q
             WHERE q.p_brand = p.p_brand
               AND q.p_size >= p.p_size
               AND q.p_retailprice >= p.p_retailprice
               AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice))""",
    "seq_likelihood" ->
      """WITH seq AS (SELECT user_id,
              epoch_ns(ts) // 1000000000 AS ts_s, event_id, event_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY epoch_ns(ts) // 1000000000, event_id) AS prev
            FROM events),
         tr AS (SELECT prev, event_type AS next,
              CAST(count(*) AS BIGINT) AS cnt
            FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         model AS (SELECT prev, next, CAST(cnt AS DOUBLE) /
              CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE) AS p
            FROM tr),
         scored AS (SELECT s.user_id, s.ts_s, s.event_id,
              0.0 - ln(m.p) AS nll
            FROM seq s JOIN model m
              ON s.prev = m.prev AND s.event_type = m.next)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_transitions,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(nll ORDER BY ts_s, event_id)), (a, b) -> a + b)
             AS nll_total,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(nll ORDER BY ts_s, event_id)), (a, b) -> a + b) /
             CAST(count(*) AS DOUBLE) AS nll_mean
         FROM scored GROUP BY user_id""",
    "basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i, count(*) AS supp FROM items
               GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i, s.supp FROM items JOIN s USING (i)),
         pairs AS (SELECT a.i AS item_a, bb.i AS item_b,
             CAST(count(*) AS BIGINT) AS pair_cnt,
             CAST(max(a.supp) AS BIGINT) AS supp_a,
             CAST(max(bb.supp) AS BIGINT) AS supp_b
           FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
           GROUP BY 1, 2 HAVING count(*) >= 2),
         nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                FROM lineitem),
         bidir AS (
           SELECT item_a AS antecedent, item_b AS consequent, pair_cnt,
             supp_a AS supp_ante, supp_b AS supp_cons FROM pairs
           UNION ALL
           SELECT item_b, item_a, pair_cnt, supp_b, supp_a FROM pairs)
         SELECT antecedent, consequent, pair_cnt, supp_ante, supp_cons,
           nb.n AS n_baskets,
           CAST(pair_cnt AS DOUBLE) / CAST(supp_ante AS DOUBLE) AS confidence,
           CAST(pair_cnt AS DOUBLE) * CAST(nb.n AS DOUBLE) /
             (CAST(supp_ante AS DOUBLE) * CAST(supp_cons AS DOUBLE)) AS lift
         FROM bidir CROSS JOIN nb
         WHERE pair_cnt * 1000000 >= 50000 * supp_ante""",
    "join_asof" ->
      """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type IN ('click', 'view')),
         r AS (SELECT user_id AS p_uid, epoch_ns(ts) // 1000000000 AS p_ts_s,
                      max(event_id) AS p_event_id, max_by(value, event_id) AS p_value
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.ts_s, r.p_event_id, r.p_value, r.p_ts_s
         FROM l ASOF LEFT JOIN r ON l.user_id = r.p_uid AND l.ts_s >= r.p_ts_s""",
    "join_asof_broadcast" ->
      """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type IN ('click', 'view')),
         r AS (SELECT user_id AS p_uid, epoch_ns(ts) // 1000000000 AS p_ts_s,
                      max(event_id) AS p_event_id, max_by(value, event_id) AS p_value
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.ts_s, r.p_event_id, r.p_value, r.p_ts_s
         FROM l ASOF LEFT JOIN r ON l.user_id = r.p_uid AND l.ts_s >= r.p_ts_s""",
    "enrich_asof_stream" ->
      """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type IN ('click', 'view')),
         r AS (SELECT user_id AS p_uid, epoch_ns(ts) // 1000000000 AS p_ts_s,
                      max(event_id) AS p_event_id, max_by(value, event_id) AS p_value
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.ts_s, r.p_event_id, r.p_value, r.p_ts_s
         FROM l ASOF LEFT JOIN r ON l.user_id = r.p_uid AND l.ts_s >= r.p_ts_s""",
    "join_range" ->
      """WITH e AS (SELECT event_id, event_type, value,
                    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
         p AS (SELECT event_id AS promo_id, ts_s AS w_start, ts_s + 3600 AS w_end
               FROM e WHERE event_type = 'purchase' AND value >= 140.0)
         SELECT p.promo_id, p.w_start,
           count(e2.event_id) AS n_events,
           CAST(coalesce(sum(CAST(e2.value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_value
         FROM p LEFT JOIN e e2 ON e2.ts_s >= p.w_start AND e2.ts_s < p.w_end
         GROUP BY 1, 2""",
    "ts_concurrency" ->
      """WITH iv AS (SELECT event_type AS k,
              epoch_ns(ts) // 1000000000 AS s,
              epoch_ns(ts) // 1000000000 + 1800 AS e
            FROM events),
         b AS (SELECT k, s AS t, 1 AS d FROM iv
               UNION ALL SELECT k, e, -1 FROM iv),
         gg AS (SELECT k, t, d, CAST(sum(d) AS BIGINT) AS dd
                FROM b GROUP BY 1, 2, 3),
         cc AS (SELECT k, t, dd,
                sum(dd) OVER (PARTITION BY k ORDER BY t, d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
                FROM gg)
         SELECT k AS event_type, t AS at_time,
           CAST(max(conc) AS BIGINT) AS concurrency
         FROM cc GROUP BY 1, 2""",
    "stats_trend" ->
      """WITH daily AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS rev
            FROM events GROUP BY 1, 2),
         b AS (SELECT g, day - min(day) OVER (PARTITION BY g) AS x,
                CAST(CAST(rev AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
               FROM daily),
         a AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(x) AS HUGEINT) AS sx, sum(y) AS sy,
                sum(CAST(x AS HUGEINT) * y) AS sxy,
                CAST(sum(x * x) AS HUGEINT) AS sxx
               FROM b GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN abs(n * sxy - sx * sy) <= CAST('9223372036854775807' AS HUGEINT) AND
                     abs(n * sxx - sx * sx) <= CAST('9223372036854775807' AS HUGEINT)
             THEN CAST(n * sxy - sx * sy AS BIGINT) END AS slope_num,
           CASE WHEN abs(n * sxy - sx * sy) <= CAST('9223372036854775807' AS HUGEINT) AND
                     abs(n * sxx - sx * sx) <= CAST('9223372036854775807' AS HUGEINT)
             THEN CAST(n * sxx - sx * sx AS BIGINT) END AS slope_den,
           (abs(n * sxy - sx * sy) <= CAST('9223372036854775807' AS HUGEINT) AND
            abs(n * sxx - sx * sx) <= CAST('9223372036854775807' AS HUGEINT)) AS exact,
           (CASE WHEN abs(n * sxy - sx * sy) <= CAST('9223372036854775807' AS HUGEINT) AND
                      abs(n * sxx - sx * sx) <= CAST('9223372036854775807' AS HUGEINT)
             THEN CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE) /
                  CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE)
             ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                  CAST(n * sxx - sx * sx AS DOUBLE) END) /
            CAST(100 AS DOUBLE) AS slope,
           (CAST(CAST(sy AS BIGINT) AS DOUBLE) / CAST(CAST(n AS BIGINT) AS DOUBLE)
            - (CASE WHEN abs(n * sxy - sx * sy) <= CAST('9223372036854775807' AS HUGEINT) AND
                         abs(n * sxx - sx * sx) <= CAST('9223372036854775807' AS HUGEINT)
               THEN CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE) /
                    CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE)
               ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                    CAST(n * sxx - sx * sx AS DOUBLE) END)
              * CAST(CAST(sx AS BIGINT) AS DOUBLE)
              / CAST(CAST(n AS BIGINT) AS DOUBLE)) /
            CAST(100 AS DOUBLE) AS intercept
         FROM a""",
    // stats_trend's slope/intercept mirror the operator's degraded
    // route: out of the signed-64 window the rational casts
    // HUGEINT->DOUBLE directly (verified this round: DuckDB rounds
    // that cast to nearest, same as Spark's decimal->double), so a
    // larger-SF sweep compares the degraded doubles instead of
    // hard-erroring on the BIGINT cast.
    "stats_trimmed" ->
      """WITH base AS (SELECT event_type AS g, value AS v
            FROM events WHERE value IS NOT NULL),
         r AS (SELECT g, v,
              row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
              count(*) OVER (PARTITION BY g) AS n
            FROM base),
         kk AS (SELECT g, v, rn, n, (n * 100000) // 1000000 AS k FROM r)
         SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(max(k) AS BIGINT) AS n_trimmed_each,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept,
           CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS trimmed_mean
         FROM kk WHERE rn > k AND rn <= n - k GROUP BY 1""",
    // both snapshots' schemas come from DuckDB's own DESCRIBE — an
    // independent engine's schema reader checks the canonical-type
    // mapping, not just the drift join
    "schema_drift" ->
      """WITH ca AS (SELECT column_name AS col,
              lower(column_type) AS type_a
            FROM (DESCRIBE SELECT * FROM orders)),
         cb AS (SELECT column_name AS col,
              lower(column_type) AS type_b
            FROM (DESCRIBE SELECT * EXCLUDE (o_orderpriority)
                    REPLACE (CAST(o_custkey AS INTEGER) AS o_custkey),
                  'x' AS o_flag FROM orders))
         SELECT coalesce(ca.col, cb.col) AS "column",
           ca.type_a, cb.type_b,
           CASE WHEN ca.type_a IS NULL THEN 'added'
                WHEN cb.type_b IS NULL THEN 'removed'
                WHEN ca.type_a <> cb.type_b THEN 'type_changed'
                ELSE 'unchanged' END AS status
         FROM ca FULL OUTER JOIN cb ON ca.col = cb.col""",
    // doubled average ranks (2*rank + ties - 1, integers) replayed
    // with DuckDB's identical min-rank window; HUGEINT sums routed
    // BIGINT->DOUBLE exactly like the operator's in-window path
    "stats_spearman" ->
      """WITH base AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 AS x, value AS y
            FROM events WHERE user_id % 64 = 0
              AND ts IS NOT NULL AND value IS NOT NULL),
         rk AS (SELECT g,
              2 * rank() OVER (PARTITION BY g ORDER BY x)
                + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
              2 * rank() OVER (PARTITION BY g ORDER BY y)
                + count(*) OVER (PARTITION BY g, y) - 1 AS ry
            FROM base),
         a AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
              CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
              sum(CAST(rx AS HUGEINT) * ry) AS sxy,
              sum(CAST(rx AS HUGEINT) * rx) AS sxx,
              sum(CAST(ry AS HUGEINT) * ry) AS syy
            FROM rk GROUP BY 1),
         d AS (SELECT g, n,
              n * sxy - sx * sy AS num,
              n * sxx - sx * sx AS dx,
              n * syy - sy * sy AS dy
            FROM a)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(num AS BIGINT) AS spearman_num,
           CAST(dx AS BIGINT) AS den_x,
           CAST(dy AS BIGINT) AS den_y,
           CASE WHEN dx > 0 AND dy > 0 THEN
             CAST(CAST(num AS BIGINT) AS DOUBLE) /
             sqrt(CAST(CAST(dx AS BIGINT) AS DOUBLE) *
                  CAST(CAST(dy AS BIGINT) AS DOUBLE)) END AS spearman
         FROM d""",
    "stats_cohort" ->
      """WITH act AS (SELECT DISTINCT user_id,
              (epoch_ns(ts) // 1000000000) // 604800 AS p
            FROM events WHERE user_id IS NOT NULL),
         c AS (SELECT user_id, p,
              min(p) OVER (PARTITION BY user_id) AS cohort
            FROM act)
         SELECT cohort, p - cohort AS "offset",
           count(*) AS active_entities
         FROM c GROUP BY 1, 2""",
    "pivot_events" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1""",
    "stats_abtest" ->
      """WITH a AS (SELECT event_type,
              CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN user_id % 2 = 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
              CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
              CAST(sum(CASE WHEN user_id % 2 <> 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x2
            FROM events GROUP BY 1)
         SELECT event_type, n1, x1, n2, x2,
           (n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2 AND
            625 * CAST(n1 + n2 AS HUGEINT) *
              (CAST(x1 AS HUGEINT) * n2 - CAST(x2 AS HUGEINT) * n1) *
              (CAST(x1 AS HUGEINT) * n2 - CAST(x2 AS HUGEINT) * n1)
            >= 2401 * CAST(n1 AS HUGEINT) * n2 *
               CAST(x1 + x2 AS HUGEINT) *
               CAST(n1 + n2 - x1 - x2 AS HUGEINT)) AS significant
         FROM a""",
    // d=0 censor-only times multiply by exactly 1.0, so both engines
    // fold the same factor list; list(ORDER BY) in GROUP BY context
    // == the engine's array_sort + sequential fold
    "stats_survival" ->
      """WITH u AS (SELECT user_id,
              min(epoch_ns(ts) // 1000000000) AS fs,
              max(epoch_ns(ts) // 1000000000) AS ls
            FROM events GROUP BY 1),
         s AS (SELECT CASE WHEN ls < 1706140800
                      THEN (ls - fs) // 86400
                      ELSE (1706745600 - fs) // 86400 END AS t,
                (ls < 1706140800) AS obs FROM u),
         a AS (SELECT t,
                CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
                CAST(count(*) - sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS c
               FROM s GROUP BY 1),
         w1 AS (SELECT t, d, c,
                CAST(sum(d + c) OVER () AS BIGINT) -
                CAST(coalesce(sum(d + c) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n
               FROM a),
         w2 AS (SELECT t, d, c, n,
                CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS f
               FROM w1)
         SELECT x.t AS t_days, x.n AS n_risk, x.d AS n_churn,
           x.c AS n_censored,
           list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             list(y.f ORDER BY y.t)), (a, b) -> a * b) AS survival
         FROM w2 x JOIN w2 y ON y.t <= x.t
         GROUP BY 1, 2, 3, 4""",
    "stats_cusum" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
         s AS (SELECT g, day, x,
                sum(x - 60) OVER (PARTITION BY g ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS srun
               FROM e),
         m AS (SELECT g, day, x, srun,
                min(least(srun, 0)) OVER (PARTITION BY g ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mrun
               FROM s)
         SELECT g AS event_type, day, x,
           CAST(srun - mrun AS BIGINT) AS cusum,
           (srun - mrun > 100) AS alarm
         FROM m""",
    // two independent ASOF passes + choose — no shared window
    // machinery with the union-sort operator under test
    "ts_nearest" ->
      """WITH l AS (SELECT user_id, event_id,
                epoch_ns(ts) // 1000000000 AS ts_s
              FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id AS p_uid, epoch_ns(ts) // 1000000000 AS p_ts_s,
                max(event_id) AS p_event_id, max_by(value, event_id) AS p_value
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (SELECT l.user_id, l.event_id, l.ts_s, r.p_ts_s AS b_ts,
                r.p_event_id AS b_id, r.p_value AS b_v
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.p_uid AND l.ts_s >= r.p_ts_s),
         f AS (SELECT l.user_id, l.event_id, l.ts_s, r.p_ts_s AS f_ts,
                r.p_event_id AS f_id, r.p_value AS f_v
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.p_uid AND l.ts_s <= r.p_ts_s),
         j AS (SELECT b.user_id, b.event_id, b.ts_s,
                b_ts, b_id, b_v, f_ts, f_id, f_v,
                (b_ts IS NOT NULL AND b.ts_s - b_ts <= 3600) AS bok,
                (f_ts IS NOT NULL AND f_ts - b.ts_s <= 3600) AS fok
               FROM b JOIN f ON b.user_id = f.user_id
                 AND b.event_id = f.event_id),
         p AS (SELECT *,
                (bok AND (NOT fok OR ts_s - b_ts <= f_ts - ts_s)) AS takeb
               FROM j)
         SELECT user_id, event_id, ts_s,
           CASE WHEN takeb THEN b_ts WHEN fok THEN f_ts END AS near_p_ts_s,
           CASE WHEN takeb THEN b_id WHEN fok THEN f_id END AS p_event_id,
           CASE WHEN takeb THEN b_v WHEN fok THEN f_v END AS p_value,
           CASE WHEN takeb THEN 'prev' WHEN fok THEN 'next' END AS direction
         FROM p""",
    "stats_ks_drift" ->
      """WITH e AS (SELECT event_type AS g, value AS v,
              CASE WHEN epoch_ns(ts) // 1000000000 <= 1705363200
                   THEN 1 ELSE 0 END AS isref
            FROM events WHERE value IS NOT NULL),
         c AS (SELECT g, v, CAST(sum(isref) AS BIGINT) AS c1,
                CAST(count(*) - sum(isref) AS BIGINT) AS c2
               FROM e GROUP BY 1, 2),
         r AS (SELECT g, v,
                sum(c1) OVER (PARTITION BY g ORDER BY v) AS r1,
                sum(c2) OVER (PARTITION BY g ORDER BY v) AS r2,
                sum(c1) OVER (PARTITION BY g) AS n1,
                sum(c2) OVER (PARTITION BY g) AS n2
               FROM c),
         dd AS (SELECT g,
                abs(CAST(r1 AS HUGEINT) * CAST(n2 AS HUGEINT) -
                    CAST(r2 AS HUGEINT) * CAST(n1 AS HUGEINT)) AS diff,
                n1, n2 FROM r)
         SELECT g AS event_type,
           CAST(max(diff) AS BIGINT) AS d_num,
           CAST(max(n1) AS BIGINT) AS n_ref,
           CAST(max(n2) AS BIGINT) AS n_cur,
           CAST(CAST(max(diff) AS BIGINT) AS DOUBLE) /
             (CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE)) AS d
         FROM dd GROUP BY 1""",
    "stats_pr_curve" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s, (lang = 'en') AS y
              FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
         th AS (SELECT unnest([CAST(100 AS DOUBLE), CAST(250 AS DOUBLE),
                 CAST(500 AS DOUBLE), CAST(1000 AS DOUBLE),
                 CAST(2000 AS DOUBLE), CAST(4000 AS DOUBLE)]) AS threshold)
         SELECT th.threshold,
           CAST(sum(CASE WHEN d.s >= th.threshold AND d.y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN d.s >= th.threshold AND NOT d.y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN d.s < th.threshold AND d.y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN d.s < th.threshold AND NOT d.y THEN 1 ELSE 0 END) AS BIGINT) AS tn
         FROM th CROSS JOIN d GROUP BY 1""",
    // full replication: grid join keeps empty bins, list_reduce is the
    // same sequential fold in bin order, ln == java_ln (glibc)
    "stats_psi_drift" ->
      """WITH e AS (SELECT event_type AS g,
              least(greatest(CAST(floor((value - 0.0) / 25.0) AS BIGINT), 0), 15) AS bin,
              CASE WHEN epoch_ns(ts) // 1000000000 <= 1705363200
                   THEN 1 ELSE 0 END AS isref
            FROM events WHERE value IS NOT NULL),
         c AS (SELECT g, bin, CAST(sum(isref) AS BIGINT) AS cr,
                CAST(count(*) - sum(isref) AS BIGINT) AS cc
               FROM e GROUP BY 1, 2),
         grid AS (SELECT DISTINCT g FROM c),
         bl AS (SELECT g, gs.b AS bin
                FROM grid, generate_series(0, 15) AS gs(b)),
         f AS (SELECT bl.g, bl.bin, coalesce(cr, 0) AS cr,
                coalesce(cc, 0) AS cc
               FROM bl LEFT JOIN c ON bl.g = c.g AND bl.bin = c.bin),
         tt AS (SELECT g, CAST(sum(cr) AS BIGINT) AS n_ref,
                CAST(sum(cc) AS BIGINT) AS n_cur FROM f GROUP BY 1),
         tm AS (SELECT f.g, f.bin, tt.n_ref, tt.n_cur,
                ((CAST(cr + 1 AS DOUBLE) / (CAST(n_ref AS DOUBLE) + CAST(16 AS DOUBLE)))
                 - (CAST(cc + 1 AS DOUBLE) / (CAST(n_cur AS DOUBLE) + CAST(16 AS DOUBLE)))) *
                ln((CAST(cr + 1 AS DOUBLE) / (CAST(n_ref AS DOUBLE) + CAST(16 AS DOUBLE)))
                   / (CAST(cc + 1 AS DOUBLE) / (CAST(n_cur AS DOUBLE) + CAST(16 AS DOUBLE)))) AS t
               FROM f JOIN tt ON f.g = tt.g)
         SELECT g AS event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY bin)),
             (a, b) -> a + b) AS psi
         FROM tm GROUP BY 1""",
    "attribution_last_touch" ->
      """WITH p AS (SELECT user_id, event_id,
                epoch_ns(ts) // 1000000000 AS ts_s, value
              FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id AS t_uid,
                epoch_ns(ts) // 1000000000 AS touch_ts,
                max(event_id) AS touch_id,
                max_by(event_type, event_id) AS touch_type
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY 1, 2),
         j AS (SELECT p.value,
                CASE WHEN t.touch_ts IS NOT NULL
                       AND p.ts_s - t.touch_ts <= 7200
                     THEN t.touch_type ELSE 'none' END AS channel
               FROM p ASOF LEFT JOIN tch t
                 ON p.user_id = t.t_uid AND p.ts_s >= t.touch_ts)
         SELECT channel, count(*) AS conversions,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM j GROUP BY 1""",
    "attribution_linear" ->
      """WITH p AS (SELECT event_id, user_id,
                epoch_ns(ts) // 1000000000 AS ts_s, value
              FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id AS t_uid,
                epoch_ns(ts) // 1000000000 AS touch_ts, event_type
              FROM events WHERE event_type IN ('click', 'view')),
         hit AS (SELECT p.event_id AS cid, p.user_id, p.ts_s, p.value,
                t.event_type AS channel, count(*) AS k_c
              FROM p JOIN tch t ON p.user_id = t.t_uid
                AND t.touch_ts <= p.ts_s AND p.ts_s - t.touch_ts <= 7200
              GROUP BY 1, 2, 3, 4, 5),
         win AS (SELECT cid, user_id, ts_s, value, channel, k_c,
                sum(k_c) OVER (PARTITION BY cid) AS n_touches
              FROM hit)
         SELECT cid AS conversion_id, user_id AS entity, ts_s AS ts,
           channel, CAST(k_c AS BIGINT) AS k_c,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(value AS DOUBLE) * CAST(k_c AS DOUBLE) /
             CAST(n_touches AS DOUBLE) AS credit
         FROM win
         UNION ALL
         SELECT p.event_id, p.user_id, p.ts_s, 'none',
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(p.value AS DOUBLE)
         FROM p WHERE p.event_id NOT IN (SELECT cid FROM hit)""",
    "basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i, count(*) AS supp FROM items
               GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i, s.supp FROM items JOIN s USING (i))
         SELECT a.i AS item_a, bb.i AS item_b, count(*) AS pair_cnt,
           max(a.supp) AS supp_a, max(bb.supp) AS supp_b
         FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "sketch_hll_users" ->
      hllOracle("events", "user_id", "event_type", "event_type"),
    // the streaming register state must equal the batch sketch of the
    // whole log — same oracle as sketch_hll_users by design
    "sketch_hll_stream" ->
      hllOracle("events", "user_id", "event_type", "event_type"),
    // the streaming version history must equal the batch SCD2 build —
    // same formulation as Processors' cdc_scd2 oracle
    "scd2_stream" ->
      """WITH l AS (SELECT user_id, event_id,
                epoch_ns(ts) // 1000000000 AS pos,
                CASE WHEN event_type = 'error' THEN 'delete'
                     ELSE 'update' END AS op, value
              FROM events),
         o AS (SELECT *, pos AS valid_from,
                lead(pos) OVER
                  (PARTITION BY user_id ORDER BY pos, event_id) AS valid_to
               FROM l)
         SELECT user_id, event_id, valid_from, valid_to, value,
           (valid_to IS NULL) AS is_current
         FROM o WHERE op <> 'delete'""",
    "sketch_hll_docs" ->
      hllOracle("documents", "doc_id", "", ""),
    "sketch_hll_sliding" ->
      hllSlidingOracle(
        "(SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, user_id FROM events)",
        "user_id", 7),
    "sketch_hll_intersect" -> {
      val a = hllOracle(
        "(SELECT user_id FROM events WHERE event_type = 'click')",
        "user_id", "", "")
      val b = hllOracle(
        "(SELECT user_id FROM events WHERE event_type = 'purchase')",
        "user_id", "", "")
      val u = hllOracle(
        "(SELECT user_id FROM events WHERE event_type IN ('click', 'purchase'))",
        "user_id", "", "")
      s"""SELECT ea.estimate AS est_a, eb.estimate AS est_b,
          eu.estimate AS est_union,
          ea.estimate + eb.estimate - eu.estimate AS est_intersect
          FROM ($a) ea, ($b) eb, ($u) eu"""
    },
    "sketch_heavy_hitters" ->
      """SELECT w AS item, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
               FROM documents)
         WHERE w <> '' GROUP BY w HAVING count(*) >= 50""",
    "interval_merge" ->
      """WITH iv AS (SELECT user_id, ts_s AS start_s, ts_s + 1800 AS end_s
              FROM (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type = 'purchase')),
         o AS (SELECT user_id, start_s, end_s,
                max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, end_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
               FROM iv),
         g AS (SELECT user_id, start_s, end_s,
                sum(CASE WHEN rm IS NULL OR start_s > rm THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY start_s, end_s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
               FROM o)
         SELECT user_id, min(start_s) AS start_s, max(end_s) AS end_s
         FROM g GROUP BY user_id, gid""",
    // clip-and-gap: merge each side, clip blackouts into each avail
    // interval, emit the gaps via lag — no sweep state anywhere, so a
    // hash match checks the sweep against a different algorithm
    "interval_subtract" ->
      """WITH pa AS (SELECT user_id, ts_s AS s, ts_s + 7200 AS e
              FROM (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type = 'purchase')),
         bb AS (SELECT user_id, ts_s AS s, ts_s + 1800 AS e
              FROM (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type = 'error')),
         ao AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
                FROM pa),
         ag AS (SELECT user_id, s, e,
                 sum(CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
                FROM ao),
         am AS (SELECT user_id, min(s) AS s, max(e) AS e
                FROM ag GROUP BY user_id, gid),
         bo AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
                FROM bb),
         bg AS (SELECT user_id, s, e,
                 sum(CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
                FROM bo),
         bm AS (SELECT user_id, min(s) AS s, max(e) AS e
                FROM bg GROUP BY user_id, gid),
         cb AS (SELECT am.user_id AS k, am.s AS ms, am.e AS me,
                 greatest(bm.s, am.s) AS bs, least(bm.e, am.e) AS be
                FROM am JOIN bm ON am.user_id = bm.user_id
                  AND bm.s < am.e AND am.s < bm.e),
         pts AS (SELECT k, ms, me, bs, be,
                  lag(be) OVER (PARTITION BY k, ms ORDER BY bs) AS pe
                 FROM cb),
         gaps AS (
           SELECT k, coalesce(pe, ms) AS s, bs AS e FROM pts
           UNION ALL
           SELECT k, max(be) AS s, me AS e FROM pts GROUP BY k, ms, me
           UNION ALL
           SELECT am.user_id, am.s, am.e FROM am
           WHERE NOT EXISTS (SELECT 1 FROM cb
             WHERE cb.k = am.user_id AND cb.ms = am.s))
         SELECT k AS user_id, s AS start_s, e AS end_s
         FROM gaps WHERE s < e""",
    "stats_anomaly" ->
      """WITH v AS (SELECT event_id, event_type, value,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS vi
              FROM events),
         a AS (SELECT event_id, event_type, value, vi,
                sum(vi) OVER (PARTITION BY event_type) AS s,
                sum(vi * vi) OVER (PARTITION BY event_type) AS sq,
                count(*) OVER (PARTITION BY event_type) AS n
               FROM v)
         SELECT event_id, event_type, value FROM a
         WHERE (n * vi - s) * (n * vi - s) > 9 * (n * sq - s * s)""",
    // preceding-frame integer replay (current row EXCLUDED — an
    // inclusive frame caps z² at n−1 and the k=3 test goes vacuous);
    // DuckDB widens the sums to HUGEINT but everything fits in 64 bits
    "stats_anomaly_rolling" ->
      """WITH v AS (SELECT event_id, user_id, value,
                epoch_ns(ts) // 1000000000 AS ts_s,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi
              FROM events),
         a AS (SELECT event_id, user_id, value, vi,
                 sum(vi) OVER w AS s,
                 sum(vi * vi) OVER w AS sq,
                 count(*) OVER w AS n
               FROM v
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id
                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id, value FROM a
         WHERE n >= 5
           AND (n * vi - s) * (n * vi - s) > 9 * (n * sq - s * s)""",
    // same ceil(q*n) rank selection; DOUBLE ceil is the identical IEEE
    // op in both engines, and the clip is least/greatest on raw values
    "stats_winsorize" ->
      """WITH r AS (SELECT event_id, event_type, value,
                row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events),
         b AS (SELECT event_type,
                min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                    THEN value END) AS lo,
                min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN value END) AS hi
              FROM r GROUP BY 1)
         SELECT event_id, event_type, value,
           least(greatest(value, lo), hi) AS value_clipped
         FROM events JOIN b USING (event_type)""",
    "stats_mad" ->
      """WITH v AS (SELECT event_id, event_type, value,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi
              FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vi) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n FROM v),
         med AS (SELECT event_type, vi AS mv FROM r WHERE rn = (n + 1) // 2),
         d AS (SELECT v.event_id, v.event_type, v.value, v.vi, med.mv
               FROM v JOIN med USING (event_type)),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs(vi - mv)) AS rn2,
                count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
         mad AS (SELECT event_type, abs(vi - mv) AS madv FROM r2 WHERE rn2 = (n2 + 1) // 2)
         SELECT event_id, event_type, value FROM d JOIN mad USING (event_type)
         WHERE abs(vi - mv) > 3 * madv""",
    "sketch_quantile_hist" ->
      """WITH h AS (SELECT event_type,
                LEAST(GREATEST(CAST(floor(value / 0.5) AS BIGINT), 0), 1023) AS bin,
                count(*) AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT event_type, bin, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(c) OVER (PARTITION BY event_type) AS n FROM h),
         qv AS (SELECT unnest([0.5, 0.95, 0.99]) AS q),
         s AS (SELECT event_type, qv.q AS q, min(bin) AS qbin
               FROM w, qv WHERE cum >= ceil(qv.q * n) GROUP BY 1, 2)
         SELECT event_type, q, (CAST(qbin AS DOUBLE) + 0.5) * 0.5 AS est
         FROM s""",
    // dyadic decay replay: same integer floor-division bucket, same
    // exact 2^-k weights — sums of dyadics are order-independent
    "stats_decayed" ->
      """SELECT event_type,
           sum(power(2.0, -CAST(
             (1706745600 - epoch_ns(ts) // 1000000000) // 86400
             AS DOUBLE))) AS decayed_count
         FROM events
         WHERE (1706745600 - epoch_ns(ts) // 1000000000) >= 0
           AND (1706745600 - epoch_ns(ts) // 1000000000) // 86400 < 60
         GROUP BY event_type""",
    // merge law: the merged-sketch quantiles must EQUAL the direct
    // sketch of the whole log — same SQL as sketch_quantile_hist
    "sketch_hist_merge" ->
      """WITH h AS (SELECT event_type,
                LEAST(GREATEST(CAST(floor(value / 0.5) AS BIGINT), 0), 1023) AS bin,
                count(*) AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT event_type, bin, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(c) OVER (PARTITION BY event_type) AS n FROM h),
         qv AS (SELECT unnest([0.5, 0.95, 0.99]) AS q),
         s AS (SELECT event_type, qv.q AS q, min(bin) AS qbin
               FROM w, qv WHERE cum >= ceil(qv.q * n) GROUP BY 1, 2)
         SELECT event_type, q, (CAST(qbin AS DOUBLE) + 0.5) * 0.5 AS est
         FROM s""",
    "layout_zorder" -> {
      // bit i of column j → key position i*3 + j (round-robin interleave)
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((l_orderkey >> $i) & 1) << ${3 * i})",
        s"(((l_partkey >> $i) & 1) << ${3 * i + 1})",
        s"(((l_suppkey >> $i) & 1) << ${3 * i + 2})"))
      s"""SELECT l_orderkey, l_partkey, l_suppkey,
            ${terms.mkString(" | ")} AS zkey
          FROM lineitem WHERE l_orderkey < 5000"""
    },
    "layout_bloom" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((l_orderkey >> $i) & 1) << ${2 * i})",
        s"(((l_partkey >> $i) & 1) << ${2 * i + 1})"))
      val zkey = terms.mkString(" + ")
      s"""WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         src AS (SELECT ($zkey) // 16777216 AS file_id, l_partkey AS v,
             'f' AS side
           FROM lineitem WHERE l_orderkey < 5000),
         pr AS (SELECT CAST(NULL AS BIGINT) AS file_id, p_partkey AS v,
             'p' AS side
           FROM part WHERE p_partkey <= 20),
         lanes AS (SELECT file_id, v, side, a.addend
           FROM (SELECT * FROM src UNION ALL SELECT * FROM pr),
             (SELECT unnest([7, ${7L + 2654435769L}]) AS addend) a),
         m0 AS (SELECT file_id, v, side,
           (CAST(v AS HUGEINT) + addend + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM lanes CROSS JOIN c),
         ma AS (SELECT file_id, v, side, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT file_id, v, side,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT file_id, v, side, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT file_id, v, side,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT file_id, v, side, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         bitsrc AS (SELECT file_id, v, side,
           CAST(CASE WHEN ub >= CAST(9223372036854775808 AS HUGEINT)
                THEN ub - CAST(18446744073709551616 AS HUGEINT)
                ELSE ub END AS BIGINT) AS bit
           FROM (SELECT file_id, v, side,
             CAST(1 AS HUGEINT) << CAST(x6 % 64 AS INT) AS ub FROM m3)),
         masks AS (SELECT file_id, bit_or(bit) AS bloom_mask
           FROM bitsrc WHERE side = 'f' GROUP BY 1),
         nrows AS (SELECT file_id, count(*) AS n_rows FROM src GROUP BY 1),
         probes AS (SELECT v AS l_partkey, bit_or(bit) AS pbits
           FROM bitsrc WHERE side = 'p' GROUP BY 1)
         SELECT m.file_id, m.bloom_mask, n.n_rows, p.l_partkey,
           ((m.bloom_mask & p.pbits) = p.pbits) AS might_contain
         FROM masks m JOIN nrows n USING (file_id) CROSS JOIN probes p"""
    },
    "layout_prune" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((l_orderkey >> $i) & 1) << ${2 * i})",
        s"(((l_partkey >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH z AS (SELECT l_orderkey, l_partkey,
              (${terms.mkString(" | ")}) // 16777216 AS file_id
            FROM lineitem WHERE l_orderkey < 5000),
          s AS (SELECT file_id, count(*) AS n_rows,
              min(l_orderkey) AS min_l_orderkey,
              max(l_orderkey) AS max_l_orderkey,
              min(l_partkey) AS min_l_partkey,
              max(l_partkey) AS max_l_partkey
            FROM z GROUP BY 1)
          SELECT file_id, n_rows, min_l_orderkey, max_l_orderkey,
            min_l_partkey, max_l_partkey,
            (max_l_orderkey >= 1000 AND min_l_orderkey <= 2200 AND
             max_l_partkey >= 200 AND min_l_partkey <= 1500) AS must_read
          FROM s"""
    },
    // Quota bin packing replay: same exclusive cumsum over
    // (source, small?) ordered by path; integer // division; HUGEINT
    // sums routed back through BIGINT to match Spark's long dtypes.
    "layout_compaction" ->
      """WITH f AS (SELECT source, CAST(doc_id AS VARCHAR) AS path,
           n_chars AS size_bytes FROM documents),
         c AS (SELECT source, path, size_bytes,
           coalesce(SUM(size_bytes) OVER (
             PARTITION BY source, size_bytes < 500 ORDER BY path
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM f),
         b AS (SELECT source, path, size_bytes,
           CAST(CASE WHEN size_bytes < 500 THEN cum // 500
             ELSE -1 END AS BIGINT) AS bin
           FROM c)
         SELECT source, path, size_bytes, bin,
           CAST(CASE WHEN bin = -1 THEN size_bytes
             ELSE SUM(size_bytes) OVER (PARTITION BY source, bin)
             END AS BIGINT) AS bin_bytes,
           CAST(CASE WHEN bin = -1 THEN 1
             ELSE COUNT(*) OVER (PARTITION BY source, bin)
             END AS BIGINT) AS bin_files
         FROM b""",
    "join_bloom_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 200000.0)""",
    "ts_resample" ->
      """WITH o AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s,
                arg_max(value, event_id) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (SELECT user_id, (min(ts_s) + 21599) // 21600 AS gi0,
                max(ts_s) // 21600 AS gi1 FROM o GROUP BY 1),
         g AS (SELECT user_id, gi * 21600 AS ts_s
               FROM b, LATERAL unnest(generate_series(gi0, gi1)) AS t(gi))
         SELECT g.user_id, g.ts_s, o.v
         FROM g ASOF LEFT JOIN o ON g.user_id = o.user_id AND g.ts_s >= o.ts_s""",
    // the union-sort + two-window replay, interpolation transcribed
    // term-for-term (pv + (nv-pv) * (dt/den)) for bit-exact doubles
    "ts_interpolate" ->
      """WITH o AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s,
                arg_max(value, event_id) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (SELECT user_id, (min(ts_s) + 21599) // 21600 AS gi0,
                max(ts_s) // 21600 AS gi1 FROM o GROUP BY 1),
         g AS (SELECT user_id, gi * 21600 AS ts_s
               FROM b, LATERAL unnest(generate_series(gi0, gi1)) AS t(gi)),
         u AS (SELECT user_id, ts_s AS t, 0 AS tag, v FROM o
               UNION ALL
               SELECT user_id, ts_s, 1, NULL FROM g),
         w AS (SELECT user_id, t, tag,
                 last_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY t, tag
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                 last_value(v IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY t, tag
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                 first_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY t, tag
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
                 first_value(v IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY t, tag
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
               FROM u)
         SELECT user_id, t AS ts_s,
           CASE WHEN pt = t THEN pv
                ELSE pv + (nv - pv) *
                  (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END AS v
         FROM w WHERE tag = 1""",
    // the anti-join the operator deliberately avoids planning
    "ts_absence" ->
      """WITH c AS (SELECT event_id, user_id,
                epoch_ns(ts) // 1000000000 AS ts_s
              FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s
               FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts_s FROM c
         WHERE NOT EXISTS (SELECT 1 FROM p
           WHERE p.user_id = c.user_id
             AND p.ts_s >= c.ts_s AND p.ts_s < c.ts_s + 7200)""",
    // independent min-cascade formulation: t1 = first view, t2 = first
    // click at-or-after t1, t3 = first purchase at-or-after t2
    "funnel_user" ->
      """WITH e AS (SELECT user_id, event_type,
                epoch_ns(ts) // 1000000000 AS ts_s
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')),
         u AS (SELECT DISTINCT user_id FROM e),
         v AS (SELECT user_id, min(ts_s) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts_s) AS t2 FROM e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts_s >= v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts_s) AS t3 FROM e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts_s >= c.t2 GROUP BY 1)
         SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_reached,
           t1, t2, t3
         FROM u LEFT JOIN v USING (user_id)
           LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)""",
    // the streaming funnel twin must equal the batch min-cascade —
    // time-ordered arrival makes funnel_user's join chain the exact
    // oracle, INCLUDING funnels advancing across the micro-batch split
    "funnel_stream" ->
      """WITH e AS (SELECT user_id, event_type,
                epoch_ns(ts) // 1000000000 AS ts_s
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')),
         u AS (SELECT DISTINCT user_id FROM e),
         v AS (SELECT user_id, min(ts_s) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts_s) AS t2 FROM e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts_s >= v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts_s) AS t3 FROM e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts_s >= c.t2 GROUP BY 1)
         SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_reached,
           t1, t2, t3
         FROM u LEFT JOIN v USING (user_id)
           LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)""",
    "join_interval_overlap" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000000000 AS ts_s
                    FROM events WHERE event_type = 'purchase' AND value >= 100.0)
         SELECT a.event_id AS pa_id, b.event_id AS pb_id
         FROM e a JOIN e b
           ON a.ts_s < b.ts_s + 3600 AND b.ts_s < a.ts_s + 3600
          AND a.event_id < b.event_id""",
    "join_salted" ->
      """SELECT o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "session_assign" ->
      """SELECT event_id, user_id, ts_s,
         CAST(sum(CASE WHEN prev_s IS NULL OR (ts_s - prev_s) > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
                 lag(epoch_ns(ts) // 1000000000, 1) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000 ASC, event_id ASC) AS prev_s
               FROM events)""",
    // the streaming twin must equal the batch sessionization of the
    // whole log — time-ordered arrival makes the same window SQL the
    // exact oracle, INCLUDING sessions spanning the micro-batch split
    "session_stream" ->
      """SELECT event_id, user_id, ts_s,
         CAST(sum(CASE WHEN prev_s IS NULL OR (ts_s - prev_s) > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
                 lag(epoch_ns(ts) // 1000000000, 1) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000 ASC, event_id ASC) AS prev_s
               FROM events)""",
    // the DIRECT sketch of the union set — the Spark side builds two
    // sketches and merges registers, so a hash match proves the merge
    "sketch_hll_union" ->
      hllOracle("(SELECT user_id FROM events WHERE event_type IN ('click', 'purchase')) ev2",
        "user_id", "", ""),
    // fnv1a-over-code-points (text_dsir chain) + splitmix64(h + row),
    // counter = exact HUGEINT sum, estimate = min over the 4 rows
    "sketch_cms_tokens" ->
      """WITH c64 AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                 FROM documents),
         cnt AS (SELECT token, count(*) AS tc FROM tok WHERE token <> '' GROUP BY token),
         fh AS (SELECT token, tc, list_reduce(
                  list_prepend(CAST(14695981039346656037 AS HUGEINT),
                    list_transform(list_filter(string_split_regex(token, ''), ch -> ch <> ''),
                      ch -> CAST(unicode(ch) AS HUGEINT))),
                  (acc, ch) -> (xor(acc, ch) * 1099511628211) %
                    CAST(18446744073709551616 AS HUGEINT)) AS uh
                FROM cnt),
         rws AS (SELECT range AS i FROM range(0, 4)),
         m0 AS (SELECT token, tc, i,
                (uh + i + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
                FROM fh CROSS JOIN rws CROSS JOIN c64),
         ma AS (SELECT token, tc, i, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT token, tc, i, (x2 % 4294967296 * 484763065 +
                ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
                * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT token, tc, i, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT token, tc, i, (x4 % 4294967296 * 321982955 +
                ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
                * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT token, tc, i, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         ent AS (SELECT token, tc, i, x6 % 16 AS idx FROM m3),
         counters AS (SELECT i, idx, sum(tc) AS cc FROM ent GROUP BY 1, 2)
         SELECT e.token, CAST(max(e.tc) AS BIGINT) AS true_count,
           CAST(min(ct.cc) AS BIGINT) AS cms_estimate
         FROM ent e JOIN counters ct ON e.i = ct.i AND e.idx = ct.idx
         GROUP BY e.token""",
    // structurally independent formulation: id-ordered 3-way self-join
    // over the same frequent-pair edge set (no orientation machinery)
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT e1.u AS node_a, e1.v AS node_b, e2.v AS node_c
         FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
         JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""",
    "stats_mannwhitney" ->
      """WITH c AS (SELECT event_type AS g, value AS v,
              CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                AS HUGEINT) AS a,
              CAST(count(*) AS HUGEINT) AS t
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT g, a, t,
                CAST(coalesce(sum(t) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS HUGEINT) AS below
               FROM c),
         agg AS (SELECT g,
                CAST(sum(a) AS HUGEINT) AS n1,
                CAST(sum(t) - sum(a) AS HUGEINT) AS n2,
                CAST(sum(a * (2 * below + t + 1)) AS HUGEINT) AS r2sum,
                CAST(sum(t * t * t - t) AS HUGEINT) AS ties
               FROM r GROUP BY 1)
         SELECT g AS event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r2sum - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(ties AS BIGINT) AS tie_term,
           (n1 > 0 AND n2 > 0 AND
            n1 * n2 * ((n1 + n2) * (n1 + n2 + 1) * (n1 + n2 - 1) - ties)
              > 0 AND
            (r2sum - n1 * (n1 + 1) - n1 * n2) *
              (r2sum - n1 * (n1 + 1) - n1 * n2) * 1875 *
              (n1 + n2) * (n1 + n2 - 1)
            >= 2401 * n1 * n2 *
               ((n1 + n2) * (n1 + n2 + 1) * (n1 + n2 - 1) - ties))
             AS significant
         FROM agg""",
    "stats_chisq_gof" ->
      """WITH e AS (SELECT event_type AS g,
              (epoch_ns(ts) // 1000000000 // 86400 + 4) % 7 AS dow
            FROM events),
         c AS (SELECT g, dow, CAST(count(*) AS HUGEINT) AS o
               FROM e GROUP BY 1, 2),
         a AS (SELECT g, CAST(sum(o) AS HUGEINT) AS n,
                CAST(sum(o * o) AS HUGEINT) AS ss,
                count(*) AS n_cats
               FROM c GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(n_cats AS BIGINT) AS n_cats,
           CAST(7 * ss - n * n AS BIGINT) AS stat_num,
           CAST(7 * ss - n * n AS DOUBLE) / CAST(n AS DOUBLE) AS chisq,
           (n > 0 AND (7 * ss - n * n) * 1000 >= 12592 * n) AS significant
         FROM a""",
    "seq_transitions" ->
      """WITH e AS (SELECT user_id, event_type AS st,
              epoch_ns(ts) // 1000000000 AS ts_s, event_id
            FROM events),
         p AS (SELECT user_id, st,
                lag(st) OVER (PARTITION BY user_id
                  ORDER BY ts_s, event_id) AS prev
               FROM e),
         c AS (SELECT prev, st AS next, CAST(count(*) AS BIGINT) AS cnt
               FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT prev, next, cnt,
           CAST(sum(cnt) OVER (PARTITION BY prev) AS BIGINT)
             AS prev_total,
           CAST(cnt AS DOUBLE) /
             CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE) AS p
         FROM c""",
    "stats_seasonal" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
         p AS (SELECT g, day, x,
                CAST(sum(x) OVER (PARTITION BY g ORDER BY day
                  RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS BIGINT)
                  AS prev
               FROM e)
         SELECT g AS event_type, day, x, prev,
           CASE WHEN prev IS NOT NULL THEN x - prev END AS diff,
           (prev IS NOT NULL AND abs(x - prev) * 10 > 3 * prev
             AND abs(x - prev) >= 20) AS alarm
         FROM p""",
    "profile_columns" ->
      """WITH li AS (SELECT *, epoch_ns(l_shipdate) // 1000000000
              AS l_ship_s FROM lineitem)
         SELECT 'l_orderkey' AS "column",
           CAST(count(l_orderkey) AS BIGINT) AS n_nonnull,
           CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(l_orderkey) AS DOUBLE) AS min_num,
           CAST(max(l_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM li
         UNION ALL SELECT 'l_partkey', CAST(count(l_partkey) AS BIGINT),
           CAST(count(*) - count(l_partkey) AS BIGINT),
           CAST(count(DISTINCT l_partkey) AS BIGINT),
           CAST(min(l_partkey) AS DOUBLE), CAST(max(l_partkey) AS DOUBLE),
           NULL, NULL FROM li
         UNION ALL SELECT 'l_quantity', CAST(count(l_quantity) AS BIGINT),
           CAST(count(*) - count(l_quantity) AS BIGINT),
           CAST(count(DISTINCT l_quantity) AS BIGINT),
           CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
           NULL, NULL FROM li
         UNION ALL SELECT 'l_extendedprice',
           CAST(count(l_extendedprice) AS BIGINT),
           CAST(count(*) - count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE), NULL, NULL FROM li
         UNION ALL SELECT 'l_ship_s', CAST(count(l_ship_s) AS BIGINT),
           CAST(count(*) - count(l_ship_s) AS BIGINT),
           CAST(count(DISTINCT l_ship_s) AS BIGINT),
           CAST(min(l_ship_s) AS DOUBLE), CAST(max(l_ship_s) AS DOUBLE),
           NULL, NULL FROM li
         UNION ALL SELECT 'l_returnflag', CAST(count(l_returnflag) AS BIGINT),
           CAST(count(*) - count(l_returnflag) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(l_returnflag), max(l_returnflag) FROM li
         UNION ALL SELECT 'l_linestatus', CAST(count(l_linestatus) AS BIGINT),
           CAST(count(*) - count(l_linestatus) AS BIGINT),
           CAST(count(DISTINCT l_linestatus) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(l_linestatus), max(l_linestatus) FROM li""",
    // the counters CTE of the sketch_cms_tokens oracle, surfaced
    // directly — the stream state must equal the batch counters
    "sketch_cm_stream" ->
      """WITH c64 AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                 FROM documents),
         cnt AS (SELECT token, count(*) AS tc FROM tok WHERE token <> '' GROUP BY token),
         fh AS (SELECT token, tc, list_reduce(
                  list_prepend(CAST(14695981039346656037 AS HUGEINT),
                    list_transform(list_filter(string_split_regex(token, ''), ch -> ch <> ''),
                      ch -> CAST(unicode(ch) AS HUGEINT))),
                  (acc, ch) -> (xor(acc, ch) * 1099511628211) %
                    CAST(18446744073709551616 AS HUGEINT)) AS uh
                FROM cnt),
         rws AS (SELECT range AS i FROM range(0, 4)),
         m0 AS (SELECT token, tc, i,
                (uh + i + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
                FROM fh CROSS JOIN rws CROSS JOIN c64),
         ma AS (SELECT token, tc, i, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT token, tc, i, (x2 % 4294967296 * 484763065 +
                ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
                * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT token, tc, i, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT token, tc, i, (x4 % 4294967296 * 321982955 +
                ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
                * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT token, tc, i, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         ent AS (SELECT token, tc, i, x6 % 16 AS idx FROM m3)
         SELECT CAST(i AS BIGINT) AS cms_row, CAST(idx AS BIGINT) AS cms_idx,
           CAST(sum(tc) AS BIGINT) AS cnt
         FROM ent GROUP BY 1, 2""",
    "stats_gini" ->
      """WITH u AS (SELECT event_type AS g, user_id,
              CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                AS cents
            FROM events GROUP BY 1, 2),
         r AS (SELECT g, cents, row_number() OVER
                (PARTITION BY g ORDER BY cents) AS i
               FROM u),
         a AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(cents) AS HUGEINT) AS tot,
                CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS ix
               FROM r GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(tot AS BIGINT) AS total,
           CAST(2 * ix - (n + 1) * tot AS BIGINT) AS gini_num,
           CAST(n * tot AS BIGINT) AS gini_den,
           CASE WHEN tot > 0 THEN
             CAST(CAST(2 * ix - (n + 1) * tot AS BIGINT) AS DOUBLE) /
             CAST(CAST(n * tot AS BIGINT) AS DOUBLE) END AS gini
         FROM a""",
    "stats_autocorr" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
         p AS (SELECT g, day, y,
                CAST(sum(y) OVER (PARTITION BY g ORDER BY day
                  RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS BIGINT)
                  AS x
               FROM e),
         q AS (SELECT * FROM p WHERE x IS NOT NULL),
         a AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(x) AS HUGEINT) AS sx,
                CAST(sum(y) AS HUGEINT) AS sy,
                CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
               FROM q GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(n * sxy - sx * sy AS BIGINT) AS r_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS r_den1,
           CAST(n * syy - sy * sy AS BIGINT) AS r_den2,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE) /
               sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE) *
                 CAST(CAST(n * syy - sy * sy AS BIGINT) AS DOUBLE))
             END AS r
         FROM a""",
    "stats_theil_sen" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
         s AS (SELECT a.g, b.x - a.x AS dy, b.day - a.day AS dt
               FROM e a JOIN e b ON a.g = b.g AND b.day > a.day),
         r AS (SELECT g, dy, dt,
                CAST(dy AS DOUBLE) / CAST(dt AS DOUBLE) AS sl,
                row_number() OVER (PARTITION BY g ORDER BY
                  CAST(dy AS DOUBLE) / CAST(dt AS DOUBLE), dy, dt) AS rn,
                CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS cnt
               FROM s)
         SELECT g AS event_type, cnt AS n_slopes, dy AS med_num,
           dt AS med_den, sl AS slope
         FROM r WHERE rn = (cnt + 1) // 2""",
    "privacy_kanon" ->
      """WITH base AS (SELECT event_type AS et, user_id // 100 AS ub,
              epoch_ns(ts) // 1000000000 // 86400 // 7 AS wk
            FROM events),
         l0 AS (SELECT et, ub, wk, CAST(count(*) AS BIGINT) AS n
               FROM base GROUP BY 1, 2, 3),
         p0 AS (SELECT CAST(0 AS BIGINT) AS level, et, ub, wk, n
               FROM l0 WHERE n >= 10),
         f0 AS (SELECT et, ub, CAST(sum(n) AS BIGINT) AS n
               FROM l0 WHERE n < 10 GROUP BY 1, 2),
         p1 AS (SELECT CAST(1 AS BIGINT), et, ub, CAST(NULL AS BIGINT), n
               FROM f0 WHERE n >= 10),
         f1 AS (SELECT et, CAST(sum(n) AS BIGINT) AS n
               FROM f0 WHERE n < 10 GROUP BY 1),
         p2 AS (SELECT CAST(2 AS BIGINT), et, CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT), n
               FROM f1 WHERE n >= 10),
         f2 AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM f1 WHERE n < 10),
         p3 AS (SELECT CAST(3 AS BIGINT), CAST(NULL AS VARCHAR),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), n
               FROM f2 WHERE n > 0)
         SELECT level, et AS event_type, ub AS user_bucket, wk AS week, n
         FROM p0
         UNION ALL SELECT * FROM p1
         UNION ALL SELECT * FROM p2
         UNION ALL SELECT * FROM p3""",
    "graph_links" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         adj AS (SELECT u AS n, v AS nbr FROM e
               UNION ALL SELECT v, u FROM e),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
               FROM adj GROUP BY 1),
         cm AS (SELECT a1.nbr AS x, a2.nbr AS y,
                CAST(count(*) AS BIGINT) AS common
               FROM adj a1 JOIN adj a2
                 ON a1.n = a2.n AND a1.nbr < a2.nbr
               GROUP BY 1, 2),
         ul AS (SELECT cm.* FROM cm LEFT JOIN e
                 ON cm.x = e.u AND cm.y = e.v
               WHERE e.u IS NULL)
         SELECT x AS node_a, y AS node_b, common,
           da.d AS deg_a, db.d AS deg_b,
           CAST(common AS DOUBLE) /
             CAST(da.d + db.d - common AS DOUBLE) AS jaccard
         FROM ul JOIN deg da ON x = da.n JOIN deg db ON y = db.n
         WHERE CAST(common AS DOUBLE) /
           CAST(da.d + db.d - common AS DOUBLE) >= CAST(0.4 AS DOUBLE)""",
    "stats_benford" ->
      """WITH v AS (SELECT event_type AS g,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events),
         c AS (SELECT g,
                CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                  AS digit,
                CAST(count(*) AS BIGINT) AS observed
               FROM v WHERE cents > 0 GROUP BY 1, 2),
         ppm(digit, ppm) AS (VALUES (1, 301030), (2, 176091),
           (3, 124939), (4, 96910), (5, 79181), (6, 66947),
           (7, 57992), (8, 51153), (9, 45757)),
         w AS (SELECT g, digit, observed,
                CAST(sum(observed) OVER (PARTITION BY g) AS BIGINT) AS n
               FROM c)
         SELECT g AS event_type, w.digit, observed, n,
           CAST(p.ppm AS BIGINT) AS expected_ppm,
           (abs(observed * 1000000 - n * p.ppm) * 5 > n * p.ppm) AS flag
         FROM w JOIN ppm p ON w.digit = p.digit""",
    "cdc_diff" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey % 17 <> 3),
         n AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
                     ELSE o_totalprice END AS o_totalprice,
                o_orderstatus
               FROM orders WHERE o_orderkey % 13 <> 5),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
                o.o_totalprice AS otp, o.o_orderstatus AS ost,
                n.o_totalprice AS ntp, n.o_orderstatus AS nst,
                (o.o_orderkey IS NOT NULL) AS io,
                (n.o_orderkey IS NOT NULL) AS inn
               FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey),
         d AS (SELECT k AS o_orderkey,
                CASE WHEN NOT io THEN 'insert'
                     WHEN NOT inn THEN 'delete'
                     WHEN otp IS DISTINCT FROM ntp
                       OR ost IS DISTINCT FROM nst THEN 'update' END AS op,
                otp AS old_o_totalprice, ost AS old_o_orderstatus,
                ntp AS new_o_totalprice, nst AS new_o_orderstatus
               FROM j)
         SELECT * FROM d WHERE op IS NOT NULL""",
    // the final streamed view must equal the batch join
    "cdc_incr_join" ->
      """SELECT o_custkey AS cust, o_orderkey, o_totalprice AS o_total,
           c_name, c_mktsegment AS c_seg
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "window_stream" ->
      """SELECT event_type,
           (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS window_start_s,
           CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2""",
    "stats_quantiles" ->
      """WITH r AS (SELECT event_type AS g, value AS v,
              row_number() OVER (PARTITION BY event_type
                ORDER BY value) AS rn,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL),
         ps(p) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
           (CAST(0.99 AS DOUBLE)))
         SELECT g AS event_type, p, n, v AS value
         FROM r JOIN ps ON rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""",
    "stats_rfm" ->
      """WITH base AS (SELECT c_mktsegment AS seg, o_custkey AS cust,
              epoch_ns(o_orderdate) // 1000000000 AS ts,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey),
         per AS (SELECT seg, cust,
                CAST((999302400 - max(ts)) // 86400 AS BIGINT)
                  AS recency_days,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum(cents) AS BIGINT) AS monetary_cents
               FROM base GROUP BY 1, 2),
         t AS (SELECT *,
                CAST(ntile(5) OVER (PARTITION BY seg
                  ORDER BY recency_days, cust) AS BIGINT) AS r,
                CAST(ntile(5) OVER (PARTITION BY seg
                  ORDER BY frequency DESC, cust) AS BIGINT) AS f,
                CAST(ntile(5) OVER (PARTITION BY seg
                  ORDER BY monetary_cents DESC, cust) AS BIGINT) AS m
               FROM per)
         SELECT seg, cust, recency_days, frequency, monetary_cents,
           r, f, m, r * 100 + f * 10 + m AS rfm_cell
         FROM t""",
    "ts_twa" ->
      """WITH o AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t,
              max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
            FROM events
            WHERE epoch_ns(ts) // 1000000000 <= 1706745600
            GROUP BY 1, 2),
         l AS (SELECT user_id, t, v,
                coalesce(lead(t) OVER (PARTITION BY user_id ORDER BY t),
                  1706745600) AS nxt
               FROM o)
         SELECT user_id,
           CAST(1706745600 - min(t) AS BIGINT) AS span_s,
           CAST(sum(CAST(v AS HUGEINT) * (nxt - t)) AS BIGINT)
             AS weighted_sum,
           CASE WHEN 1706745600 - min(t) > 0 THEN
             CAST(CAST(sum(CAST(v AS HUGEINT) * (nxt - t)) AS BIGINT)
               AS DOUBLE) /
             CAST(CAST(1706745600 - min(t) AS BIGINT) AS DOUBLE) END
             AS twa
         FROM l GROUP BY 1""",
    "stats_tukey" ->
      """WITH r AS (SELECT event_type AS g, value AS v,
              row_number() OVER (PARTITION BY event_type
                ORDER BY value) AS rn,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL),
         q AS (SELECT g,
                max(CASE WHEN rn = greatest(1,
                  CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT))
                  THEN v END) AS q1,
                max(CASE WHEN rn = greatest(1,
                  CAST(ceil(CAST(0.75 AS DOUBLE) * n) AS BIGINT))
                  THEN v END) AS q3
               FROM r GROUP BY 1),
         f AS (SELECT g, q1, q3,
                q1 - CAST(1.5 AS DOUBLE) * (q3 - q1) AS lo,
                q3 + CAST(1.5 AS DOUBLE) * (q3 - q1) AS hi
               FROM q)
         SELECT f.g AS event_type, max(q1) AS q1, max(q3) AS q3,
           max(lo) AS fence_lo, max(hi) AS fence_hi,
           CAST(sum(CASE WHEN r.v < lo OR r.v > hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
         FROM f JOIN r ON f.g = r.g GROUP BY 1""",
    "privacy_ldiv" ->
      """WITH base AS (SELECT event_type, user_id // 100 AS user_bucket,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000
                AS sens
            FROM events),
         d AS (SELECT event_type, user_bucket, sens,
                CAST(count(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2, 3)
         SELECT event_type, user_bucket,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS diversity,
           (count(*) >= 3) AS ok
         FROM d GROUP BY 1, 2""",
    "graph_components" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS b,
              l_partkey AS i FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         reach AS (SELECT u AS a, v AS b FROM edges
               UNION
               SELECT r.a, e2.v FROM reach r JOIN edges e2 ON r.b = e2.u),
         lab AS (SELECT a AS node, least(min(b), a) AS component
               FROM reach GROUP BY a)
         SELECT node, component FROM lab""",
    // four synchronous label-propagation rounds unrolled: votes =
    // neighbor labels + the self-vote, argmax with (count DESC,
    // label ASC) — the engine's min(struct(-c, lbl)) tie rule
    "graph_labelprop" ->
      (labelpropCtes + "\n         SELECT node, lbl AS community FROM l4"),
    // the same four rounds, then Q as the exact rational
    // Σ(4m·e_c − d_c²) / 4m² — one double division, like the engine
    "graph_modularity" -> (labelpropCtes + """,
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         intra AS (SELECT la.lbl AS c, CAST(count(*) AS BIGINT) AS ec
               FROM e JOIN l4 la ON la.node = e.u
               JOIN l4 lb ON lb.node = e.v
               WHERE la.lbl = lb.lbl GROUP BY la.lbl),
         degs AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
               FROM edges GROUP BY u),
         dcs AS (SELECT l.lbl AS c, CAST(sum(d.d) AS BIGINT) AS dsum
               FROM degs d JOIN l4 l ON l.node = d.node GROUP BY l.lbl),
         nums AS (SELECT dcs.c,
               CAST(4 AS HUGEINT) * mm.m * coalesce(i.ec, 0) -
                 CAST(dcs.dsum AS HUGEINT) * dcs.dsum AS num
               FROM dcs CROSS JOIN mm
               LEFT JOIN intra i ON i.c = dcs.c)
         SELECT CAST(mm.m AS BIGINT) AS m_edges,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(num) AS DOUBLE) /
             CAST(CAST(4 AS HUGEINT) * mm.m * mm.m AS DOUBLE) AS modularity
         FROM nums CROSS JOIN mm GROUP BY mm.m"""),
    // bounded-depth recursive BFS with min-hop aggregation; seeds =
    // graph nodes divisible by 7
    "graph_seed_dist" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS b,
              l_partkey AS i FROM lineitem),
         s AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
         p AS (SELECT items.b, items.i FROM items JOIN s USING (i)),
         e AS (SELECT a.i AS u, bb.i AS v
               FROM p a JOIN p bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         seeds AS (SELECT DISTINCT u AS node FROM edges WHERE u % 7 = 0),
         reach AS (SELECT node, 0 AS d FROM seeds
               UNION
               SELECT e2.v AS node, r.d + 1 AS d FROM reach r
                 JOIN edges e2 ON e2.u = r.node WHERE r.d < 4),
         best AS (SELECT node, CAST(min(d) AS BIGINT) AS hops
               FROM reach GROUP BY node)
         SELECT node, hops FROM best""",
    // independent max-count join-back vs the engine's struct-max
    "stats_mode" ->
      """WITH c AS (SELECT event_type AS g,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL),
         cc AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM c GROUP BY 1, 2),
         m AS (SELECT g, max(c) AS mc FROM cc GROUP BY 1)
         SELECT cc.g AS event_type, CAST(min(cc.v) AS BIGINT)
             AS mode_value,
           CAST(max(cc.c) AS BIGINT) AS mode_count
         FROM cc JOIN m ON cc.g = m.g AND cc.c = m.mc GROUP BY 1""",
    "text_novelty" ->
      """WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM documents),
         g AS (SELECT DISTINCT doc_id,
                array_to_string(w[i:i+2], ' ') AS gram
               FROM t, unnest(range(1, len(w) - 1)) AS u(i)
               WHERE len(w) >= 3),
         f AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.owner = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.owner = g.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM g JOIN f USING (gram) GROUP BY 1""",
    // same exact-integer windows, same one-expression double score
    "ts_changepoint" -> changepointOracleSql,
    // the streaming state is a sum-merged exact daily table, so the
    // twin shares the batch replay verbatim
    "ts_changepoint_stream" -> changepointOracleSql,
    // R/S replay: identical block windows (HUGEINT devs/variance),
    // block-ordered list folds, ln/regr_slope at 6 dp; the stream
    // twin's state is the same exact daily table -> shared replay
    "stats_hurst" -> hurstOracleSql,
    "stats_hurst_stream" -> hurstOracleSql,
    "ts_lttb" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS t,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
         r AS (SELECT g, min(t) AS tmin, max(t) AS tmax,
                arg_min(v, t) AS vmin, arg_max(v, t) AS vmax
               FROM e GROUP BY 1),
         j AS (SELECT e.*, r.tmin, r.tmax, r.vmin, r.vmax
               FROM e JOIN r USING (g)),
         ep AS (SELECT g, t, v FROM j WHERE t = tmin OR t = tmax),
         i AS (SELECT *, ((t - tmin) * 6) // (tmax - tmin + 1) AS b
               FROM j WHERE t > tmin AND t < tmax),
         m AS (SELECT g, b, CAST(sum(t) AS HUGEINT) AS st,
                CAST(sum(v) AS HUGEINT) AS sv,
                CAST(count(*) AS HUGEINT) AS c,
                max(tmin) AS tmin, max(tmax) AS tmax,
                max(vmin) AS vmin, max(vmax) AS vmax
               FROM i GROUP BY 1, 2),
         a AS (SELECT g, b,
                coalesce(lag(st) OVER w, CAST(tmin AS HUGEINT)) AS lst,
                coalesce(lag(sv) OVER w, CAST(vmin AS HUGEINT)) AS lsv,
                coalesce(lag(c) OVER w, CAST(1 AS HUGEINT)) AS lc,
                coalesce(lead(st) OVER w, CAST(tmax AS HUGEINT)) AS rst,
                coalesce(lead(sv) OVER w, CAST(vmax AS HUGEINT)) AS rsv,
                coalesce(lead(c) OVER w, CAST(1 AS HUGEINT)) AS rc
               FROM m WINDOW w AS (PARTITION BY g ORDER BY b)),
         cd AS (SELECT i.g, i.b, i.t, i.v,
                abs((a.lst * a.rc - a.rst * a.lc) *
                    (CAST(i.v AS HUGEINT) * a.lc - a.lsv)
                  - (a.lst - CAST(i.t AS HUGEINT) * a.lc) *
                    (a.lsv * a.rc - a.rsv * a.lc)) AS area
               FROM i JOIN a ON i.g = a.g AND i.b = a.b),
         pk AS (SELECT g, b, t, v, row_number() OVER (PARTITION BY g, b
                ORDER BY area DESC, t ASC) AS rn
               FROM cd)
         SELECT g AS event_type, t, v FROM ep
         UNION ALL SELECT g, t, v FROM pk WHERE rn = 1""",
    // fnv1a + splitmix64 chain (the sketch-oracle steps) on the group
    // key + seed 7, low 52 bits -> uniform, inverse-CDF Laplace;
    // DuckDB ln is bitwise Java Math.log (the bm25 parity)
    "privacy_noise" ->
      """WITH c64 AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         g AS (SELECT event_type AS k, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
         fh AS (SELECT k, n, list_reduce(
                  list_prepend(CAST(14695981039346656037 AS HUGEINT),
                    list_transform(list_filter(string_split_regex(k, ''), ch -> ch <> ''),
                      ch -> CAST(unicode(ch) AS HUGEINT))),
                  (acc, ch) -> (xor(acc, ch) * 1099511628211) %
                    CAST(18446744073709551616 AS HUGEINT)) AS uh
                FROM g),
         m0 AS (SELECT k, n, (uh + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
                FROM fh CROSS JOIN c64),
         ma AS (SELECT k, n, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT k, n, (x2 % 4294967296 * 484763065 +
                ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
                * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT k, n, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT k, n, (x4 % 4294967296 * 321982955 +
                ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
                * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT k, n, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         u AS (SELECT k, n,
                CAST(x6 % 4503599627370496 AS DOUBLE) /
                  CAST(4503599627370496 AS DOUBLE) AS uu
               FROM m3)
         SELECT k AS event_type, n,
           CAST(-2.0 AS DOUBLE) * sign(uu - CAST(0.5 AS DOUBLE)) *
             ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) *
               abs(uu - CAST(0.5 AS DOUBLE))) AS noise,
           CAST(n AS DOUBLE) +
             CAST(-2.0 AS DOUBLE) * sign(uu - CAST(0.5 AS DOUBLE)) *
             ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) *
               abs(uu - CAST(0.5 AS DOUBLE))) AS noisy_n
         FROM u""",
    "layout_overlap" ->
      """WITH li AS (SELECT l_orderkey // 1500 AS f,
              epoch_ns(l_shipdate) // 1000000000 AS s
            FROM lineitem),
         fs AS (SELECT f, min(s) AS lo, max(s) + 1 AS hi
               FROM li GROUP BY 1),
         b AS (SELECT lo AS t, 1 AS d FROM fs
               UNION ALL SELECT hi, -1 FROM fs),
         gg AS (SELECT t, d, CAST(sum(d) AS BIGINT) AS dd
                FROM b GROUP BY 1, 2),
         cc AS (SELECT t, dd,
                sum(dd) OVER (ORDER BY t, d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
                FROM gg)
         SELECT 'l_shipdate' AS colname, t AS at_time,
           CAST(max(conc) AS BIGINT) AS concurrency
         FROM cc GROUP BY 2""",
    "stream_join" ->
      """WITH c AS (SELECT user_id, event_id AS c_id,
              epoch_ns(ts) // 1000000000 AS c_ts_s
            FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id AS p_uid, event_id AS p_id,
              epoch_ns(ts) // 1000000000 AS p_ts_s
            FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, c_id, c_ts_s, p_id, p_ts_s
         FROM c JOIN p ON c.user_id = p_uid
           AND p_ts_s >= c_ts_s - 3600 AND p_ts_s <= c_ts_s + 3600""",
    // interval-containment LEFT JOIN — non-overlapping [from, next)
    // spans make the match unique; structurally independent of the
    // engine's as-of + validity-filter plan
    "join_scd2_pit" ->
      """WITH l AS (SELECT user_id, event_id,
              epoch_ns(ts) // 1000000000 AS pos,
              CASE WHEN event_type = 'error' THEN 'delete'
                   ELSE 'update' END AS op, value
            FROM events),
         o AS (SELECT *, pos AS valid_from,
                lead(pos) OVER
                  (PARTITION BY user_id ORDER BY pos, event_id) AS valid_to
               FROM l),
         h AS (SELECT user_id, event_id AS v_id, valid_from, valid_to,
                value AS v_value
               FROM o WHERE op <> 'delete'),
         f AS (SELECT user_id, event_id AS f_id,
                epoch_ns(ts) // 1000000000 AS f_ts
               FROM events WHERE event_type = 'purchase')
         SELECT f.user_id, f.f_id, f.f_ts, h.v_id AS version_id,
           h.v_value AS version_value
         FROM f LEFT JOIN h ON f.user_id = h.user_id
           AND h.valid_from <= f.f_ts
           AND (h.valid_to IS NULL OR f.f_ts < h.valid_to)""",
    "session_metrics" ->
      """WITH s AS (SELECT user_id, ts_s, cents,
              CAST(sum(CASE WHEN prev_s IS NULL OR (ts_s - prev_s) > 1800
                THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_seq
              FROM (SELECT event_id, user_id,
                      epoch_ns(ts) // 1000000000 AS ts_s,
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS cents,
                      lag(epoch_ns(ts) // 1000000000, 1) OVER (
                        PARTITION BY user_id
                        ORDER BY epoch_ns(ts) // 1000000000 ASC,
                          event_id ASC) AS prev_s
                    FROM events))
         SELECT user_id, session_seq,
           CAST(min(ts_s) AS BIGINT) AS start_s,
           CAST(max(ts_s) AS BIGINT) AS end_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(max(ts_s) - min(ts_s) AS BIGINT) AS duration_s
         FROM s GROUP BY 1, 2""",
    "ts_backtest" ->
      """WITH e AS (SELECT event_type AS g,
              epoch_ns(ts) // 1000000000 // 86400 AS day,
              CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
         p AS (SELECT g, day, x,
                CAST(sum(x) OVER (PARTITION BY g ORDER BY day
                  RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS BIGINT)
                  AS f
               FROM e),
         q AS (SELECT * FROM p WHERE f IS NOT NULL)
         SELECT g AS event_type,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           CAST(sum(abs(x - f)) AS BIGINT) AS sum_abs_err,
           CAST(sum(x) AS BIGINT) AS sum_actual,
           CAST(sum(abs(x - f)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mae,
           CASE WHEN sum(x) > 0 THEN
             CAST(sum(abs(x - f)) AS DOUBLE) / CAST(sum(x) AS DOUBLE)
             END AS wape
         FROM q GROUP BY 1""",
    "stats_runs" ->
      """WITH s AS (SELECT event_type AS g,
              (value >= 50.0) AS x,
              lag(value >= 50.0) OVER (PARTITION BY event_type
                ORDER BY epoch_ns(ts) // 1000000000 ASC, event_id ASC)
                AS prev
            FROM events WHERE value IS NOT NULL),
         a AS (SELECT g,
                CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
                CAST(sum(CASE WHEN x THEN 0 ELSE 1 END) AS HUGEINT) AS n2,
                CAST(1 + sum(CASE WHEN prev IS NOT NULL AND prev <> x
                  THEN 1 ELSE 0 END) AS HUGEINT) AS runs
               FROM s GROUP BY 1)
         SELECT g AS event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(runs AS BIGINT) AS runs,
           (n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2 AND
            (runs * (n1 + n2) - (n1 + n2) - 2 * n1 * n2) *
              (runs * (n1 + n2) - (n1 + n2) - 2 * n1 * n2) *
              (n1 + n2 - 1) * 625
            >= 2401 * 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)))
             AS significant
         FROM a""",
    // the streamed additive bin state must equal the batch histogram
    // sketch of the whole log (the sketch_hist_merge h CTE, surfaced)
    "sketch_hist_stream" ->
      """SELECT event_type,
           LEAST(GREATEST(CAST(floor(value / 0.5) AS BIGINT), 0), 1023)
             AS bin,
           CAST(count(*) AS BIGINT) AS cnt
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2""",
    // every rotation level of the xy2d loop unrolled: rx/ry from
    // TWO'S-COMPLEMENT bit tests ((v >> p) & 1 — intermediates go
    // negative after flips, where floor-div/mod would diverge from
    // the engine's long arithmetic; DuckDB's >> is arithmetic like
    // Java's), d += s²·xor(3rx, ry), flip+swap per the standard
    // algorithm
    "layout_hilbert" -> {
      val levels = (15 to 0 by -1).zipWithIndex.map { case (p, k) =>
        val s = 1L << p
        val ss = s * s
        s"""h${k + 1} AS (SELECT l_orderkey, l_linenumber, hx, hy,
             d$k + $ss * xor(3 * rx, ry) AS d${k + 1},
             CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
               THEN ${s - 1} - y$k ELSE y$k END) ELSE x$k END AS x${k + 1},
             CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
               THEN ${s - 1} - x$k ELSE x$k END) ELSE y$k END AS y${k + 1}
           FROM (SELECT *, CAST(((x$k >> $p) & 1) AS BIGINT) AS rx,
                 CAST(((y$k >> $p) & 1) AS BIGINT) AS ry FROM h$k) t$k)"""
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
            l_partkey % 65536 AS hx, l_suppkey % 65536 AS hy,
            CAST(l_partkey % 65536 AS BIGINT) AS x0,
            CAST(l_suppkey % 65536 AS BIGINT) AS y0,
            CAST(0 AS BIGINT) AS d0
          FROM lineitem WHERE l_orderkey < 5000),
         $levels
         SELECT l_orderkey, l_linenumber, hx, hy, d16 AS hkey FROM h16"""
    },

    // both layouts replayed end to end: the 8-level hilbert unroll /
    // morton interleave, the deterministic ntile file assignment, the
    // min/max stats and the rectangle read-set count
    "layout_hilbert_prune" -> {
      val levels = (7 to 0 by -1).zipWithIndex.map { case (p, k) =>
        val s = 1L << p
        val ss = s * s
        s"""h${k + 1} AS (SELECT l_orderkey, l_linenumber, hx, hy,
             d$k + $ss * xor(3 * rx, ry) AS d${k + 1},
             CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
               THEN ${s - 1} - y$k ELSE y$k END) ELSE x$k END AS x${k + 1},
             CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
               THEN ${s - 1} - x$k ELSE x$k END) ELSE y$k END AS y${k + 1}
           FROM (SELECT *, CAST(((x$k >> $p) & 1) AS BIGINT) AS rx,
                 CAST(((y$k >> $p) & 1) AS BIGINT) AS ry FROM h$k) t$k)"""
      }.mkString(",\n")
      val zkey = (0 until 8).flatMap(i => Seq(
        s"(((hx >> $i) & 1) << ${2 * i})",
        s"(((hy >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH base AS (SELECT l_orderkey, l_linenumber,
            l_partkey % 256 AS hx, l_orderkey % 256 AS hy
          FROM lineitem WHERE l_orderkey < 5000),
         h0 AS (SELECT *, CAST(hx AS BIGINT) AS x0,
            CAST(hy AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM base),
         $levels,
         hfile AS (SELECT hx, hy, ntile(16) OVER (ORDER BY d8,
            l_orderkey, l_linenumber) AS f FROM h8),
         hstat AS (SELECT f, min(hx) AS mnx, max(hx) AS mxx,
            min(hy) AS mny, max(hy) AS mxy FROM hfile GROUP BY 1),
         hagg AS (SELECT 'hilbert' AS layout,
            CAST(count(*) AS BIGINT) AS files_total,
            CAST(sum(CASE WHEN mnx <= 143 AND mxx >= 112 AND mny <= 143
              AND mxy >= 112 THEN 1 ELSE 0 END) AS BIGINT) AS files_read
           FROM hstat),
         zfile AS (SELECT hx, hy, ntile(16) OVER (ORDER BY ($zkey),
            l_orderkey, l_linenumber) AS f FROM base),
         zstat AS (SELECT f, min(hx) AS mnx, max(hx) AS mxx,
            min(hy) AS mny, max(hy) AS mxy FROM zfile GROUP BY 1),
         zagg AS (SELECT 'zorder' AS layout,
            CAST(count(*) AS BIGINT) AS files_total,
            CAST(sum(CASE WHEN mnx <= 143 AND mxx >= 112 AND mny <= 143
              AND mxy >= 112 THEN 1 ELSE 0 END) AS BIGINT) AS files_read
           FROM zstat)
         SELECT * FROM hagg UNION ALL SELECT * FROM zagg"""
    },

    "sample_time_split" ->
      """WITH e AS (SELECT event_type,
              epoch_ns(ts) // 1000000000 AS ts_s
            FROM events),
         s AS (SELECT event_type, ts_s,
                CASE WHEN ts_s < 1705276800 THEN 'train'
                     WHEN ts_s >= 1705363200 THEN 'test'
                     ELSE 'embargo' END AS split
               FROM e)
         SELECT split, event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(min(ts_s) AS BIGINT) AS min_ts,
           CAST(max(ts_s) AS BIGINT) AS max_ts
         FROM s GROUP BY 1, 2""",
    // fnv1a(decimal string of the id) + secret 99 through the same
    // splitmix chain; signed reinterpretation matches the engine's
    // long output
    "privacy_pseudonym" ->
      """WITH c64 AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         g AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
         fh AS (SELECT user_id, event_type, n, list_reduce(
                  list_prepend(CAST(14695981039346656037 AS HUGEINT),
                    list_transform(list_filter(
                      string_split_regex(CAST(user_id AS VARCHAR), ''),
                      ch -> ch <> ''),
                      ch -> CAST(unicode(ch) AS HUGEINT))),
                  (acc, ch) -> (xor(acc, ch) * 1099511628211) %
                    CAST(18446744073709551616 AS HUGEINT)) AS uh
                FROM g),
         m0 AS (SELECT *, (uh + 99 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1
                FROM fh CROSS JOIN c64),
         ma AS (SELECT *, xor(x1, x1 // 1073741824) AS x2 FROM m0),
         m1 AS (SELECT *, (x2 % 4294967296 * 484763065 +
                ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
                * 4294967296) % m64 AS x3 FROM ma),
         mb AS (SELECT *, xor(x3, x3 // 134217728) AS x4 FROM m1),
         m2 AS (SELECT *, (x4 % 4294967296 * 321982955 +
                ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
                * 4294967296) % m64 AS x5 FROM mb),
         m3 AS (SELECT *, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - CAST(18446744073709551616 AS HUGEINT)
             ELSE x6 END AS BIGINT) AS pseudo_uid,
           event_type, n
         FROM m3"""
  )
}
