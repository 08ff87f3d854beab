package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fences.fence
import HashFunctions.{java_ln, splitmix64_hash, trailing_zeros63}

/** Distinct-count sketches. HyperLogLog (Flajolet et al. 2007, with
  * the standard small-range linear-counting correction) expressed as
  * a pure dataflow: hash → register/rank → two-level aggregation.
  * That IS the distributed HLL merge — partial max-per-register on the
  * map side, one shuffle keyed by (group, register) with at most
  * groups × 2^p rows surviving, then a groups-sized final reduce.
  * No UDAF, no binary blobs: every intermediate is a column Catalyst
  * can see.
  *
  * Oracle strategy (why this is bit-reproducible): everything up to
  * the final estimate is INTEGER arithmetic — splitmix64 hash, top-p
  * register index, a binary-search bit-length (never floor(log2):
  * log2(2^52−1) rounds UP to 52.0 in doubles), and register terms
  * 2^(52−ρ+1) summed EXACTLY as decimal(38,0), which is
  * order-independent, so partial aggregation order cannot change a
  * bit. Doubles appear only in the last mile, as a fixed expression
  * tree replayed verbatim by the DuckDB oracle (ln == [[java_ln]]).
  */
object Sketch {

  /** Bit length (1-based index of the highest set bit; 0 for w = 0)
    * of a non-negative long below 2^52, via 6-step binary search on
    * integer compares — exact, unlike floor(log2(w)) in doubles.
    * Evaluated only on aggregated per-register minima (≤ groups×2^p
    * rows), so the 7-level expression tree costs nothing per data row.
    */
  private[graft] def bitLen(w0: Column): Column = {
    var w = w0
    var acc: Column = lit(0L)
    for (k <- Seq(32, 16, 8, 4, 2, 1)) {
      val cond = w >= lit(1L << k)
      acc = acc + when(cond, lit(k.toLong)).otherwise(lit(0L))
      w = when(cond, shiftrightunsigned(w, k)).otherwise(w)
    }
    acc + when(w >= lit(1L), lit(1L)).otherwise(lit(0L))
  }

  /** Register table of the sketch: one row per (group, register) with
    * the MINIMUM low-bits value seen (bitLen is monotone, so
    * min(w) ≡ max rank ρ). This is the mergeable state: the union of
    * two sketches is a re-aggregation of their register tables with
    * the same min — see the `sketch_hll_union` gate row, which checks
    * merge(sketch A, sketch B) == sketch(A ∪ B) bit-for-bit.
    */
  def hllRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      p: Int = 12,
      seed: Long = 7L): DataFrame = {
    require(p >= 4 && p <= 18, s"p=$p out of range")
    val wBits = 64 - p
    val wMask = (1L << wBits) - 1
    val g = groupCols.map(col)
    df.filter(col(valueCol).isNotNull) // a null hashes to a phantom register
      .select(g :+ splitmix64_hash(col(valueCol) + lit(seed)).as("_h"): _*)
      .select(g ++ Seq(
        shiftrightunsigned(col("_h"), wBits).as("_reg"),
        (col("_h").bitwiseAND(lit(wMask))).as("_w")): _*)
      .groupBy(g :+ col("_reg"): _*)
      .agg(min(col("_w")).as("_mw"))
  }

  /** Merge register tables (sketch union): min(_mw) per register. */
  def hllMerge(regTables: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    regTables.reduce(_ unionByName _)
      .groupBy(g :+ col("_reg"): _*)
      .agg(min(col("_mw")).as("_mw"))
  }

  /** Estimate from a register table produced by [[hllRegisters]] /
    * [[hllMerge]]: one row per group, (groupCols..., n_registers,
    * estimate).
    */
  def hllEstimate(
      regs: DataFrame,
      groupCols: Seq[String],
      p: Int = 12): DataFrame = {
    val m = 1 << p
    val wBits = 64 - p
    val g = groupCols.map(col)

    // term = 2^(wBits+1−ρ) = 2^bitLen(min w); the +1 register (ρ for
    // w=0 is wBits+1, term 2^0 = 1) and absent registers (term
    // 2^(wBits+1)) keep the harmonic sum S = Σ 2^(wBits+1−ρ_j) scaled
    // by 2^(wBits+1) — integer-exact in decimal(38,0).
    val termScale = wBits + 1 // 53 for p=12
    val withBl = regs.withColumn("_bl", bitLen(col("_mw")))
      .withColumn("_term",
        expr("shiftleft(cast(1 as bigint), cast(_bl as int))").cast("decimal(38,0)"))

    val agg = withBl
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_registers"),
        sum(col("_term")).as("_s_present"))
      .withColumn("_v", lit(m.toLong) - col("n_registers"))
      .withColumn("_s",
        col("_s_present") +
          col("_v").cast("decimal(38,0)") *
            lit(1L << termScale).cast("decimal(38,0)"))
      // split S (≤ m·2^53 = 2^65 for p=12) into exactly-representable
      // halves before going to double: hi·4096.0 is a pure power-of-two
      // scale (exact), + lo rounds once, identically in both engines
      .withColumn("_lo", pmod(col("_s"), lit(4096).cast("decimal(38,0)")).cast("long"))
      .withColumn("_hi", ((col("_s") - col("_lo")) / lit(4096).cast("decimal(38,0)")).cast("long"))
      .withColumn("_sd", col("_hi").cast("double") * lit(4096.0) + col("_lo").cast("double"))

    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val raw = alpha * lit(m.toDouble) * lit(m.toDouble) *
      lit(math.pow(2.0, termScale.toDouble)) / col("_sd")
    val estimate = when(
      raw <= lit(2.5) * lit(m.toDouble) && col("_v") > lit(0L),
      lit(m.toDouble) * java_ln(lit(m.toDouble) / col("_v").cast("double")))
      .otherwise(raw)

    agg.select(g ++ Seq(
      col("n_registers"),
      estimate.as("estimate")): _*)
  }

  /** HyperLogLog distinct estimate of a long-valued column per group. */
  def hllDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      p: Int = 12,
      seed: Long = 7L): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol, p, seed), groupCols, p)

  /** Rolling `windowDays`-day distinct count per day via register
    * ALGEBRA: build each day's register table once, explode every
    * (day, register) row over the `windowDays` trailing windows it
    * contributes to, and min-merge per (window-end day, register) —
    * the sliding-window union is a sketch merge, never a re-read of
    * the raw rows. Emits one row per day PRESENT in the data; early
    * days report their partial (shorter) trailing window.
    *
    * Scale shape — the 100 TB dashboard pattern: raw rows are touched
    * exactly once (the daily register build, one shuffle with map-side
    * min combine); everything after operates on ≤ days × 2^p register
    * rows × windowDays exploded copies — metadata scale. A naive
    * `COUNT(DISTINCT)` per sliding window re-shuffles every data row
    * `windowDays` times.
    */
  def hllSlidingDistinct(
      df: DataFrame,
      dayCol: String,
      valueCol: String,
      windowDays: Int,
      p: Int = 12,
      seed: Long = 7L): DataFrame = {
    require(windowDays >= 1, s"windowDays=$windowDays must be >= 1")
    // fenced ([[Fences]], r18): the daily register table feeds the
    // window expansion AND the present-days probe — unfenced, the
    // corpus register aggregation replayed twice
    val daily = fence(hllRegisters(df, Seq(dayCol), valueCol, p, seed))
    val contrib = daily.select(
      explode(sequence(col(dayCol), col(dayCol) + lit(windowDays - 1L)))
        .as(dayCol),
      col("_reg"), col("_mw"))
    val merged = contrib.groupBy(col(dayCol), col("_reg"))
      .agg(min(col("_mw")).as("_mw"))
    val presentDays = daily.select(col(dayCol)).distinct()
    hllEstimate(merged.join(broadcast(presentDays), Seq(dayCol)),
      Seq(dayCol), p)
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) counters from a
    * pre-aggregated weighted item table: depth independent hash rows ×
    * width counters, counter = Σ weights of items landing there.
    * Pure integer dataflow (fnv1a over code points → splitmix64(h+row)
    * → low bits), order-independent sums — bit-reproducible by the
    * DuckDB oracle. The counter table is depth×width rows regardless
    * of input size: the 100 TB story is one shuffle of (row, idx,
    * partial-sum) with map-side combine, then a broadcast-sized
    * result.
    */
  def cmsCounters(
      counts: DataFrame,
      itemCol: String,
      weightCol: String,
      depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2)
    counts
      .select(col(weightCol).as("_wt"),
        explode(array((0 until depth).map(i => struct(
          lit(i.toLong).as("_row"),
          pmod(splitmix64_hash(HashFunctions.fnv1a_hash(col(itemCol)) + lit(i.toLong)),
            lit(width.toLong)).as("_idx"))): _*)).as("_e"))
      .groupBy(col("_e._row").as("_row"), col("_e._idx").as("_idx"))
      .agg(sum(col("_wt")).as("_c"))
  }

  /** HLL set algebra: |A ∩ B| ≈ |A| + |B| − |A ∪ B| by
    * inclusion–exclusion over mergeable sketches. The union estimate
    * comes from [[hllMerge]] of the two register tables — NOT a
    * re-sketch of the concatenated inputs — so this is the operation
    * a 100 TB pipeline actually runs: combine two already-built
    * per-shard sketches without touching the raw data again (the
    * `sketch_hll_union` gate row proves merge == direct-sketch
    * bit-for-bit, which is what makes the composition sound). Output
    * is one row: (est_a, est_b, est_union, est_intersect).
    *
    * Each register table is referenced twice (its own estimate + the
    * merge); the tables end in a shuffle on `_reg`, and AQE's exchange
    * reuse computes each input sketch ONCE (the final adaptive plan
    * carries 2 ReusedExchange and one scan per input — guarded by a
    * TemporalSpec plan test).
    */
  def hllIntersect(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      p: Int = 12,
      seed: Long = 7L): DataFrame = {
    // fenced (r18): each register table feeds the union merge AND its
    // own estimate — unfenced, each corpus aggregation replayed twice
    val ra = fence(hllRegisters(a, Seq.empty, valueCol, p, seed))
    val rb = fence(hllRegisters(b, Seq.empty, valueCol, p, seed))
    val ru = hllMerge(Seq(ra, rb), Seq.empty)
    val ea = hllEstimate(ra, Seq.empty, p).select(col("estimate").as("est_a"))
    val eb = hllEstimate(rb, Seq.empty, p).select(col("estimate").as("est_b"))
    val eu = hllEstimate(ru, Seq.empty, p).select(col("estimate").as("est_union"))
    ea.crossJoin(eb).crossJoin(eu) // three 1-row frames
      .withColumn("est_intersect", col("est_a") + col("est_b") - col("est_union"))
  }

  /** Quantile estimates from a fixed-range histogram: bin the value
    * into `bins` equal widths over [lo, lo + bins·width), clamp
    * outliers to the edge bins, and report each requested quantile as
    * the MIDPOINT of the first bin whose cumulative count reaches
    * ⌈q·n⌉. Accuracy is ±width/2 by construction — choose width from
    * the data's precision, not its size.
    *
    * Scale shape: the sketch state is ≤ groups × bins rows after ONE
    * shuffle with map-side combine (compare a true percentile's full
    * sort); quantile selection runs on that bounded table. The whole
    * pipeline is integer counts + a fixed final float expression, so
    * it is bit-reproducible under any partitioning — the
    * `sketch_quantile_hist` gate row replays it in DuckDB.
    */
  def histogramQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lo: Double,
      width: Double,
      bins: Int,
      qs: Seq[Double]): DataFrame =
    histogramQuantilesFromBins(
      histogramBins(df, groupCols, valueCol, lo, width, bins),
      groupCols, lo, width, qs)

  /** The histogram SKETCH itself: ≤ groups × bins integer-count rows.
    * This is the mergeable state — two sketches built over disjoint
    * slices merge with [[histogramMerge]] into exactly the sketch of
    * the union (integer counts add losslessly, the same merge law as
    * HLL registers but exact), so per-partition / per-day histograms
    * roll up without touching data rows again.
    */
  def histogramBins(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lo: Double,
      width: Double,
      bins: Int): DataFrame = {
    require(bins >= 2 && width > 0)
    val g = groupCols.map(col)
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit(bins.toLong - 1))
    df.filter(col(valueCol).isNotNull)
      .select(g :+ bin.as("_bin"): _*)
      .groupBy(g :+ col("_bin"): _*)
      .agg(count(lit(1)).as("_c"))
  }

  /** Merge histogram sketches ([[histogramBins]] outputs with the same
    * (lo, width, bins) geometry): counts add per (group, bin). */
  def histogramMerge(sketches: Seq[DataFrame],
                     groupCols: Seq[String]): DataFrame = {
    require(sketches.nonEmpty)
    sketches.reduce(_.unionByName(_))
      .groupBy((groupCols.map(col) :+ col("_bin")): _*)
      .agg(sum(col("_c")).as("_c"))
  }

  /** Quantile selection over a [[histogramBins]] sketch (the second
    * half of [[histogramQuantiles]]). */
  def histogramQuantilesFromBins(
      hist: DataFrame,
      groupCols: Seq[String],
      lo: Double,
      width: Double,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    val g = groupCols.map(col)
    val wCum = Window.partitionBy(g: _*).orderBy(col("_bin"))
    val wAll = Window.partitionBy(g: _*)
    hist
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("_cum") >= ceil(col("q") * col("_n")))
      .groupBy(g :+ col("q"): _*)
      .agg(min(col("_bin")).as("_qbin"))
      .withColumn("est",
        (col("_qbin").cast("double") + lit(0.5)) * lit(width) + lit(lo))
      .drop("_qbin")
  }

  /** EXACT heavy hitters (items with global count ≥ threshold) without
    * shuffling the long tail. Two phases:
    *
    *  1. Per-partition Misra–Gries (1982) with `capacity` counters —
    *     genuine imperative per-partition state, the documented
    *     mapPartitions case. MG retains every item whose partition
    *     count exceeds N_p/(capacity+1); summing over partitions, any
    *     item with global count > N/(capacity+1) survives in at least
    *     one partition, so with capacity ≥ N/threshold the candidate
    *     set is a SUPERSET of the true heavy hitters.
    *  2. A confirming exact count of candidate items only (broadcast
    *     candidate join → groupBy → HAVING). False candidates are
    *     filtered here, so the OUTPUT is exact and independent of
    *     partitioning even though the candidate set is not.
    *
    * Scale shape: the shuffle carries only candidate-item rows
    * (≤ partitions × capacity distinct items); the tail — the
    * overwhelming bulk of a 100 TB token stream — is dropped at the
    * map side by the broadcast membership probe.
    *
    * `capacity = 0` self-sizes to 2·⌈N/threshold⌉ (one counting pass)
    * so the completeness bound holds at any scale factor.
    */
  def heavyHitters(
      items: DataFrame,
      itemCol: String,
      threshold: Long,
      capacity: Int = 0): DataFrame = {
    require(threshold >= 1, "threshold must be >= 1")
    val spark = items.sparkSession
    import spark.implicits._
    // fenced (r18): strs feeds the capacity count, the Misra–Gries
    // candidate pass AND the exact confirm join — 3 input replays
    // unfenced
    val strs = fence(items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull))
    val cap: Int =
      if (capacity > 0) capacity
      else {
        val n = strs.count()
        val need = 2L * ((n + threshold - 1) / threshold)
        math.max(64L, math.min(need, 1L << 20)).toInt
      }
    val candidates = strs.as[String].mapPartitions { it =>
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      it.foreach { s =>
        counts.get(s) match {
          case Some(c) => counts.update(s, c + 1)
          case None if counts.size < cap => counts.update(s, 1L)
          case None => // MG decrement step: all counters down one
            val dead = List.newBuilder[String]
            counts.foreach { case (k, v) =>
              if (v == 1L) dead += k else counts.update(k, v - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator
    }.toDF("item").distinct()
    strs.join(broadcast(candidates), Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Point estimates: min over the depth counters each probe item
    * hashes to (the CMS upper bound). `counters` is broadcast-sized
    * by construction.
    */
  def cmsLookup(
      counters: DataFrame,
      probes: DataFrame,
      itemCol: String,
      depth: Int = 4,
      width: Int = 1024): DataFrame = {
    val probeIdx = probes
      .select(col(itemCol),
        explode(array((0 until depth).map(i => struct(
          lit(i.toLong).as("_row"),
          pmod(splitmix64_hash(HashFunctions.fnv1a_hash(col(itemCol)) + lit(i.toLong)),
            lit(width.toLong)).as("_idx"))): _*)).as("_e"))
      .select(col(itemCol), col("_e._row").as("_row"), col("_e._idx").as("_idx"))
    probeIdx
      .join(broadcast(counters), Seq("_row", "_idx"))
      .groupBy(col(itemCol))
      .agg(min(col("_c")).as("cms_estimate"))
  }

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    * 2002; Beyer et al. SIGMOD 2007): per group keep the k SMALLEST
    * distinct 64-bit hashes of the value; the k-th minimum θ
    * estimates the cardinality as (k−1)·2⁶⁴/θ (unbiased). The
    * mergeable-state sibling of [[hllRegisters]] with a different
    * trade: exact ≤ k−1 small cardinalities (the state IS the
    * distinct hash set) and a set-intersectable state (HLL registers
    * only union) — at the price of k·8 bytes/group vs 2^p registers.
    *
    * State rows: (group, kmv_rank, _h) with rank 1..k over distinct
    * hashes — integer-exact, partial-agg safe (the k smallest of a
    * union = k smallest of the concatenated per-partition k-mins, so
    * Spark's partial TopK under the window limit is the map-side
    * combine). Hashes shift to 63-bit non-negative so the θ ratio
    * stays in positive long arithmetic.
    */
  def kmvState(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int = 256,
      seed: Long = 7L): DataFrame = {
    require(k >= 16 && k <= 65536, s"k=$k")
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("_h"))
    df.filter(col(valueCol).isNotNull)
      .select(g :+ shiftrightunsigned(
        splitmix64_hash(col(valueCol) + lit(seed)), 1).as("_h"): _*)
      .distinct()
      .withColumn("kmv_rank", row_number().over(w).cast("long"))
      .filter(col("kmv_rank") <= k)
  }

  /** Merge KMV states (sketch union): k smallest distinct hashes of
    * the union of states — re-rank after the concat, exactly the
    * partial-combine law the state's own construction uses. */
  def kmvMerge(states: Seq[DataFrame], groupCols: Seq[String],
               k: Int = 256): DataFrame = {
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("_h"))
    states.reduce(_ unionByName _)
      .select(g :+ col("_h"): _*).distinct()
      .withColumn("kmv_rank", row_number().over(w).cast("long"))
      .filter(col("kmv_rank") <= k)
  }

  /** Cardinality estimate from a KMV state: exact count when the
    * group holds fewer than k hashes (the state is the whole distinct
    * set), else (k−1)·2⁶³/θ with θ = the k-th minimum — one division
    * on integer-exact inputs. */
  def kmvEstimate(state: DataFrame, groupCols: Seq[String],
                  k: Int = 256): DataFrame = {
    val g = groupCols.map(col)
    state.groupBy(g: _*)
      .agg(count(lit(1)).as("_cnt"), max(col("_h")).as("_theta"))
      .select(g ++ Seq(col("_cnt").as("n_state"),
        when(col("_cnt") < k, col("_cnt").cast("double"))
          .otherwise(lit((k - 1).toDouble) *
            lit(9223372036854775807.0) / col("_theta").cast("double"))
          .as("estimate")): _*)
  }

  /** Pairwise set-operation estimates from one grouped KMV state
    * (Beyer et al. SIGMOD 2007 §4 — the set algebra HLL registers
    * cannot do): for every unordered group pair, the k smallest
    * hashes of the two states' union form the union sketch X, and
    * membership of each x ∈ X in either INPUT state is exact — the
    * union's k-th minimum is ≤ either state's θ, so any true member
    * of a set below its state's θ is IN that state. K∩ = |{x ∈ X :
    * x ∈ A ∧ x ∈ B}| is then the textbook intersection counter:
    * union by the same k-th-min estimator as [[kmvEstimate]] (exact
    * below k), jaccard = K∩ / |X|, intersection = jaccard · union.
    * This is the cross-corpus overlap primitive of a curation
    * pipeline: "how much of corpus B is already in corpus A" from
    * two k·8-byte states, no rescan.
    *
    * Scale shape: inputs are STATES (≤ k rows per group), never raw
    * data — the pair expansion broadcasts the group LIST over ≤ k·G
    * state rows (nested-loop on purpose: G is the number of corpora,
    * not a data-sized relation), then one groupBy and one bounded
    * window (partial top-k under the rank filter). Cross-corpus
    * overlap at 100 TB costs what the kmvState scans cost; this step
    * is driver-free and constant-size.
    *
    * `k` MUST be the k the state was built with (no default on
    * purpose — the exact-below-k branch is only correct at the build
    * k: a larger k would route full-at-build-k states into the exact
    * branch and cap every estimate at 2·build-k). A k SMALLER than
    * the build k is detected from the data (rank > k rows exist) and
    * fails loudly; a larger one is not detectable from the state, so
    * the parameter is part of the sketch's contract — the same
    * contract [[kmvEstimate]] carries.
    */
  def kmvSetOps(state: DataFrame, groupCol: String,
                k: Int): DataFrame = {
    // Fence the state first: it is referenced THREE times below (both
    // pair-expansion sides + the group list), so an unfenced state
    // re-derives — and re-CODEGENS — its whole input lineage per
    // reference (measured 3.8 s janino tax / 45 classes on a 1 s
    // plan). The state is ≤ k rows per group, so the fence costs one
    // build.
    // the k-too-small half of the contract is data-detectable: a rank
    // above k means the state was built with a larger k — fail at the
    // fence instead of silently mixing two sketch resolutions
    val st = fence(state.select(col(groupCol).as("g"), col("_h"),
        assert_true(col("kmv_rank") <= k,
          lit(s"kmvSetOps: state rank exceeds k=$k — pass the k the " +
            "state was built with")).as("_ck")))
      .drop("_ck")
    val gs = st.select(col("g")).distinct()
    val lhs = st
      .join(broadcast(gs.select(col("g").as("g2"))), col("g") < col("g2"))
      .select(col("g").as("type_a"), col("g2").as("type_b"), col("_h"),
        lit(1L).as("_ia"), lit(0L).as("_ib"))
    val rhs = st
      .join(broadcast(gs.select(col("g").as("g1"))), col("g1") < col("g"))
      .select(col("g1").as("type_a"), col("g").as("type_b"), col("_h"),
        lit(0L).as("_ia"), lit(1L).as("_ib"))
    val merged = lhs.unionByName(rhs)
      .groupBy(col("type_a"), col("type_b"), col("_h"))
      .agg(max(col("_ia")).as("_ia"), max(col("_ib")).as("_ib"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("type_a"), col("type_b")).orderBy(col("_h"))
    val x = merged.withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
    val agged = x.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("_nu"), max(col("_h")).as("_theta"),
        sum(col("_ia") * col("_ib")).as("n_common"))
    // exact-below-k union, then jaccard·union — the same operation
    // order the oracle replays (one division, one multiplication)
    val uni = when(col("_nu") < k, col("_nu").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(9223372036854775807.0) /
        col("_theta").cast("double"))
    val jac = col("n_common").cast("double") / col("_nu").cast("double")
    agged.select(col("type_a"), col("type_b"), col("n_common"),
      uni.as("union_est"), (jac * uni).as("inter_est"),
      jac.as("jaccard_est"))
  }

  // ==================== KLL-style quantile sketch ====================
  //
  // Mergeable quantile sketch in KLL's level structure (Karnin-Lang-
  // Liberty 2016): items live at geometric levels, an item at level
  // ℓ has weight 2^ℓ, and rank(v) is estimated by the weighted count
  // of retained items ≤ v. The one deliberate deviation from the
  // paper: KLL's sequential compactor flips a coin per compaction, so
  // the sketch depends on arrival order — which no distributed
  // engine can reproduce (Spark's partition order is nondeterministic,
  // and the gate hashes results bit-for-bit). Here each item's level
  // is decided by ITS OWN coin flips — the number of trailing zero
  // bits of its splitmix64 row hash, so P(level ≥ ℓ) = 2^-ℓ, exactly
  // the survival probability ℓ rounds of KLL compaction give an item.
  // The group then retains every item at or above the smallest level
  // L whose population fits the budget k (so all retained items carry
  // one weight 2^L, like KLL's top compactor). Sample-quantile error
  // is O(1/√k) per the level-sampling analysis (Frahling-Indyk-Sohler
  // style), and the construction buys three properties the sequential
  // compactor cannot give:
  //   - ORDER-FREE determinism: the state is a pure function of the
  //     row multiset — bit-reproducible under any partitioning;
  //   - EXACT mergeability: level membership is per-item, so
  //     merge(sketch A, sketch B) == sketch(A ∪ B) exactly (the
  //     union's cut level L* ≥ each part's cut by count monotonicity,
  //     so no row the union needs was discarded by a part) — the law
  //     the `sketch_kll_merge`/`sketch_kll_stream` gate rows prove
  //     bit-for-bit;
  //   - INTEGER-EXACT replay: hash, trailing zeros, level cut and
  //     weighted ranks are all integer arithmetic a DuckDB oracle
  //     replays verbatim.
  //
  // Scale: one (group, level) histogram shuffle to find the cut, one
  // broadcast join to filter — the state is ≤ ~2k rows per group no
  // matter how many rows went in, and the 100 TB path never sorts or
  // collects the data (the only per-group sort in kllQuantiles runs
  // on the ≤ 2k-row state).

  /** Trailing zero bits of a positive 63-bit hash (the item's "coin
    * flips survived"); h = 0 (probability 2^-63) caps at 62. A single
    * codegen'd intrinsic ([[HashExpressions]] TrailingZeros63) — the
    * earlier bitLen(h & -h) - 1 when-chain formulation produced a
    * ~3^6-node expression tree whose janino compile dominated the
    * sketch_kll* bench rows (same value bit-for-bit; the oracle
    * replays it via the powers join either way).
    */
  private def trailingZeros(h: Column): Column = trailing_zeros63(h)

  /** Per-group cut level: the smallest L with |{tz ≥ L}| ≤ k, i.e.
    * 1 + the highest level whose at-or-above population still
    * exceeds k (0 when the whole group fits). `rows` must carry
    * groupCols + `_tz`; returns one row per group with `_lraw`.
    */
  private def kllCutLevel(rows: DataFrame, groupCols: Seq[String],
                          k: Int): DataFrame = {
    val g = groupCols.map(col)
    val hist = rows.groupBy(g :+ col("_tz"): _*).agg(count(lit(1)).as("_c"))
    val wDesc = Window.partitionBy(g: _*).orderBy(col("_tz").desc)
    hist.withColumn("_cge", sum(col("_c")).over(wDesc))
      .groupBy(g: _*)
      .agg(sum(col("_c")).as("_nrows"),
        coalesce(max(when(col("_cge") > k, col("_tz"))) + lit(1L), lit(0L))
          .as("_lraw"))
  }

  /** Build the KLL state: one row per retained item —
    * (group, kll_n exact rows, kll_l cut level, _v value, _h hash,
    * _tz item level). `idCol` must uniquely identify a row (the
    * hash's coin flips must be independent per ROW, not per value —
    * quantiles weigh duplicates). ≤ ~2k rows per group (k at the cut
    * level, a halving tail above it).
    */
  def kllState(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int = 256,
      seed: Long = 7L): DataFrame = {
    require(k >= 16 && k <= 65536, s"k=$k")
    val g = groupCols.map(col)
    // fenced (r18): base feeds the cut-level aggregate AND the
    // compaction join — unfenced, the scan+hash projection replayed
    val base = fence(df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(g ++ Seq(col(valueCol).as("_v"),
        shiftrightunsigned(
          splitmix64_hash(col(idCol) + lit(seed)), 1).as("_h")): _*)
      .withColumn("_tz", trailingZeros(col("_h"))))
    val lv = kllCutLevel(base, groupCols, k)
      .select(g ++ Seq(col("_nrows").as("kll_n"),
        col("_lraw").as("kll_l")): _*)
    val joined =
      if (groupCols.isEmpty) base.crossJoin(broadcast(lv))
      else base.join(broadcast(lv), groupCols)
    joined.filter(col("_tz") >= col("kll_l"))
      .select(g ++ Seq(col("kll_n"), col("kll_l"),
        col("_v"), col("_h"), col("_tz")): _*)
  }

  /** Merge KLL states (sketch union): exact row counts add; the
    * union's cut level is recomputed over the surviving items,
    * floored at the parts' max cut (levels below it are partially
    * counted in the union of states, but count monotonicity puts the
    * true union cut at or above every part's cut, so the floor never
    * loses a level the union could have kept). The result is
    * bit-identical to kllState over the concatenated inputs.
    */
  def kllMerge(states: Seq[DataFrame], groupCols: Seq[String],
               k: Int = 256): DataFrame = {
    val g = groupCols.map(col)
    // Fence each input state first: the merge references every state
    // THREE times (per-part counts, the union's cut histogram, the
    // union's filter join), and an unfenced state re-derives its whole
    // input lineage per reference — measured ~12 scans of the raw log
    // for a 2-way merge. The state is ≤ ~2k rows per group, so the
    // eager fence is a storage-backed leaf that costs one state build.
    val fenced = states.map(fence)
    // per-part (n, cut) — constant within a part's group rows
    val parts = fenced.map(_.groupBy(g: _*)
      .agg(first(col("kll_n")).as("_pn"), first(col("kll_l")).as("_pl")))
    val ntab = parts.reduce(_ unionByName _).groupBy(g: _*)
      .agg(sum(col("_pn")).as("kll_n"), max(col("_pl")).as("_lfloor"))
    // the union reads the FENCED states too — this is the
    // thrice-referenced side the fence exists for
    val all = fenced.reduce(_ unionByName _)
      .select(g ++ Seq(col("_v"), col("_h"), col("_tz")): _*)
    val lv = kllCutLevel(all, groupCols, k).drop("_nrows")
    val cut =
      if (groupCols.isEmpty) ntab.crossJoin(lv)
      else ntab.join(lv, groupCols)
    val lvl = cut.select(g ++ Seq(col("kll_n"),
      greatest(col("_lfloor"), col("_lraw")).as("kll_l")): _*)
    val joined =
      if (groupCols.isEmpty) all.crossJoin(broadcast(lvl))
      else all.join(broadcast(lvl), groupCols)
    joined.filter(col("_tz") >= col("kll_l"))
      .select(g ++ Seq(col("kll_n"), col("kll_l"),
        col("_v"), col("_h"), col("_tz")): _*)
  }

  /** Quantile estimates from a KLL state: retained items sorted by
    * (value, hash), item i's estimated rank is i·2^L, and the q-
    * quantile is the first item whose estimated rank reaches the
    * target rank ⌈q·n⌉ against the EXACT row count n (falling back
    * to the max when the weighted mass under-covers n). Quantiles
    * are given in BASIS POINTS (p50 → 5000) so the target rank is
    * pure integer arithmetic — ⌈q·n⌉ = (n·bp + 9999) div 10000 —
    * never a double ceil (whose rounding DuckDB's decimal ceil would
    * not reproduce). Runs on the ≤ 2k-row state — the window sort
    * never sees the data.
    */
  def kllQuantiles(
      state: DataFrame,
      groupCols: Seq[String],
      qs: Seq[(String, Int)] =
        Seq("p50" -> 5000, "p90" -> 9000, "p99" -> 9900)): DataFrame = {
    require(qs.forall { case (_, bp) => bp >= 1 && bp <= 10000 },
      s"quantiles are basis points in [1, 10000]: $qs")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("_v").asc, col("_h").asc)
    val ranked = state
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_r",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(kll_l AS INT))") * col("_i"))
    val aggs =
      Seq(first(col("kll_n")).as("n_rows"),
        first(col("kll_l")).as("kll_level"),
        count(lit(1)).as("m_state")) ++
      qs.map { case (name, bp) =>
        coalesce(
          min(when(col("_r") >=
            expr(s"(kll_n * $bp + 9999) div 10000"), col("_v"))),
          max(col("_v"))).as(name)
      }
    ranked.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }

  // ==================== Distributed Bloom filter ====================
  //
  // Bloom filter (Bloom 1970) as a MERGEABLE word table: one row per
  // 64-bit word with any bit set — (word_idx, bits). Each item sets
  // kHashes positions pos_i = splitmix64(item + seed + i) mod m; a
  // word's bits are the OR of 1 << (pos mod 64). This is the
  // cross-batch membership primitive at 100 TB: where
  // `Dedup.bloomIncremental` tree-aggregates a DRIVER-sized
  // util.sketch filter and broadcasts it, this state lives in parquet
  // across batches, costs one (word, partial-OR) shuffle with
  // map-side combine, and merges by word-wise OR — the union law
  // merge(bloom A, bloom B) == bloom(A ∪ B) holds EXACTLY because OR
  // is idempotent/associative/commutative (the `sketch_bloom_merge`
  // gate row proves it bit-for-bit, and idempotence is what makes
  // foreachBatch replays of the streaming sink safe with no
  // committed-state versioning subtleties).
  //
  // mBits must be a power of two: the DuckDB oracle replays the
  // position chain in unsigned HUGEINT while Spark's pmod sees the
  // signed reinterpretation, and the two moduli agree exactly on the
  // low bits (two's complement) only for power-of-two m. itemCol must
  // be integral — route strings through fnv1a_hash first.

  /** Build the word table over `df`'s items: (word_idx, bits), at
    * most m/64 rows regardless of input size. */
  def bloomWords(
      df: DataFrame,
      itemCol: String,
      mBits: Int = 1 << 16,
      kHashes: Int = 4,
      seed: Long = 7L): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits=$mBits must be a power of two >= 64")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes=$kHashes")
    bloomPositions(df, itemCol, mBits, kHashes, seed)
      .select(expr("_pos div 64").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))")
          .as("_mask"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(_mask)").as("bits"))
  }

  private def bloomPositions(df: DataFrame, itemCol: String, mBits: Int,
                             kHashes: Int, seed: Long): DataFrame =
    df.filter(col(itemCol).isNotNull)
      .select(col(itemCol), explode(array((0 until kHashes).map(i =>
        pmod(splitmix64_hash(col(itemCol) + lit(seed + i)),
          lit(mBits.toLong))): _*)).as("_pos"))

  /** Word-wise OR of word tables (bloom union). */
  def bloomMerge(words: Seq[DataFrame]): DataFrame =
    words.reduce(_ unionByName _)
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(bits)").as("bits"))

  /** Membership probe: one row per distinct candidate with
    * `bloom_hit` 1 ⇔ ALL k positions are set (no false negatives;
    * FP ≈ (1 − e^{−kn/m})^k). The word table is broadcast (≤ m/64
    * rows); candidates never shuffle beyond their own distinct.
    */
  def bloomProbe(
      words: DataFrame,
      candidates: DataFrame,
      itemCol: String,
      mBits: Int = 1 << 16,
      kHashes: Int = 4,
      seed: Long = 7L): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits=$mBits must be a power of two >= 64")
    val pos = bloomPositions(candidates, itemCol, mBits, kHashes, seed)
      .select(col(itemCol),
        expr("_pos div 64").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))")
          .as("_mask"))
    pos.join(broadcast(words), Seq("word_idx"), "left")
      .select(col(itemCol),
        when(coalesce(col("bits"), lit(0L)).bitwiseAND(col("_mask")) =!= 0L,
          lit(1L)).otherwise(lit(0L)).as("_set"))
      .groupBy(col(itemCol))
      .agg(min(col("_set")).as("bloom_hit"))
  }
}
