package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import HashFunctions._

/** Deterministic sampling and ordering for training-data pipelines.
  *
  * Both operators key on `splitmix64(id + seed)` rather than
  * `rand()`/`xxhash64`: the result is reproducible across runs,
  * engines, and partitionings (a training mix must be re-derivable
  * from the recipe), and the DuckDB oracle replicates the identical
  * arithmetic. Everything is row-local except the rank's range
  * exchange.
  */
object Sampling {

  /** Leakage-free TEMPORAL train/test split with an embargo gap
    * (the purged split of de Prado's backtesting literature): train =
    * strictly before `splitAt − embargo`, test = at/after `splitAt`,
    * and the embargo window in between is DROPPED — rows whose
    * influence straddles the boundary (trailing features, label
    * horizons) can otherwise leak test information into training.
    * The group-hash split in this file protects against ENTITY
    * leakage; this one protects against TIME leakage — a forecasting
    * eval needs both. Row-local assignment, zero shuffle.
    */
  def timeSplit(
      df: DataFrame,
      timeCol: String,
      splitAt: Long,
      embargo: Long): DataFrame = {
    require(embargo >= 0, s"embargo=$embargo")
    df.withColumn("split",
      when(col(timeCol) < lit(splitAt - embargo), lit("train"))
        .when(col(timeCol) >= lit(splitAt), lit("test"))
        .otherwise(lit("embargo")))
  }

  /** 4096 hash buckets via bit extraction — shift/mask is identical on
    * signed and unsigned interpretations, so engine parity is trivial.
    */
  private val BucketBits = 12
  private val Buckets = 1 << BucketBits // 4096

  def bucketOf(id: Column, seed: Long): Column =
    shiftrightunsigned(splitmix64_hash(id + lit(seed)), BucketBits)
      .bitwiseAND(lit((Buckets - 1).toLong))

  /** Deterministic negative sampling for contrastive pairs: each row
    * draws `k` pseudo-random partners from the corpus — the classic
    * in-batch-negatives alternative that works ACROSS batches and is
    * re-derivable from the recipe (id + seed), unlike `rand()`.
    *
    * Mechanism: ids hash into `2^bucketBits` buckets (top bits of
    * splitmix64, identical on signed/unsigned interpretations); each
    * bucket elects its smallest id as representative; draw i of row d
    * re-hashes (h(d) + i) to a target bucket and takes that bucket's
    * representative. Draws landing on the row itself (or on an empty
    * bucket) are dropped — callers wanting exactly-k increase `k` or
    * bucketBits.
    *
    * Scale shape: the representative table is ≤ 2^bucketBits rows —
    * broadcast — so the corpus is never shuffled: one row-local
    * explode(×k) + a broadcast join. The rep election shuffles only
    * (bucket, id) pairs with map-side min. Returns
    * (idCol, draw, neg_id).
    */
  def negativeSample(df: DataFrame, idCol: String, k: Int,
                     bucketBits: Int = 6, seed: Long = 7L): DataFrame = {
    require(k >= 1, s"k=$k")
    require(bucketBits >= 1 && bucketBits <= 20, s"bucketBits=$bucketBits")
    val ids = df.select(col(idCol).as("_id"))
      .withColumn("_h", splitmix64_hash(col("_id") + lit(seed)))
    val withB = ids.withColumn("_b",
      shiftrightunsigned(col("_h"), 64 - bucketBits))
    val reps = withB.groupBy(col("_b")).agg(min(col("_id")).as("_rep"))
    val draws = ids
      .withColumn("_i", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("_tb", shiftrightunsigned(
        splitmix64_hash(col("_h") + col("_i")), 64 - bucketBits))
    draws.join(broadcast(reps), draws("_tb") === reps("_b"))
      .filter(col("_rep") =!= col("_id"))
      .select(col("_id").as(idCol), col("_i").cast("long").as("draw"),
        col("_rep").as("neg_id"))
  }

  /** Deterministic hash sample: keeps ≈`fraction` of rows (granularity
    * 1/4096), the SAME rows every run for a given seed. A row-local
    * filter inside the scan — no shuffle, no RNG state, prunable.
    */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 0L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    val cut = math.floor(fraction * Buckets).toLong
    df.filter(bucketOf(col(idCol), seed) < lit(cut))
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * splitmix64(id + seed) mod k — every row's fold is re-derivable
    * from the recipe on any executor, any run (the `rand()`
    * alternative that survives retries and re-partitioning), and the
    * folds are near-equal-sized by hash uniformity. Row-local, zero
    * shuffle; group-correlated data should pass the GROUP key as
    * `idCol` (the [[groupSplit]] leakage rule applies to folds too).
    */
  def kFold(df: DataFrame, idCol: String, k: Int,
            seed: Long = 0L): DataFrame = {
    require(k >= 2 && k <= 1000, s"k=$k")
    df.withColumn("fold",
      pmod(splitmix64_hash(col(idCol) + lit(seed)), lit(k.toLong)))
  }

  /** Leakage-free dataset split: every row of a GROUP (user, domain,
    * document family…) lands in the SAME split, decided by a
    * deterministic hash of the group key against cumulative bucket
    * cuts (granularity 1/4096). This is the split a training pipeline
    * must use when rows of one group are correlated — splitting rows
    * i.i.d. leaks group signal from train into eval. Row-local
    * expression: no shuffle, no group materialization, and any two
    * rows of a group agree on any executor, any run.
    *
    * Fractions are rounded to cumulative 1/4096 cuts; they must sum
    * to 1.
    */
  def groupSplit(df: DataFrame, groupCol: String,
                 fractions: Seq[(String, Double)],
                 seed: Long = 0L): DataFrame =
    df.withColumn("split", splitColumn(col(groupCol), fractions, seed))

  /** The row-local split expression [[groupSplit]] wraps — exposed so
    * the config-surface annotator (`sample.split`) can write the same
    * assignment into CDC metadata without reshaping the frame. */
  def splitColumn(group: Column, fractions: Seq[(String, Double)],
                  seed: Long = 0L): Column = {
    require(fractions.nonEmpty, "need at least one split")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val cuts = cum.map(f => math.round(f * Buckets))
    val b = bucketOf(group, seed)
    val first = when(b < lit(cuts.head), lit(fractions.head._1))
    val chain = fractions.tail.zip(cuts.tail).foldLeft(first) {
      case (acc, ((name, _), cut)) => acc.when(b < lit(cut), lit(name))
    }
    chain.otherwise(lit(fractions.last._1))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006,
    * algorithm A-Res in log domain): key_i = ln(u_i) / w_i with
    * u_i ∈ (0,1) a deterministic splitmix64 draw; the k LARGEST keys
    * are a weight-proportional sample without replacement. Log domain
    * avoids u^(1/w) (pow is not correctly rounded — ln is, in both
    * engines, so the keys carry a bit-exact oracle).
    *
    * Scale shape: row-local key inside the scan, global top-k is a
    * TakeOrdered (per-partition heaps, no full sort, no shuffle of
    * the data — only k rows per partition reach the driver-side
    * merge). Non-positive weights are clamped to 1 (a weight of 0
    * would divide-by-zero; both engines replay the clamp).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0)
    val u = (shiftrightunsigned(splitmix64_hash(col(idCol) + lit(seed)), 11)
      .cast("double") + lit(0.5)) / lit(9007199254740992.0)
    df.withColumn("samp_key",
        java_ln(u) / greatest(col(weightCol).cast("double"), lit(1.0)))
      .orderBy(col("samp_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic global interleave: every row gets a stable
    * pseudo-random position (its global rank by (hash, id)). Training
    * pipelines read in `shuffle_rank` order to decorrelate adjacent
    * source documents.
    *
    * NOT a global window: `row_number().over(orderBy(...))` plans an
    * Exchange SinglePartition — every row through ONE task, dead at
    * 100 TB. Instead: range-partition on the hash, sort within
    * partitions, then `zipWithIndex` (one small job collecting P
    * partition counts, then per-partition offsets). The assigned ranks
    * depend only on the global (hash, id) ordering — NOT on the
    * sampled range boundaries — so the output is identical on any
    * cluster layout, and identical to what the single-partition window
    * would have produced.
    */
  def interleave(df: DataFrame, idCol: String, seed: Long = 0L): DataFrame = {
    val session = df.sparkSession
    val sorted = df
      .select(col(idCol), splitmix64_hash(col(idCol) + lit(seed)).as("_h"))
      .repartitionByRange(col("_h"), col(idCol))
      .sortWithinPartitions(col("_h"), col(idCol))
    val idIdx = 0
    val ranked = sorted.queryExecution.toRdd
      .map(_.copy()) // InternalRow reuse: materialize before buffering in zip
      .zipWithIndex()
      .map { case (row, idx) => org.apache.spark.sql.Row(row.getLong(idIdx), idx) }
    session.createDataFrame(ranked,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("shuffle_rank",
          org.apache.spark.sql.types.LongType))))
  }

  /** Deterministic stratified sampling: an exact quota of `perStratum`
    * rows from every stratum, chosen by splitmix64 rank (ties by id) —
    * the balanced-mix primitive (per-language / per-source quotas) of
    * training-data curation, re-derivable from (seed, quota) alone.
    *
    * Scale shape: one hash exchange on the stratum key + a per-stratum
    * sort for the rank window — strata counts are small (languages,
    * sources), so the window never degenerates to a single global
    * partition, but a HUGE stratum does serialize into one task's
    * sort. When quotas are large enough to tolerate ±1/4096 error,
    * [[hashSample]] with a per-stratum fraction is the constant-memory
    * alternative (row-local filter, no exchange at all).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       perStratum: Int, seed: Long = 0L): DataFrame = {
    require(perStratum > 0)
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol), col(strataCol),
        splitmix64_hash(col(idCol) + lit(seed)).as("_h"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(col("_h"), col(idCol))))
      .filter(col("_rk") <= perStratum)
      .select(col(idCol), col(strataCol))
  }

  /** Temperature-based source rebalancing (the multilingual-mix recipe
    * of mT5/XLM-R: sample stratum s with probability ∝ cₛ^(1/τ)):
    * flatten a skewed stratum distribution toward uniform by keeping a
    * per-stratum fraction fₛ = min(1, (N·wₛ/Σw)/cₛ) with wₛ = cₛ^(1/τ)
    * — head strata (big languages/domains) downsample, tail strata
    * keep everything, total stays ≈ N. Row selection is the same
    * deterministic splitmix64 bucket filter as [[hashSample]], so the
    * mix is re-derivable from (τ, seed) alone and a stratum's sample
    * is a SUBSET of any larger fraction's (nested samples — raising τ
    * only removes rows).
    *
    * Scale shape: one map-side-combined count per stratum (strata are
    * few: languages, domains), fractions computed on the driver in
    * sorted-stratum order (the IEEE fold is reproducible — and
    * replicated by the oracle), then a broadcast join + row-local
    * bucket filter inside the scan: no shuffle of data rows at all.
    * τ = 2 keeps the weight function on the correctly-rounded sqrt
    * path so any IEEE engine derives bit-identical cuts; other τ go
    * through Math.pow (documented 1-ulp, fine for production, not for
    * bit-exact oracles).
    */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
                        temperature: Double = 2.0, seed: Long = 0L): DataFrame = {
    require(temperature >= 1.0, "temperature < 1 would upsample; this is a filter")
    val exp = 1.0 / temperature
    def w(c: Long): Double =
      if (exp == 0.5) math.sqrt(c.toDouble) else math.pow(c.toDouble, exp)
    // Null strata are excluded up front: a null join key could never
    // match a cut row anyway (SQL equality), so those rows were always
    // unsampleable — filtering makes that explicit and keeps the
    // driver-side fold null-safe. The collected stratum values keep
    // their ORIGINAL type and ride back typed (no toString rebuild), so
    // the cut join never depends on implicit cast semantics; the fold
    // order sorts by the value's string rendering (what the oracle
    // replicates with ORDER BY over string strata).
    val counts = df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol)).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.get(0), r.getLong(1)))
      .sortBy(_._1.toString)
    val total = counts.iterator.map(_._2).sum
    val sumW = counts.foldLeft(0.0)((acc, kv) => acc + w(kv._2))
    val cuts = counts.map { case (k, c) =>
      val target = total.toDouble * w(c) / sumW
      val f = target / c.toDouble
      (k, math.floor(math.min(1.0, f) * 4096.0).toLong)
    }
    val spark = df.sparkSession
    val cutSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(strataCol).copy(name = strataCol),
      org.apache.spark.sql.types.StructField("_cut",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val cutDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(cuts.map(kv =>
        org.apache.spark.sql.Row(kv._1, kv._2)): _*), cutSchema))
    df.join(cutDf, strataCol)
      .filter(bucketOf(col(idCol), seed) < col("_cut"))
      .select(col(idCol), col(strataCol))
  }

  /** Mixture sampling to explicit TARGET proportions — the
    * data-mixing step of a training recipe ("the corpus must be
    * 50% en / 20% de / 20% fr / 10% zh"): keeps the LARGEST
    * deterministic subset whose per-stratum shares hit the targets.
    * Total budget B = min over strata of cₛ/pₛ (the binding stratum
    * is kept whole), per-stratum keep fraction fₛ = pₛ·B/cₛ,
    * membership by the splitmix64 bucket filter (granularity 1/4096,
    * reproducible across runs/partitionings — the same recipe
    * re-derives the same mix). Strata not named in `targets` are
    * dropped entirely (weight 0); every named stratum must be present
    * (a zero-count target would force an empty sample — fail loudly
    * instead).
    *
    * Scale shape ([[temperatureSample]]'s envelope): one
    * map-side-combined count per stratum, a broadcast cut join, and
    * a row-local bucket filter inside the scan — data rows never
    * shuffle. Every arithmetic step ((p·B)/c in that order, min over
    * c/p, floor·4096) is fixed-order IEEE, replicated by the DuckDB
    * oracle.
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
                    targets: Seq[(String, Double)],
                    seed: Long = 0L): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive proportions")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target proportions must sum to 1")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target stratum")
    val tmap = targets.toMap
    val counts = df
      .filter(col(strataCol).isin(targets.map(_._1): _*))
      .groupBy(col(strataCol)).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val missing = tmap.keySet -- counts.map(_._1)
    require(missing.isEmpty,
      s"target strata with no rows: ${missing.toSeq.sorted.mkString(", ")}")
    val budget = counts.map { case (k, c) => c.toDouble / tmap(k) }.min
    val cuts = counts.map { case (k, c) =>
      (k, math.floor(math.min(1.0, tmap(k) * budget / c.toDouble) * 4096.0).toLong)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val cutDf = broadcast(cuts.toSeq.toDF(strataCol, "_cut"))
    df.join(cutDf, strataCol)
      .filter(bucketOf(col(idCol), seed) < col("_cut"))
      .select(col(idCol), col(strataCol))
  }

  /** Token-budget mixture sampling: [[mixtureSample]] with the target
    * shares measured in TOKENS, not rows — the knob a pretraining mix
    * actually turns (a 50% English share by document count is not 50%
    * of the training tokens when English documents run longer). The
    * achievable corpus is the largest downsample-only mix: budget
    * B = min over strata of (stratum_tokens / share); each stratum's
    * keep rate is (share·B)/stratum_tokens, gated per document by the
    * same deterministic hash bucket as [[hashSample]], so the KEPT
    * token mass per stratum hits share·B in expectation. `tokensCol`
    * is the caller's per-document token count (whitespace, BPE-ish,
    * or a real tokenizer's — the operator is count-agnostic).
    *
    * Scale shape (the [[mixtureSample]] envelope): one
    * map-side-combined token SUM per stratum, a broadcast cut join,
    * and a row-local bucket filter inside the scan — data rows never
    * shuffle. Arithmetic is fixed-order IEEE ((p·B)/tk, min over
    * tk/p, floor·4096), replicated by the DuckDB oracle.
    */
  def tokenMixture(df: DataFrame, idCol: String, strataCol: String,
                   tokensCol: String, targets: Seq[(String, Double)],
                   seed: Long = 0L): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive proportions")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target proportions must sum to 1")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target stratum")
    val tmap = targets.toMap
    val counts = df
      .filter(col(strataCol).isin(targets.map(_._1): _*))
      .groupBy(col(strataCol))
      .agg(sum(col(tokensCol)).cast("long").as("tk"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val missing = tmap.keySet -- counts.map(_._1)
    require(missing.isEmpty,
      s"target strata with no rows: ${missing.toSeq.sorted.mkString(", ")}")
    require(counts.forall(_._2 > 0),
      s"target strata with zero tokens: ${counts.filter(_._2 <= 0).map(_._1).sorted.mkString(", ")}")
    val budget = counts.map { case (k, tk) => tk.toDouble / tmap(k) }.min
    val cuts = counts.map { case (k, tk) =>
      (k, math.floor(
        math.min(1.0, tmap(k) * budget / tk.toDouble) * 4096.0).toLong)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val cutDf = broadcast(cuts.toSeq.toDF(strataCol, "_cut"))
    df.join(cutDf, strataCol)
      .filter(bucketOf(col(idCol), seed) < col("_cut"))
      .select(col(idCol), col(strataCol), col(tokensCol))
  }

  /** Fractional-epoch UP-sampling mixture — the complement of the
    * downsample-only mixes above: a pretraining recipe that reads a
    * stratum MORE than once ("2.3 epochs of wiki, 0.5 of web") needs
    * controlled repetition, not a keep gate. Each row in stratum s
    * with epochs e emits floor(e) full copies plus one extra when its
    * deterministic hash bucket clears frac(e)·4096 — so the expected
    * multiplicity is exactly e and the realized multiset is
    * re-derivable from (id, seed) on any cluster layout (unlike a
    * `rand()` gate, which breaks on retries). Output (id, stratum,
    * epoch) with epoch = 0..reps-1: the copy index is what a
    * downstream shuffle/pack keys on to spread replicas. Strata not
    * named drop (weight 0); e = 0 is a legal explicit drop.
    *
    * Scale shape: the epochs map is config-sized, compiled into a
    * row-local when-chain — no join, no shuffle, no aggregate; the
    * explode multiplies rows by at most ceil(max e). Streams safely
    * (row-local ⇒ batch-decomposable). Fractional-gate arithmetic is
    * fixed-order IEEE (e - floor(e), then ·4096, then floor),
    * replicated by the DuckDB oracle.
    */
  def epochsUpsample(df: DataFrame, idCol: String, strataCol: String,
                     epochs: Seq[(String, Double)],
                     seed: Long = 0L): DataFrame = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    require(epochs.forall { case (_, e) => e >= 0 && e <= 64 },
      "epochs must be in [0, 64] (bound the row multiplication)")
    require(epochs.map(_._1).distinct.size == epochs.size,
      "duplicate epochs stratum")
    val whole = epochs.foldLeft(lit(null).cast("long")) {
      case (acc, (k, e)) =>
        when(col(strataCol) === lit(k), lit(math.floor(e).toLong))
          .otherwise(acc)
    }
    val cut = epochs.foldLeft(lit(null).cast("long")) {
      case (acc, (k, e)) =>
        when(col(strataCol) === lit(k),
          lit(math.floor((e - math.floor(e)) * 4096.0).toLong))
          .otherwise(acc)
    }
    df.withColumn("_whole", whole)
      .withColumn("_reps", col("_whole") +
        when(bucketOf(col(idCol), seed) < cut, lit(1L)).otherwise(lit(0L)))
      .filter(col("_reps") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("_reps") - 1)))
      .select(col(idCol), col(strataCol), col("epoch"))
  }

  /** Greedy sequence packing: documents are dealt into `streams` by
    * interleave rank (round-robin — each stream is a deterministic
    * pseudo-random subsequence), then each stream packs greedily in
    * rank order — a pack closes when the next document would push it
    * past `budget` tokens. Output: (id, pack_id, pack_pos) where
    * `pack_id = stream * 2^32 + ordinal`.
    *
    * Determinism and scale: the stream assignment is pure arithmetic
    * on the rank (no sampled partition bounds, no partition-id
    * dependence), so the packing is identical on any cluster layout —
    * re-derivable, like every operator here. Each stream packs
    * independently inside `mapPartitions` after a hash exchange on
    * the stream key and a per-partition sort; a 100 TB corpus runs
    * thousands of streams in parallel, and the greedy scan is one
    * pass over each stream's iterator. Documents exceeding `budget`
    * alone get a pack of their own (they'd be truncated downstream).
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, streams: Int = 8, seed: Long = 0L): DataFrame = {
    require(streams > 0 && budget > 0)
    val ranked = interleave(df, idCol, seed)
      .join(df.select(col(idCol), col(tokenCol).cast("long").as("_tokens")), idCol)
      .select(col(idCol), col("shuffle_rank"), col("_tokens"))
    val keyed = ranked
      .withColumn("_stream", (col("shuffle_rank") % streams).cast("int"))
    val session = df.sparkSession
    import session.implicits._
    val packed = keyed
      .select(col("_stream"), col("shuffle_rank"), col(idCol).cast("long"), col("_tokens"))
      .as[(Int, Long, Long, Long)]
      .repartition(math.min(streams, 200), col("_stream"))
      .sortWithinPartitions(col("_stream"), col("shuffle_rank"))
      .mapPartitions { it =>
        var stream = -1
        var pack = -1L
        var pos = -1
        var acc = -1L // < 0 marks the start of a stream
        it.map { case (s, _, id, tokens) =>
          if (s != stream) { stream = s; pack = -1L; acc = -1L }
          if (acc < 0 || acc + tokens > budget) { // close pack, open next
            pack += 1; pos = 0; acc = tokens
          } else { pos += 1; acc += tokens }
          (id, s.toLong * 4294967296L + pack, pos)
        }
      }
    packed.toDF(idCol, "pack_id", "pack_pos")
      .select(col(idCol), col("pack_id"), col("pack_pos").cast("int").as("pack_pos"))
  }

  /** Poisson(1) inverse-CDF thresholds on the top-52-bit hash lane:
    * k = |{t_j ≤ u52}| caps at 8 (P(X > 8) ≈ 1e-6 — the truncation is
    * part of the documented estimator). Computed once in Scala and
    * printed into the oracle, so both engines compare against
    * IDENTICAL integer constants.
    */
  private[graft] val poissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val probs = Iterator.iterate(e1 :: Nil) { acc =>
      (acc.head / (acc.length).toDouble) :: acc }
      .drop(7).next().reverse // p_k = e^-1 / k!, k = 0..7
    probs.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * math.pow(2.0, 52)).toLong)
  }

  /** Poisson bootstrap (Chamandy et al. 2012, "Estimating Uncertainty
    * for Massive Data Streams"; the one-pass limit of resampling-with-
    * replacement): each row enters replicate r with weight
    * k ~ Poisson(1), drawn deterministically from
    * splitmix64(id + seed + r), so the R resampled estimates of
    * (count, total) arrive in a SINGLE scan with map-side combine —
    * no per-replicate shuffle, no materialized resamples. The spread
    * across replicates is the bootstrap uncertainty of the total.
    *
    * Exactness: weights are integers from fixed thresholds and the
    * value total is summed in decimal(18,2), so every replicate
    * estimate is bit-stable under any partitioning (gate-hashable).
    */
  def poissonBootstrap(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      replicates: Int = 3,
      seed: Long = 7L): DataFrame = {
    require(replicates >= 1 && replicates <= 64, s"replicates=$replicates")
    val reps = explode(array((0 until replicates).map(lit): _*)).as("replicate")
    // replicate lanes stride by the 32-bit golden constant — plain
    // `id + r` would make lane r a 1-shifted copy of lane r-1 (almost
    // perfectly correlated resamples); ids stay far below the stride
    val u52 = shiftrightunsigned(
      splitmix64_hash(col(idCol) +
        col("replicate").cast("long") * lit(2654435769L) + lit(seed)),
      12)
    val k = poissonThresholds.zipWithIndex
      .foldRight(lit(poissonThresholds.length.toLong)) {
        case ((t, i), rest) => when(u52 < lit(t), lit(i.toLong)).otherwise(rest)
      }
    df.select(col(idCol), col(valueCol), reps)
      .withColumn("_k", k)
      .groupBy(col("replicate"))
      .agg(count(lit(1)).as("n_orig"),
        sum(col("_k")).as("n_resampled"),
        sum(col(valueCol).cast("decimal(18,2)") * col("_k")).as("_sv"))
      .select(col("replicate"), col("n_orig"), col("n_resampled"),
        col("_sv").cast("double").as("sum_value"))
  }

  /** Deterministic fixed-SIZE sample: exactly min(k, |group|) rows
    * per group, chosen by the seeded splitmix64 hash order of the id
    * — the "give me 10k examples per language" primitive the
    * fraction-based [[hashSample]] can't express (a fraction can't
    * guarantee a count). Reproducible across runs and engines; a new
    * seed draws an independent sample.
    *
    * Scale shape: one per-group rank window over the hash order;
    * Spark plans the rank ≤ k filter as a partial WindowGroupLimit
    * below the exchange (the [[Sketch.kmvState]] shape), so the
    * shuffle carries at most k rows per group per partition — never
    * the full group.
    */
  def fixedSizeSample(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      k: Int,
      seed: Long = 0L): DataFrame = {
    require(k >= 1, s"k=$k")
    import graft.analytics.HashFunctions.splitmix64_hash
    val g = groupCols.map(col)
    val h = splitmix64_hash(col(idCol) + lit(seed))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("_h"), col(idCol))
    df.withColumn("_h", h)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .drop("_h")
  }

  /** Curriculum phase assignment: documents are ordered by an integer
    * difficulty score (ties broken by id — a total order) and dealt
    * into `phases` NTILE buckets, so phase 1 holds the easiest
    * ~n/phases documents and the last phase the hardest — the
    * shortest-first schedule curriculum training reads.
    *
    * Exact NTILE without the global window: a naive
    * `ntile(k) over (order by score, id)` collapses the corpus into
    * ONE task (Spark warns and dies at scale). Instead the per-score
    * histogram (distinct scores ≈ thousands — token counts, not
    * documents) collects to the driver, prefix sums give each score
    * its global start index, and every row derives its own index as
    * `start(score) + rank-within-score` from a per-score window
    * (parallel across scores). The phase is then pure arithmetic via
    * the standard NTILE split (first n mod k buckets one larger) —
    * bit-identical to the single-task window, at any partitioning.
    */
  def curriculum(df: DataFrame, idCol: String, scoreCol: String,
                 phases: Int, maxTaskRows: Long = 4000000L): DataFrame =
    withCurriculumPhase(
      df.withColumn("_s", col(scoreCol).cast("long")),
      idCol, phases, maxTaskRows)
      .select(col(idCol), col(scoreCol), col("phase"))

  /** Append the exact-NTILE `phase` column over the (`_s`, orderCol)
    * total order to a frame carrying a long `_s` score column —
    * shared by [[curriculum]] and the `sample.curriculum` processor.
    *
    * Hot-score refinement (the 100 TB guard): a score value carrying
    * more rows than `maxTaskRows` would funnel all its ties into ONE
    * rank-window task. Such scores are split into up to 64 id-RANGE
    * sub-buckets — boundaries from a bounded deterministic-seed
    * sample of that score's keys (boundary choice affects only
    * balance, never the result), assignment by plain comparisons in
    * the key's own ordering — and the prefix sums extend to exact
    * (score, bucket) counts. Every row still derives the same global
    * index, so the phases are bit-identical to the single-window
    * form at any partitioning; only the parallelism changes.
    */
  private[graft] def withCurriculumPhase(df0in: DataFrame, orderCol: String,
                                         phases: Int,
                                         maxTaskRows: Long = 4000000L): DataFrame = {
    require(phases >= 2, s"phases=$phases")
    require(maxTaskRows >= 1, s"maxTaskRows=$maxTaskRows")
    val spark = df0in.sparkSession
    import spark.implicits._
    // null scores never join the start table, so they must not be
    // counted either — Row.getLong(null) reads 0 and would inflate
    // score-0's prefix counts, shifting every later phase boundary
    val df0 = df0in.filter(col("_s").isNotNull)
    val hist = df0.groupBy(col("_s")).agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    require(n > 0, "curriculum: empty input")
    val hot = hist.filter(_._2 > maxTaskRows)
    val (df, counts): (DataFrame, Seq[((Long, Int), Long)]) =
      if (hot.isEmpty) {
        (df0.withColumn("_bkt", lit(0)),
          hist.toSeq.map { case (s, c) => ((s, 0), c) })
      } else {
        // boundaries per hot score from a seeded sample of its keys
        val boundaries: Map[Long, Seq[Any]] = hot.map { case (s, c) =>
          val buckets = math.min(64L, (c + maxTaskRows - 1) / maxTaskRows).toInt
          val frac = math.min(1.0, 100000.0 / c.toDouble)
          val sample = df0.filter(col("_s") === s).select(col(orderCol))
            .sample(withReplacement = false, frac, seed = 7L)
            .limit(200000).collect().map(_.get(0))
          // native-type sort for balanced boundaries; a mis-ordered
          // pick cannot break correctness — "count of boundaries
          // strictly below the key" is monotone in the key for ANY
          // boundary set, so buckets are always order-contiguous
          val sorted: Array[Any] = sample.headOption match {
            case Some(_: Long) | Some(_: Int) =>
              sample.map(v => v.asInstanceOf[Number].longValue)
                .sorted.map(v => v: Any)
            case Some(_: String) =>
              sample.map(_.asInstanceOf[String]).sorted.map(v => v: Any)
            case _ => sample.sortBy(_.toString)
          }
          val bs =
            if (sorted.isEmpty) Seq.empty[Any]
            else (1 until buckets).map(i =>
              sorted(((i.toLong * sorted.length) / buckets).toInt
                .min(sorted.length - 1)))
          s -> bs.distinct
        }.toMap
        // bucket = #boundaries strictly below the key, in the KEY's own
        // Spark ordering (the same ordering the rank window uses)
        val bktExpr = boundaries.foldLeft(lit(0)) { case (acc, (s, bs)) =>
          when(col("_s") === s,
            bs.map(b => (col(orderCol) > lit(b)).cast("int"))
              .foldLeft(lit(0))(_ + _)).otherwise(acc)
        }
        val withBkt = df0.withColumn("_bkt", bktExpr)
        val exact = withBkt.groupBy(col("_s"), col("_bkt"))
          .agg(count(lit(1)).as("_c"))
          .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2)))
          .sortBy(_._1)
        (withBkt, exact.toSeq)
      }
    val starts = counts.map(_._2).scanLeft(0L)(_ + _).init
    val startDf = broadcast(counts.map(_._1).zip(starts)
      .map { case ((s, b), st) => (s, b, st) }
      .toSeq.toDF("_s", "_bkt", "_start"))
    val q = n / phases
    val r = n % phases
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_s"), col("_bkt")).orderBy(col(orderCol))
    // 0-based global index of the row in the (score, id) total order
    val idx = col("_start") + row_number().over(w) - 1
    // floor division through doubles: exact for any corpus whose row
    // count fits in 2^53 (Spark's long `/` is true division)
    def fdiv(a: Column, b: Long): Column =
      floor(a.cast("double") / lit(b.toDouble)).cast("long")
    val phase = if (r > 0)
      when(idx < lit(r * (q + 1)), fdiv(idx, q + 1) + 1)
        .otherwise(lit(r) + fdiv(idx - lit(r * (q + 1)), math.max(q, 1L)) + 1)
    else fdiv(idx, q) + 1
    df.join(startDf, Seq("_s", "_bkt"))
      .withColumn("phase", phase.cast("long"))
      .drop("_bkt", "_start")
  }

  /** Mixture divergence monitor: how far the corpus's realized
    * per-stratum TOKEN shares sit from a target mixture — one row per
    * target stratum with (tokens, share, target, kl_term), where
    * `kl_term = share·ln(share/target)` sums to KL(realized‖target).
    * The number a mixture designer checks after [[tokenMixture]] runs
    * (or before, to see how lopsided the raw corpus is). Strata
    * outside the target set are excluded from the realized shares —
    * same convention as [[tokenMixture]]'s budget math.
    *
    * Scale shape: one map-side-combined aggregation to ≤ |targets|
    * rows; shares and KL terms are arithmetic on the aggregate —
    * constant-size state, rounded to 6 dp for partition-order-stable
    * verdicts.
    */
  def mixtureKl(df: DataFrame, strataCol: String, tokensCol: String,
                targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive proportions")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target proportions must sum to 1")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target stratum")
    val spark = df.sparkSession
    import spark.implicits._
    val tDf = broadcast(targets.toDF(strataCol, "target"))
    val counts = df.join(tDf, strataCol)
      .groupBy(col(strataCol), col("target"))
      .agg(sum(col(tokensCol)).cast("long").as("tokens"))
    mixtureKlFromCounts(counts, strataCol)
  }

  /** The share/KL tail of [[mixtureKl]] over a pre-aggregated
    * (stratum, target, tokens) frame — shared by the batch operator
    * and the streaming monitor sink, whose committed state IS such a
    * frame (so the stream's verdict after any prefix equals the batch
    * verdict over that prefix).
    */
  def mixtureKlFromCounts(counts: DataFrame, strataCol: String): DataFrame = {
    val total = sum(col("tokens")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    counts
      .withColumn("share", col("tokens").cast("double") / total)
      .select(col(strataCol), col("tokens"),
        round(col("share"), 6).as("share"),
        col("target"),
        round(col("share") * log(col("share") / col("target")), 6)
          .as("kl_term"))
  }

  /** UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining" — public paper, alg. 1): split a total
    * token `budget` across strata as UNIFORMLY as possible subject to
    * no stratum repeating more than `maxEpochs` times. Walk strata by
    * ascending token count; each takes min(its cap `n·maxEpochs`, an
    * equal share of what remains). Because counts ascend, the capped
    * strata form a prefix and every uncapped stratum receives the
    * SAME final share — which is the closed form used here: stratum i
    * is capped iff `prefix_cap(i−1) + cap_i·(L−i+1) < budget` (its
    * cap fits even if everyone after also took it), and the uncapped
    * share is `(budget − Σ capped caps) / (L − K)`. One row per
    * stratum: (stratum, n_tokens, capped, quota, epochs = quota/n).
    *
    * Determinism: caps are exact-integer-valued doubles whenever
    * `maxEpochs` is integral (the paper sweeps small integers), so
    * every prefix/total sum is exact regardless of association and
    * the one share division + one epochs division per row replay
    * bit-identically on any engine.
    *
    * Scale shape: one map-side-combined aggregation to |strata| rows,
    * then windows over THOSE rows only — strata are languages or
    * domains (tens), never documents, the mixtureKl contract. The
    * quota is what a downstream [[tokenMixture]]/[[epochsUpsample]]
    * run consumes; this operator only plans.
    */
  def unimaxAllocation(df: DataFrame, stratumCol: String,
                       tokensCol: String, budget: Long,
                       maxEpochs: Double): DataFrame = {
    val cnt = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(sum(col(tokensCol).cast("long")).as("n_tokens"))
    unimaxFromCounts(cnt, budget, maxEpochs)
  }

  /** The waterfilling tail of [[unimaxAllocation]] over a
    * pre-aggregated (stratum, n_tokens) frame — shared by the batch
    * operator and the streaming per-stratum token-sum sink, whose
    * committed state IS such a frame (sum-merge is order-insensitive,
    * so the plan over the final state equals the batch plan).
    */
  def unimaxFromCounts(cnt: DataFrame, budget: Long,
                       maxEpochs: Double): DataFrame = {
    require(budget > 0, s"unimaxAllocation: budget=$budget")
    require(maxEpochs > 0, s"unimaxAllocation: maxEpochs=$maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("n_tokens").asc, col("stratum").asc)
    val all = ord.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budget.toDouble)
    val staged = cnt
      .withColumn("_cap", col("n_tokens").cast("double") * lit(maxEpochs))
      .withColumn("_i", row_number().over(ord))
      .withColumn("_l", count(lit(1)).over(all))
      .withColumn("_prevcap",
        coalesce(sum(col("_cap")).over(prev), lit(0.0)))
    val flagged = staged.withColumn("capped",
      col("_prevcap") +
        col("_cap") * (col("_l") - col("_i") + 1).cast("double") < b)
    val totals = flagged
      .withColumn("_k", sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      .withColumn("_cappedsum",
        coalesce(sum(when(col("capped"), col("_cap"))).over(all), lit(0.0)))
    val quota = when(col("capped"), col("_cap"))
      .otherwise(when(col("_l") > col("_k"),
        (b - col("_cappedsum")) / (col("_l") - col("_k")).cast("double"))
        .otherwise(lit(0.0)))
    totals
      .withColumn("quota", quota)
      .withColumn("epochs",
        col("quota") / col("n_tokens").cast("double"))
      .select(col("stratum"), col("n_tokens"), col("capped"),
        col("quota"), col("epochs"))
  }

  /** DoReMi mixture weights (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining" — public
    * paper, alg. 1's exponentiated-gradient loop): per-domain mixture
    * weights from a (domain, step, excess-loss) history. Each step
    * multiplies a domain's weight by `exp(eta·λ)` (λ = the domain's
    * non-negative excess loss that step) and renormalizes; the
    * published mixture is the AVERAGE of the per-step normalized
    * weights. Without the paper's c≈1e-3 uniform smoothing (a
    * documented simplification — smoothing makes the recursion
    * non-associative; at c=0 the loop has a closed form), step t's
    * weights are exactly `softmax(eta · cumsum λ)`, which is what this
    * computes: per-domain cumulative sums over steps, a per-step
    * max-stabilized softmax (no overflow however long the history),
    * and a per-domain average. One row per domain:
    * (domain, n_steps, mean_excess, weight), weights summing to 1.
    *
    * `df` carries per-RECORD losses; they aggregate to per-(domain,
    * step) means first. Missing (domain, step) cells contribute λ=0
    * (no update), so the grid is completed before the cumsum.
    *
    * Scale shape: one map-side-combined aggregation to |domains|×
    * |steps| rows and windows over those rows only — domains are
    * languages/sources (tens) and steps are training checkpoints
    * (thousands), never documents. Outputs are 6-dp rounded so
    * partial-aggregation order cannot flip the verdict.
    */
  def doremiWeights(df: DataFrame, domainCol: String, stepCol: String,
                    lossCol: String, eta: Double = 1.0): DataFrame = {
    val losses = df
      .filter(col(domainCol).isNotNull && col(stepCol).isNotNull)
      .groupBy(col(domainCol).cast("string").as("domain"),
        col(stepCol).cast("long").as("step"))
      .agg(avg(col(lossCol).cast("double")).as("loss"))
    doremiFromLosses(losses, eta)
  }

  /** The grid/softmax tail of [[doremiWeights]] over a pre-aggregated
    * (domain, step, loss) frame — shared by the batch operator and
    * the streaming keyed-mean sink, whose committed state yields such
    * a frame (sum/count merge is order-insensitive).
    */
  def doremiFromLosses(losses: DataFrame, eta: Double): DataFrame = {
    require(eta > 0, s"doremiWeights: eta=$eta")
    import org.apache.spark.sql.expressions.Window
    val domains = losses.select(col("domain")).distinct()
    val steps = losses.select(col("step")).distinct()
    // complete the grid: a domain with no records in a step takes no
    // update that step (λ = 0), it must still appear in the softmax
    val grid = broadcast(domains).crossJoin(broadcast(steps))
      .join(losses, Seq("domain", "step"), "left")
      .withColumn("lam",
        greatest(coalesce(col("loss"), lit(0.0)), lit(0.0)))
    val cum = Window.partitionBy(col("domain")).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perStep = Window.partitionBy(col("step"))
    val stabilized = grid
      .withColumn("_g", lit(eta) * sum(col("lam")).over(cum))
      .withColumn("_gs", col("_g") - max(col("_g")).over(perStep))
    val alpha = stabilized.withColumn("alpha",
      exp(col("_gs")) / sum(exp(col("_gs"))).over(perStep))
    alpha.groupBy(col("domain")).agg(
      count(lit(1)).as("n_steps"),
      round(avg(col("lam")), 6).as("mean_excess"),
      round(avg(col("alpha")), 6).as("weight"))
  }

  /** Exact per-stratum NTILE without a per-stratum single-task window
    * — the CCNet bucketing primitive (Wenzek et al. 2020 §4.4 splits
    * each language's corpus into head/middle/tail perplexity
    * terciles): every row gets its stratum's 1-based tile in the
    * (score, id) total order, with the SQL NTILE remainder rule (the
    * first n mod tiles tiles carry one extra row) — bit-identical to
    * `ntile(k) OVER (PARTITION BY stratum ORDER BY score, id)` on any
    * engine, which is what the oracle replays.
    *
    * The naive window puts an entire stratum into ONE task — a 30 TB
    * language slice at 100 TB. Here the stratum order decomposes
    * through fixed-width score bins (floor(score/binWidth), order-
    * preserving since floor is monotone and equal scores share a
    * bin): one map-side-combined (stratum, bin) count, per-stratum
    * prefix sums over the BIN rows (thousands, not documents), and a
    * per-(stratum, bin) rank window whose partitions the `maxBinRows`
    * guard bounds LOUDLY (a spike bin — a degenerate constant-score
    * corpus — fails with "lower binWidth", the jsDivergence guard
    * precedent, instead of OOMing an executor). The doc-side join
    * against the bin table is broadcast-sized. Null scores are
    * dropped (they have no place in a score order).
    */
  def stratifiedTiles(df: DataFrame, stratumCol: String, scoreCol: String,
                      idCol: String, tiles: Int = 3,
                      binWidth: Double = 0.01,
                      maxBinRows: Long = 4000000L): DataFrame = {
    require(tiles >= 2, s"stratifiedTiles: tiles=$tiles")
    require(binWidth > 0, s"stratifiedTiles: binWidth=$binWidth")
    require(maxBinRows >= 1, s"stratifiedTiles: maxBinRows=$maxBinRows")
    import org.apache.spark.sql.expressions.Window
    // fenced ([[Fences]], r18): base feeds the bin-count aggregate AND
    // the final probe join — unfenced, the caller's upstream (for the
    // ccnet gate row, the whole SBO train+score chain) executed twice.
    // The fenced row is slim (stratum, score, id, bin).
    val base = Fences.fence(df.filter(col(scoreCol).isNotNull)
      .withColumn("_bin",
        floor(col(scoreCol).cast("double") / lit(binWidth)).cast("long")))
    val counts = base
      .groupBy(col(stratumCol).as("_st"), col("_bin"))
      .agg(count(lit(1)).as("_c"))
    // fence: the bin table feeds the guard, the prefix window and the
    // probe join — unfenced, each reference re-aggregates the corpus
    val binTab = Fences.fence(counts)
    val mx = binTab.agg(max(col("_c"))).head().getLong(0)
    require(mx <= maxBinRows,
      s"stratifiedTiles: a (stratum, bin) holds $mx rows > " +
        s"maxBinRows=$maxBinRows; lower binWidth so the per-bin rank " +
        "window stays bounded, or raise maxBinRows deliberately")
    val wBins = Window.partitionBy(col("_st")).orderBy(col("_bin"))
    val starts = binTab
      .withColumn("_start", coalesce(sum(col("_c")).over(
        wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(
        Window.partitionBy(col("_st"))))
      .drop("_c")
    val joined = base.join(broadcast(starts),
      base(stratumCol) === col("_st") && base("_bin") === starts("_bin"))
      .drop(starts("_bin")).drop("_st")
    val w = Window.partitionBy(col(stratumCol), col("_bin"))
      .orderBy(col(scoreCol), col(idCol))
    // SQL NTILE over the 0-based per-stratum index: the first
    // n mod tiles tiles take q+1 rows (q = n div tiles), the rest
    // take q — all integer `div`/`%`, so any engine replays it
    joined
      .withColumn("_idx",
        col("_start") + row_number().over(w).cast("long") - 1L)
      .withColumn("tile", expr(
        s"CASE WHEN _idx < (_n % $tiles) * ((_n div $tiles) + 1) " +
          s"THEN (_idx div ((_n div $tiles) + 1)) + 1 " +
          s"ELSE (_n % $tiles) + ((_idx - (_n % $tiles) * " +
          s"((_n div $tiles) + 1)) div greatest(_n div $tiles, 1)) + 1 " +
          "END").cast("long"))
      .drop("_bin", "_start", "_n", "_idx")
  }
}
