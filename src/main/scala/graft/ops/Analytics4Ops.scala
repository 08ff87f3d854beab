package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{Cdc, Ref}

/** Round-15 registry promotions: the training-split and eval-gate
  * families the round-14 matrix left Scala-only (cross-validation
  * folds, sequence packing, contrastive negatives, OOV screens,
  * model-based quality gates, int8 embedding payloads) exposed on the
  * pipeline/YAML surface with pure `Map[String,String]` settings —
  * same conventions as [[Analytics3Ops]]: annotators keep the CDC
  * schema and write metadata keys, reshapes re-enter via [[Cdc.wrap]].
  */
object Analytics4Ops

/** `sample.kfold` — deterministic cross-validation fold assignment
  * written into metadata as `fold` ([[graft.analytics.Sampling.kFold]]
  * semantics: hash mod k, re-derivable on any executor, any run).
  * Payload ids of any type pre-hash through fnv1a (the [[KmvProc]]
  * idiom), so the fold of a STRING id is splitmix64(fnv1a(id) + seed)
  * mod k — stable, but not numerically identical to the library
  * operator's numeric-id fold. Row-local, zero shuffle; the per-fold
  * train/eval gate is a downstream `filter` condition on
  * `.Metadata.fold`.
  */
case class SampleKfoldProc(idField: Ref, k: Int, seed: Long)
    extends ColumnProcessor {
  require(k >= 2 && k <= 1000, s"sample.kfold: k=$k")
  val plugin = "sample.kfold"
  override def rewrites(df: DataFrame): Map[String, Column] = {
    import graft.analytics.HashFunctions.{fnv1a_hash, splitmix64_hash}
    val fold = pmod(splitmix64_hash(
      fnv1a_hash(Analytics2Ops.fieldCol(df, idField).cast("string")) + lit(seed)),
      lit(k.toLong))
    Map(Cdc.Metadata -> RefCols.metaSet(col(Cdc.Metadata), "fold",
      fold.cast("string")))
  }
}

/** `text.classifier` — model-based quality gate
  * ([[graft.analytics.Text.classifierScore]]'s kernel: a linear
  * classifier over hashed unigram+bigram features, weights derived
  * deterministically from the seed) written into metadata as
  * `classifier.margin` / `classifier.keep` / `classifier.n_features`.
  * The sigmoid a real classifier would apply is monotone in the
  * margin, so a `filter` condition on `.Metadata.classifier.keep` (or
  * a margin threshold) IS the probability gate. Row-local; the struct
  * result materializes once via `tempColumns` (multi-referenced
  * non-cheap expressions survive CollapseProject).
  */
case class TextClassifierProc(field: Ref, seed: Long)
    extends ColumnProcessor {
  val plugin = "text.classifier"
  override def tempColumns(df: DataFrame): Map[String, Column] = Map(
    "_cls" -> graft.analytics.HashFunctions.linear_text_score(
      graft.analytics.Text.wsTokens(
        lower(trim(Analytics2Ops.fieldCol(df, field)))), seed))
  override def rewrites(df: DataFrame): Map[String, Column] = {
    val meta = Seq(
      "classifier.n_features" -> col("_cls").getField("n_features").cast("string"),
      "classifier.margin" -> col("_cls").getField("margin").cast("string"),
      "classifier.keep" -> (col("_cls").getField("margin") > 0).cast("string"))
      .foldLeft(col(Cdc.Metadata)) {
        case (m, (k, c)) => RefCols.metaSet(m, k, c)
      }
    Map(Cdc.Metadata -> meta)
  }
}

/** `text.oov` — out-of-vocabulary screen against a TRAINED vocabulary
  * ([[graft.analytics.Text.oovRate]]: the train corpus aggregates to a
  * token-keyed vocab once, the batch side explodes and LEFT-joins it):
  * one create record per doc with (n_tokens, n_oov, oov_rate).
  * `trainTable` is a parquet path whose `trainField` column holds the
  * training texts — the [[DecontaminateProc]] convention for
  * reference data. The tokenizer-health gate of an eval pipeline:
  * high OOV against the train vocab means the eval batch is
  * distribution-shifted or mis-encoded.
  */
case class TextOovProc(idField: Ref, textField: Ref, trainTable: String,
                       trainField: String, minCount: Long)
    extends Processor {
  val plugin = "text.oov"
  override def transform(df: DataFrame): DataFrame = {
    // the train-vocab side aggregates at plan time — batch-only, so
    // fail with the real reason instead of Spark's opaque streaming
    // AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.oov is batch-only (the train vocabulary is aggregated at " +
        "plan time); run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).as("_text"))
    val train = df.sparkSession.read.parquet(trainTable)
      .select(col(trainField).cast("string").as("_text"))
    val out = graft.analytics.Text.oovRate(train, flat, "_id", "_text", minCount)
    Cdc.wrap(out, "doc_id", "text.oov")
  }
}

/** `sample.pack` — greedy sequence packing into fixed token budgets
  * ([[graft.analytics.Sampling.packSequences]]: deterministic
  * interleave rank → stream assignment by pure arithmetic →
  * per-stream one-pass greedy scan after one hash exchange): one
  * create record per doc with (pack_id, pack_pos). Payload ids and
  * token counts must be numeric (the packing key is arithmetic on
  * them); a 100 TB corpus packs thousands of streams in parallel.
  */
case class SamplePackProc(idField: Ref, tokensField: Ref, budget: Long,
                          streams: Int, seed: Long) extends Processor {
  require(budget > 0 && streams > 0, "sample.pack: budget and streams must be positive")
  val plugin = "sample.pack"
  override def transform(df: DataFrame): DataFrame = {
    // the greedy per-stream scan sorts and windows the whole batch —
    // batch-only, so fail with the real reason instead of Spark's
    // opaque streaming AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.pack is batch-only (global interleave rank + per-stream " +
        "scan); run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).cast("long").as("_id"),
      Analytics2Ops.fieldCol(df, tokensField).cast("long").as("_tokens"))
    val out = graft.analytics.Sampling.packSequences(
      flat, "_id", "_tokens", budget, streams, seed)
    Cdc.wrap(out, "_id", "sample.pack")
  }
}

/** `sample.negatives` — deterministic negative sampling for
  * contrastive pairs ([[graft.analytics.Sampling.negativeSample]]:
  * bucket representatives broadcast, the corpus never shuffles — one
  * row-local explode(×k) + a broadcast join): one create record per
  * (doc, draw) with (id, draw, neg_id), keyed `id|draw`. Payload ids
  * must be numeric (the draw re-hash is arithmetic on them). Draws
  * landing on the row itself drop — callers wanting exactly-k raise
  * `k` or `bucketBits` (the library operator's documented contract).
  */
case class SampleNegativesProc(idField: Ref, k: Int, bucketBits: Int,
                               seed: Long) extends Processor {
  val plugin = "sample.negatives"
  override def transform(df: DataFrame): DataFrame = {
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).cast("long").as("_id"))
    val out = graft.analytics.Sampling.negativeSample(
      flat, "_id", k, bucketBits, seed)
    val keyed = out.withColumn("_kk",
      concat_ws("|", col("_id"), col("draw")))
    Cdc.wrap(keyed, "_kk", "sample.negatives")
  }
}

/** `sample.split` — leakage-free train/val/test assignment written
  * into metadata as `split` ([[graft.analytics.Sampling.splitColumn]]:
  * every row of a GROUP lands in the same split, decided by a
  * deterministic hash of the group key against cumulative 1/4096
  * cuts). Group keys of any type pre-hash through fnv1a (the
  * [[SampleKfoldProc]] idiom). Row-local, zero shuffle; the split
  * gate is a downstream `filter` condition on `.Metadata.split` —
  * THE split a training pipeline must use when rows of one group are
  * correlated (i.i.d. row splits leak group signal into eval).
  */
case class SampleSplitProc(groupField: Ref,
                           fractions: Seq[(String, Double)], seed: Long)
    extends ColumnProcessor {
  require(fractions.map(_._1).distinct.size == fractions.size,
    "sample.split: duplicate split name")
  val plugin = "sample.split"
  override def rewrites(df: DataFrame): Map[String, Column] = {
    import graft.analytics.HashFunctions.fnv1a_hash
    val split = graft.analytics.Sampling.splitColumn(
      fnv1a_hash(Analytics2Ops.fieldCol(df, groupField).cast("string")),
      fractions, seed)
    Map(Cdc.Metadata -> RefCols.metaSet(col(Cdc.Metadata), "split", split))
  }
}

/** `sample.interleave` — deterministic corpus shuffle
  * ([[graft.analytics.Sampling.interleave]]: global rank by
  * (splitmix64(id+seed), id) via range partition + zipWithIndex — the
  * training-order shuffle that is identical on any cluster layout):
  * one create record per doc with (id, shuffle_rank). Payload ids
  * must be numeric (the rank hash is arithmetic on them).
  */
case class SampleInterleaveProc(idField: Ref, seed: Long) extends Processor {
  val plugin = "sample.interleave"
  override def transform(df: DataFrame): DataFrame = {
    // the global shuffle rank windows the whole batch — batch-only,
    // so fail with the real reason instead of Spark's opaque
    // streaming AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.interleave is batch-only (global shuffle-rank window); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).cast("long").as("_id"))
    val out = graft.analytics.Sampling.interleave(flat, "_id", seed)
    Cdc.wrap(out, "_id", "sample.interleave")
  }
}

/** `text.dsir` — DSIR importance weights against a TARGET domain
  * corpus ([[graft.analytics.Text.dsirWeights]], Xie et al. 2023:
  * log ratio of hashed bag-of-unigrams models fit on target vs the
  * batch, one tokenize pass, `buckets`-row broadcast histograms): one
  * create record per doc with (n_tokens, log_weight). `targetTable`
  * is a parquet path whose `targetField` column holds the domain
  * texts — the [[DecontaminateProc]] convention. Keep the top
  * fraction by weight downstream (or feed
  * [[graft.analytics.Text.dsirSelect]]) to shift the corpus toward
  * the target domain.
  */
case class TextDsirProc(idField: Ref, textField: Ref, targetTable: String,
                        targetField: String, buckets: Int)
    extends Processor {
  val plugin = "text.dsir"
  override def transform(df: DataFrame): DataFrame = {
    // the batch-side unigram model is aggregated at plan time —
    // batch-only, so fail with the real reason instead of Spark's
    // opaque streaming AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.dsir is batch-only (hashed unigram histograms are " +
        "aggregated at plan time); run the pipeline with --batch or " +
        "apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).as("_text"))
    val target = df.sparkSession.read.parquet(targetTable)
      .select(lit(0L).as("_id"), col(targetField).cast("string").as("_text"))
    val out = graft.analytics.Text.dsirWeights(flat, target, "_id", "_text",
      buckets)
    Cdc.wrap(out, "doc_id", "text.dsir")
  }
}

/** `sim.cluster` — spherical k-means topic assignment with
  * deterministic seeding ([[graft.analytics.Similarity.clusterAssign]]:
  * k lowest-id vectors seed the centroids, assignment is the
  * row-local nearest-centroid expression — one corpus scan, zero
  * shuffles): one create record per vector with
  * (vec_id, cluster, cos_sim) — the topic-bucketing step of an
  * embedding curation pipeline, and the partitioner SemDeDup builds
  * on.
  */
case class SimClusterProc(idField: Ref, vecField: Ref, k: Int)
    extends Processor {
  require(k >= 1, s"sim.cluster: k=$k")
  val plugin = "sim.cluster"
  override def transform(df: DataFrame): DataFrame = {
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics3Ops.vecCol(df, vecField).as("_vec"))
      .filter(col("_vec").isNotNull)
    val out = graft.analytics.Similarity.clusterAssign(flat, "_id", "_vec", k)
    Cdc.wrap(out, "vec_id", "sim.cluster")
  }
}

/** `sim.quantize` — symmetric int8 embedding quantization
  * ([[graft.analytics.Similarity.quantizeInt8]]: per-vector scale =
  * max |x|, row-local one-pass [[graft.analytics.HashFunctions.quantize_int8]]
  * expression, zero shuffle): one create record per vector with
  * (vec_id, scale, qvec) — the 4× payload reduction that makes a
  * 100 TB embedding store ANN-servable downstream
  * ([[graft.analytics.Similarity.quantizedTopK]] is the search side).
  */
case class SimQuantizeProc(idField: Ref, vecField: Ref) extends Processor {
  val plugin = "sim.quantize"
  override def transform(df: DataFrame): DataFrame = {
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics3Ops.vecCol(df, vecField).as("_vec"))
      .filter(col("_vec").isNotNull)
    val out = graft.analytics.Similarity.quantizeInt8(flat, "_id", "_vec")
    Cdc.wrap(out, "vec_id", "sim.quantize")
  }
}

/** `dedup.url` — RFC 3986 syntax-based URL canonicalization
  * ([[graft.analytics.Urls.canonicalize]]: fragment/userinfo/default
  * port dropped, host lowercased, tracking params stripped, query
  * sorted) written into metadata as `url.canonical`. Row-local
  * built-in string expressions — streamable and zero-shuffle; feed
  * the key into `dedup.exact` / `dedup.incremental` downstream for
  * the crawl-store first-pass dedup.
  */
case class DedupUrlProc(field: Ref) extends ColumnProcessor {
  val plugin = "dedup.url"
  override def rewrites(df: DataFrame): Map[String, Column] = {
    val canon = graft.analytics.Urls.canonicalize(
      Analytics2Ops.fieldCol(df, field).cast("string"))
    // null/absent url field: keep metadata untouched — a null-valued
    // url.canonical key would weld all such records into one dedup
    // group downstream
    Map(Cdc.Metadata -> when(canon.isNotNull,
      RefCols.metaSet(col(Cdc.Metadata), "url.canonical", canon))
      .otherwise(col(Cdc.Metadata)))
  }
}

/** `dedup.softweight` — duplicate-aware 1/cluster_size training
  * weights ([[graft.analytics.Dedup.softWeights]]: SimHash near-dup
  * components, then one size aggregate + label join — no document
  * dropped, each cluster's total mixture influence equals one
  * document): one create record per doc with (cluster_id,
  * cluster_size, weight), keyed by the doc id. The "soft dedup"
  * alternative to `dedup.clusters`' keep/drop verdicts.
  */
case class DedupSoftweightProc(idField: Ref, textField: Ref,
                               maxHamming: Int) extends Processor {
  require(maxHamming >= 0 && maxHamming <= 16,
    s"dedup.softweight: maxHamming=$maxHamming")
  val plugin = "dedup.softweight"
  override def transform(df: DataFrame): DataFrame = {
    // the components loop checkpoints per round — batch-only, so fail
    // with the real reason instead of Spark's opaque streaming
    // AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "dedup.softweight is batch-only (iterative connected components " +
        "with per-round checkpoints); run the pipeline with --batch or " +
        "apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Dedup.softWeights(flat, "_id", "_text",
      maxHamming)
    Cdc.wrap(out, "doc_id", "dedup.softweight")
  }
}

/** `text.bpe` — per-record BPE segmentation with a TRAINED merge list
  * ([[graft.analytics.Text.bpeSegment]]): `mergesTable` is a parquet
  * path with [[graft.analytics.Text.bpeTrain]]'s (round, sym_a,
  * sym_b) schema — train once on a sample, apply everywhere. The
  * merge list is config-sized (≤64 rows, collected once at plan
  * time); the apply pass is row-local per merge, so the tokenizer
  * stage of a 100 TB pretraining pipeline costs the scan. One create
  * record per doc with (doc_id, n_tokens, tokens) — tokens joined on
  * U+001F (merged symbols keep their space-joined spelling).
  */
case class TextBpeProc(idField: Ref, textField: Ref, mergesTable: String)
    extends Processor {
  val plugin = "text.bpe"
  override def transform(df: DataFrame): DataFrame = {
    // the segment pass persists per merge round and parquet-spills its
    // result (lineage hygiene for the 64-step rewrite chain) — both
    // batch-only actions, so fail with the real reason instead of
    // Spark's opaque streaming-source AnalysisException
    require(!df.isStreaming,
      "text.bpe is batch-only (per-round persist fences + parquet " +
        "spill); run the pipeline with --batch or apply it foreachBatch")
    // mergesTable is either a plain (round, sym_a, sym_b) table or a
    // CDC-shaped parquet written by a `text.bpe_train` pipeline's
    // parquet destination (payload_after JSON or typed struct) — so
    // train→apply composes in pure config, no flattening step between
    val raw = df.sparkSession.read.parquet(mergesTable)
    val flatMerges =
      if (raw.columns.contains("sym_a")) raw
      else raw.schema(Cdc.PayloadAfter).dataType match {
        case _: org.apache.spark.sql.types.StructType => raw.select(
          col(s"${Cdc.PayloadAfter}.round").cast("int").as("round"),
          col(s"${Cdc.PayloadAfter}.sym_a").cast("string").as("sym_a"),
          col(s"${Cdc.PayloadAfter}.sym_b").cast("string").as("sym_b"))
        case _ => raw.select(
          get_json_object(col(Cdc.PayloadAfter), "$.round").cast("int").as("round"),
          get_json_object(col(Cdc.PayloadAfter), "$.sym_a").as("sym_a"),
          get_json_object(col(Cdc.PayloadAfter), "$.sym_b").as("sym_b"))
      }
    val merges = flatMerges
      .orderBy(col("round")).collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.bpeSegment(flat, "_id", "_text", merges)
    Cdc.wrap(out, "doc_id", "text.bpe")
  }
}

/** `enrich.asof` — temporal lookup-table enrichment
  * ([[graft.analytics.Temporal.asOfJoinBroadcast]]): each record joins
  * the MOST RECENT reference row at or before its own time (inclusive
  * as-of, feature-store semantics), values written into metadata as
  * `asof.<col>` plus `asof.matched` = true/false (so a matched
  * version whose value is genuinely NULL is distinguishable from a
  * record that predates every version — null-valued columns simply
  * omit their key). `table` is a parquet path; keys compare as strings,
  * times as long epochs; duplicate (key, time) versions collapse to
  * the max-struct winner. The reference side broadcasts and each
  * record binary-searches a per-key sorted version array — the record
  * stream is never shuffled or sorted, which is the right physical
  * shape for 100 TB streams × feature-store-sized dims, and the
  * stream-static formulation Structured Streaming requires. The
  * dimension is a snapshot: it is read once, the first time a
  * processor instance transforms a frame, and versions added to
  * `table` later are not seen until the processor is re-created.
  */
case class EnrichAsofProc(keyField: Ref, timeField: Ref, table: String,
                          tableKey: String, tableTime: String,
                          valueCols: Seq[String]) extends Processor {
  require(valueCols.nonEmpty, "enrich.asof: values must be non-empty")
  val plugin = "enrich.asof"
  // The dimension is STATIC for the processor's lifetime (snapshot
  // semantics — the enrichment contract), so the packed version-array
  // table is materialized ONCE by [[Fences.fence]] and every
  // micro-batch's stream-static join re-reads those blocks instead of
  // re-scanning the parquet dim and re-running the dedup + pack
  // aggregations (two shuffles) per batch.
  @transient private var packedCache: DataFrame = null
  private def packedDim(spark: org.apache.spark.sql.SparkSession): DataFrame =
    synchronized {
      if (packedCache == null) {
        val right = spark.read.parquet(table)
          .select(Seq(col(tableKey).cast("string").as("_rk"),
            col(tableTime).cast("long").as("_rt"), lit(1L).as("_asof_hit")) ++
            valueCols.map(col): _*)
        packedCache = graft.analytics.Fences.fence(
          graft.analytics.Temporal.packAsOfRight(right,
            "_rk", "_rt", valueCols :+ "_asof_hit", dedupRight = true))
      }
      packedCache
    }
  override def transform(df: DataFrame): DataFrame = {
    // a constant marker column rides the join so match/no-match is
    // decided by the JOIN, not by value nullness (a matched version
    // may legitimately carry NULL values)
    val withKt = df
      .withColumn("_ak", Analytics2Ops.fieldCol(df, keyField).cast("string"))
      .withColumn("_at", Analytics2Ops.fieldCol(df, timeField).cast("long"))
    val joined = graft.analytics.Temporal.joinPackedAsOf(withKt,
      packedDim(df.sparkSession), "_ak", "_at", valueCols :+ "_asof_hit")
    // null VALUES are legal in Spark maps, but "asof.price": null on
    // the wire is indistinguishable from absent for most consumers —
    // so null-valued columns omit their key and asof.matched carries
    // the join verdict explicitly
    val meta0 = RefCols.metaSet(col(Cdc.Metadata), "asof.matched",
      col("_asof_hit").isNotNull.cast("string"))
    val meta = valueCols.foldLeft(meta0) { (m, c) =>
      when(col(c).isNotNull,
        RefCols.metaSet(m, s"asof.$c", col(c).cast("string"))).otherwise(m)
    }
    joined.withColumn(Cdc.Metadata, meta)
      .drop("_ak" +: "_at" +: "_asof_hit" +: valueCols: _*)
  }
}

/** `sample.token_mixture` — the [[SampleMixtureProc]] gate with the
  * target shares measured in TOKENS
  * ([[graft.analytics.Sampling.tokenMixture]] semantics): per-stratum
  * token sums pick the largest downsample-only mix, and each record
  * keeps or drops by the deterministic hash bucket of its id. This is
  * the pretraining-mixture knob: 50% of the TOKENS, not 50% of the
  * documents. `tokens` is a numeric payload field (write one with
  * `text.tokens` upstream); records in unnamed strata drop.
  */
case class SampleTokenMixtureProc(strataField: Ref, idField: Ref,
                                  tokensField: Ref,
                                  targets: Seq[(String, Double)],
                                  seed: Long) extends Processor {
  require(targets.nonEmpty && targets.forall(_._2 > 0),
    "sample.token_mixture: targets must be non-empty with positive proportions")
  require(targets.map(_._1).distinct.size == targets.size,
    "sample.token_mixture: duplicate target stratum")
  require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
    "sample.token_mixture: target proportions must sum to 1")
  val plugin = "sample.token_mixture"
  override def transform(df: DataFrame): DataFrame = {
    // per-stratum token sums are collected at plan time — batch-only,
    // so fail with the real reason instead of Spark's opaque
    // streaming AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.token_mixture is batch-only (per-stratum token totals " +
        "are collected at plan time); run the pipeline with --batch " +
        "or apply it foreachBatch")
    import graft.analytics.HashFunctions.fnv1a_hash
    val tmap = targets.toMap
    val stratum = Analytics2Ops.fieldCol(df, strataField)
    val toks = Analytics2Ops.fieldCol(df, tokensField).cast("long")
    val counts = df.select(stratum.as("_stratum"), toks.as("_tk"))
      .filter(col("_stratum").isin(targets.map(_._1): _*))
      .groupBy(col("_stratum")).agg(sum(col("_tk")).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val missing = tmap.keySet -- counts.map(_._1)
    require(missing.isEmpty,
      s"sample.token_mixture: target strata with no rows: ${missing.toSeq.sorted.mkString(", ")}")
    require(counts.forall(_._2 > 0),
      s"sample.token_mixture: target strata with zero tokens: ${counts.filter(_._2 <= 0).map(_._1).sorted.mkString(", ")}")
    val budget = counts.map { case (k, c) => c.toDouble / tmap(k) }.min
    val cuts = counts.map { case (k, c) =>
      (k, math.floor(math.min(1.0, tmap(k) * budget / c.toDouble) * 4096.0).toLong)
    }.toMap
    val cutExpr = cuts.foldLeft(lit(null).cast("long")) { case (acc, (k, cut)) =>
      when(col("_stratum") === lit(k), lit(cut)).otherwise(acc)
    }
    val id = fnv1a_hash(Analytics2Ops.fieldCol(df, idField).cast("string"))
    df.withColumn("_stratum", stratum)
      .withColumn("_cut", cutExpr)
      .filter(col("_cut").isNotNull &&
        graft.analytics.Sampling.bucketOf(id, seed) < col("_cut"))
      .drop("_stratum", "_cut")
  }
}

/** `text.entropy` — per-document Shannon token entropy
  * ([[graft.analytics.Text.tokenEntropy]]: ordered IEEE fold over the
  * doc's own token counts — the `text_entropy` gate row's operator):
  * one create record per doc with (n_tokens, n_distinct, entropy).
  * Low entropy flags template/boilerplate spam, high entropy flags
  * gibberish — the fluency screen between the length gate and the
  * model-based classifier in a curation chain.
  */
case class TextEntropyProc(idField: Ref, textField: Ref)
    extends Processor {
  val plugin = "text.entropy"
  override def transform(df: DataFrame): DataFrame = {
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.tokenEntropy(flat, "_id", "_text")
    Cdc.wrap(out, "_id", "text.entropy")
  }
}

/** `text.bpe_train` — BPE merge-rule training
  * ([[graft.analytics.Text.bpeTrain]]): one create record per learned
  * merge with (round, sym_a, sym_b, pair_count), keyed by round. The
  * TRAIN half of the tokenizer pair: point a parquet destination at
  * this pipeline's output and feed that path to [[TextBpeProc]]'s
  * `mergesTable` — train once on a sample pipeline, apply everywhere.
  * Batch-only like the apply side (per-round persist fences).
  */
case class TextBpeTrainProc(idField: Ref, textField: Ref, rounds: Int)
    extends Processor {
  val plugin = "text.bpe_train"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "text.bpe_train is batch-only (per-round persist fences); run " +
        "the pipeline with --batch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.bpeTrain(flat, "_id", "_text", rounds)
    Cdc.wrap(out, "round", "text.bpe_train")
  }
}

/** `sketch.overlap` — cross-corpus overlap estimation against a
  * HISTORY corpus ([[graft.analytics.Sketch.kmvSetOps]] over two KMV
  * states): one create record with (n_common, union_est, inter_est,
  * jaccard_est) for batch-vs-history — the ingest monitor's "how much
  * of this batch is already in the corpus" number from two
  * constant-size k-min states, no exact join, no rescan of history
  * beyond one hashing pass. `historyTable` is a parquet path whose
  * `historyField` column holds the history values (the
  * [[DedupIncrementalProc]] convention); exact dedup verdicts are
  * `dedup.incremental`'s job — this is the cheap estimate that tells
  * you whether to bother.
  */
case class SketchOverlapProc(field: Ref, historyTable: String,
                             historyField: String, k: Int)
    extends Processor {
  require(k >= 16 && k <= 65536, s"sketch.overlap: k=$k")
  val plugin = "sketch.overlap"
  override def transform(df: DataFrame): DataFrame = {
    // the KMV state fence checkpoints at plan time — batch-only, so
    // fail with the real reason instead of Spark's opaque streaming
    // AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "sketch.overlap is batch-only (the KMV state is checkpointed at " +
        "plan time); run the pipeline with --batch or apply it foreachBatch")
    import graft.analytics.HashFunctions.fnv1a_hash
    // payload fields arrive as strings: pre-hash to a long (fnv1a,
    // injective w.h.p.) since the KMV chain hashes numerically — the
    // KmvProc idiom, applied IDENTICALLY on both corpora so shared
    // values share hashes
    val batch = df.select(lit("batch").as("_corpus"),
      fnv1a_hash(Analytics2Ops.fieldCol(df, field).cast("string")).as("_v"))
    val hist = df.sparkSession.read.parquet(historyTable)
      .select(lit("history").as("_corpus"),
        fnv1a_hash(col(historyField).cast("string")).as("_v"))
    val st = graft.analytics.Sketch.kmvState(
      batch.unionByName(hist), Seq("_corpus"), "_v", k)
    val out = graft.analytics.Sketch.kmvSetOps(st, "_corpus", k)
      .withColumn("_kk", concat_ws("|", col("type_a"), col("type_b")))
    Cdc.wrap(out, "_kk", "sketch.overlap")
  }
}

/** `text.zipf` — Zipf's-law fit of the corpus vocabulary
  * ([[graft.analytics.Text.zipfFit]]): one create record with
  * (n_types, slope, intercept) from an OLS of log10(freq) on
  * log10(rank) over the topN vocabulary head — the corpus-health
  * number a curation pipeline alerts on (natural text ≈ −1;
  * boilerplate flattens it). Partial top-k head selection, never a
  * global vocabulary sort.
  */
case class TextZipfProc(field: Ref, minCount: Long, topN: Int)
    extends Processor {
  val plugin = "text.zipf"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation + rank window — batch-only, so fail
    // with the real reason instead of Spark's opaque streaming
    // AnalysisException (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.zipf is batch-only (corpus-level vocabulary aggregation); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, field).cast("string").as("_text"))
    val out = graft.analytics.Text.zipfFit(flat, "_text", minCount, topN)
      .withColumn("_kk", lit("zipf"))
    Cdc.wrap(out, "_kk", "text.zipf")
  }
}

/** `text.heaps` — Heaps' law vocabulary-growth fit
  * ([[graft.analytics.Text.heapsFit]]): one record with (n_points,
  * n_tokens, n_types, beta, log10_k) over doc-id-ordered checkpoints.
  * The zipf companion profile a corpus-health dashboard reads.
  */
case class TextHeapsProc(idField: Ref, field: Ref, bucketWidth: Long)
    extends Processor {
  val plugin = "text.heaps"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation + checkpoint window — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.heaps is batch-only (corpus-level vocabulary growth); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).cast("long").as("_id"),
      Analytics2Ops.fieldCol(df, field).cast("string").as("_text"))
    val out = graft.analytics.Text.heapsFit(flat, "_id", "_text",
        bucketWidth)
      .withColumn("_kk", lit("heaps"))
    Cdc.wrap(out, "_kk", "text.heaps")
  }
}

/** `sample.curriculum` — curriculum phase annotation
  * ([[graft.analytics.Sampling.curriculum]] semantics, annotator
  * form): each record's integer difficulty score joins the
  * plan-time score histogram's prefix sums, a per-score rank window
  * derives the record's global index in the (score, id) total order,
  * and the exact-NTILE arithmetic writes `curriculum.phase` into
  * metadata — the shortest-first training schedule, with no
  * single-task global window anywhere.
  */
case class SampleCurriculumProc(idField: Ref, scoreField: Ref, phases: Int)
    extends Processor {
  require(phases >= 2, s"sample.curriculum: phases=$phases")
  val plugin = "sample.curriculum"
  override def transform(df: DataFrame): DataFrame = {
    // the score histogram is collected at plan time — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.curriculum is batch-only (the score histogram is " +
        "collected at plan time); run the pipeline with --batch or " +
        "apply it foreachBatch")
    val score = Analytics2Ops.asLong(
      Analytics2Ops.fieldCol(df, scoreField).cast("string"))
    val base = df
      .withColumn("_s", score)
      .withColumn("_ord", Analytics2Ops.fieldCol(df, idField).cast("string"))
    val scored = base.filter(col("_s").isNotNull)
    require(!scored.isEmpty, "sample.curriculum: no records with a numeric score")
    // shared exact-NTILE core, with the hot-score range refinement —
    // records without a numeric score pass through unannotated
    val phased = graft.analytics.Sampling
      .withCurriculumPhase(scored, "_ord", phases)
      .withColumn(Cdc.Metadata, RefCols.metaSet(col(Cdc.Metadata),
        "curriculum.phase", col("phase").cast("string")))
      .drop("_s", "_ord", "phase")
    phased.unionByName(base.filter(col("_s").isNull).drop("_s", "_ord"))
  }
}

/** `sample.mixture_kl` — mixture divergence monitor
  * ([[graft.analytics.Sampling.mixtureKl]]): one create record per
  * target stratum with (tokens, share, target, kl_term) — the
  * KL(realized‖target) decomposition a mixture designer reads before
  * and after `sample.token_mixture` runs. Constant-size aggregate
  * state.
  */
case class SampleMixtureKlProc(strataField: Ref, tokensField: Ref,
                               targets: Seq[(String, Double)])
    extends Processor {
  val plugin = "sample.mixture_kl"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation + share window — batch-only, so fail
    // with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.mixture_kl is batch-only (corpus-level share " +
        "aggregation); run the pipeline with --batch or apply it " +
        "foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, strataField).cast("string").as("_stratum"),
      Analytics2Ops.fieldCol(df, tokensField).cast("long").as("_tk"))
    val out = graft.analytics.Sampling.mixtureKl(flat, "_stratum", "_tk",
        targets)
      .withColumnRenamed("_stratum", "stratum")
    Cdc.wrap(out, "stratum", "sample.mixture_kl")
  }
}

/** `sample.unimax` — UniMax budget allocation (Chung et al. 2023;
  * [[graft.analytics.Sampling.unimaxAllocation]]): ascending-count
  * waterfilling of a token budget with a per-stratum epoch cap. One
  * plan record per stratum with (n_tokens, capped, quota, epochs) —
  * feed the epochs into `sample.epochs` to realize the plan.
  * Corpus-level aggregation + bounded stratum windows — batch-only.
  */
case class SampleUnimaxProc(strataField: Ref, tokensField: Ref,
                            budget: Long, maxEpochs: Double)
    extends Processor {
  val plugin = "sample.unimax"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation + stratum windows — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.unimax is batch-only (corpus-level token aggregation); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, strataField).cast("string").as("_stratum"),
      Analytics2Ops.fieldCol(df, tokensField).cast("long").as("_tk"))
    val out = graft.analytics.Sampling.unimaxAllocation(flat, "_stratum",
      "_tk", budget, maxEpochs)
    Cdc.wrap(out, "stratum", "sample.unimax")
  }
}

/** `sample.doremi` — DoReMi mixture weights (Xie et al. 2023;
  * [[graft.analytics.Sampling.doremiWeights]], the c=0 closed form):
  * per-domain EG-averaged weights from per-record (domain, step,
  * excess-loss) fields. One plan record per domain with (n_steps,
  * mean_excess, weight) — the mixture a `sample.mixture`/
  * `sample.epochs` run realizes. Corpus-level aggregation + bounded
  * grid windows — batch-only.
  */
case class SampleDoremiProc(domainField: Ref, stepField: Ref,
                            lossField: Ref, eta: Double)
    extends Processor {
  val plugin = "sample.doremi"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation + grid windows — batch-only, so fail
    // with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "sample.doremi is batch-only (corpus-level loss aggregation); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, domainField).cast("string").as("_domain"),
      Analytics2Ops.fieldCol(df, stepField).cast("long").as("_step"),
      Analytics2Ops.fieldCol(df, lossField).cast("double").as("_loss"))
    val out = graft.analytics.Sampling.doremiWeights(flat, "_domain",
      "_step", "_loss", eta)
    Cdc.wrap(out, "domain", "sample.doremi")
  }
}

/** `text.gopher` — the Gopher quality rules (Rae et al. 2021, table
  * A1; [[graft.analytics.Text.gopherMetrics]] with the paper's
  * thresholds) as a pipeline annotator: metadata gets `gopher.keep`,
  * the seven per-rule verdicts, and `gopher.n_words`; with
  * `drop=true` failing records are filtered instead. Row-local (the
  * signals read only the record's own tokens/lines), so it streams;
  * records whose text field is absent pass through unannotated
  * (`drop=true` removes them — no text is not a pass).
  */
case class TextGopherProc(field: Ref, drop: Boolean,
                          minWords: Long = 50, maxWords: Long = 100000,
                          minMeanWordLen: Double = 3.0,
                          maxMeanWordLen: Double = 10.0,
                          maxSymbolRatio: Double = 0.1,
                          maxBulletFrac: Double = 0.9,
                          maxEllipsisFrac: Double = 0.3,
                          minAlphaFrac: Double = 0.8,
                          minStopHits: Long = 2) extends Processor {
  val plugin = "text.gopher"
  override def transform(df: DataFrame): DataFrame = {
    import graft.analytics.Text
    // thresholds are settings (paper values as defaults): every real
    // deployment tunes them to its corpus — a vocabulary without the
    // English stop list, a domain with long identifiers.
    // Tokenize/line-split ONCE, signals in their own projection, then
    // verdicts as cheap references — the gopherRules staging, kept on
    // the CDC frame through temp columns (HOF signals don't share
    // subexpressions; inline they re-split the text per signal).
    val staged = df
      .withColumn("_gt", Analytics2Ops.fieldCol(df, field).cast("string"))
      .withColumn("_gtoks", Text.wsTokens(col("_gt")))
      .withColumn("_glines", split(col("_gt"), "\n"))
    val sigCols = Text.gopherSignals(
      col("_gt"), col("_gtoks"), col("_glines"))
    val withSig = staged
      .withColumn("_gsig", struct(sigCols.map { case (n, c) => c.as(n) }: _*))
      .drop("_gt", "_gtoks", "_glines")
    val verdicts = Text.gopherVerdicts(
      n => col("_gsig").getField(n), minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletFrac,
      maxEllipsisFrac, minAlphaFrac, minStopHits)
    val withG = withSig.withColumn("_g", struct(
      (("n_words" -> col("_gsig").getField("n_words")) +: verdicts)
        .map { case (n, c) => c.as(n) }: _*))
      .drop("_gsig")
    val keys = Seq("keep", "n_words", "pass_words", "pass_word_len",
      "pass_symbol", "pass_bullet", "pass_ellipsis", "pass_alpha",
      "pass_stop")
    val meta = keys.foldLeft(col(Cdc.Metadata)) { (m, k) =>
      RefCols.metaSet(m, s"gopher.$k",
        col("_g").getField(k).cast("string"))
    }
    val annotated = withG.withColumn(Cdc.Metadata,
      when(col("_g").getField("keep").isNotNull, meta)
        .otherwise(col(Cdc.Metadata)))
    val out = if (drop)
      annotated.filter(col("_g").getField("keep")) else annotated
    out.drop("_g")
  }
}

/** `text.fineweb` — the FineWeb line-shape heuristics (Penedo et al.
  * 2024 §3.6; [[graft.analytics.Text.finewebRules]] with the paper's
  * thresholds) as a pipeline annotator: metadata gets `fineweb.keep`,
  * the three per-rule verdicts, and `fineweb.punct_line_frac`; with
  * `drop=true` failing records are filtered instead. Row-local (the
  * signals read only the record's own lines), so it streams; records
  * whose text field is absent pass through unannotated (`drop=true`
  * removes them — no text is not a pass).
  */
case class TextFinewebProc(field: Ref, drop: Boolean,
                           minPunctLineFrac: Double = 0.12,
                           maxDupLineCharFrac: Double = 0.1,
                           maxShortLineFrac: Double = 0.67,
                           shortLineChars: Int = 30) extends Processor {
  val plugin = "text.fineweb"
  override def transform(df: DataFrame): DataFrame = {
    import graft.analytics.Text
    // line-split ONCE, signals in their own projection, verdicts as
    // cheap references — the text.gopher staging, kept on the CDC
    // frame through temp columns (HOF signals don't share
    // subexpressions; inline they re-split the text per signal)
    val staged = df
      .withColumn("_ft", Analytics2Ops.fieldCol(df, field).cast("string"))
      .withColumn("_flines", split(col("_ft"), "\n"))
    val sigCols = Text.finewebSignals(col("_flines"), shortLineChars)
    val withSig = staged
      .withColumn("_fsig", struct(sigCols.map { case (n, c) => c.as(n) }: _*))
      .drop("_ft", "_flines")
    val verdicts = Text.finewebVerdicts(
      n => col("_fsig").getField(n), minPunctLineFrac,
      maxDupLineCharFrac, maxShortLineFrac)
    val withF = withSig.withColumn("_f", struct(
      (("punct_line_frac" -> col("_fsig").getField("punct_line_frac")) +:
        verdicts).map { case (n, c) => c.as(n) }: _*))
      .drop("_fsig")
    val keys = Seq("keep", "punct_line_frac", "pass_punct", "pass_dup",
      "pass_short")
    val meta = keys.foldLeft(col(Cdc.Metadata)) { (m, k) =>
      RefCols.metaSet(m, s"fineweb.$k",
        col("_f").getField(k).cast("string"))
    }
    val annotated = withF.withColumn(Cdc.Metadata,
      when(col("_f").getField("keep").isNotNull, meta)
        .otherwise(col(Cdc.Metadata)))
    val out = if (drop)
      annotated.filter(col("_f").getField("keep")) else annotated
    out.drop("_f")
  }
}

/** `text.nb_train` — trained Naive-Bayes quality model
  * ([[graft.analytics.Text.nbTrain]]): label-conditional add-one
  * log-odds per token, label = (labelField == posValue). One create
  * record per token with (c_pos, c_neg, log_odds) — point a parquet
  * destination here and feed the path to [[TextNbProc]]'s
  * `modelTable` (the `text.bpe_train` → `text.bpe` composition
  * pattern). The CCNet-style reference-vs-crawl filter, actually
  * TRAINED rather than seed-derived.
  */
case class TextNbTrainProc(idField: Ref, textField: Ref, labelField: Ref,
                           posValue: String, alpha: Double)
    extends Processor {
  require(alpha > 0, s"text.nb_train: alpha=$alpha")
  val plugin = "text.nb_train"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level label-conditional counts — batch-only, so fail
    // with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.nb_train is batch-only (corpus-level label-conditional " +
        "token counts); run the pipeline with --batch or apply it " +
        "foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"),
      (Analytics2Ops.fieldCol(df, labelField).cast("string")
        === lit(posValue)).as("_lab"))
    val out = graft.analytics.Text.nbTrain(flat, "_id", "_text", "_lab",
      alpha)
    Cdc.wrap(out, "tok", "text.nb_train")
  }
}

/** `text.nb` — score documents against a TRAINED Naive-Bayes model
  * ([[graft.analytics.Text.nbScore]]): per doc, prior + the
  * idx-ordered fold of its occurrences' log-odds; `pred_pos`
  * thresholds at 0. `modelTable` is a plain (tok, log_odds) parquet
  * or a CDC-shaped one written by a `text.nb_train` pipeline (the
  * text.bpe convention); `prior` is ln(D₊/D₋) of the TRAINING corpus
  * (default 0 = balanced). One create record per scored doc.
  */
case class TextNbProc(idField: Ref, textField: Ref, modelTable: String,
                      prior: Double) extends Processor {
  val plugin = "text.nb"
  override def transform(df: DataFrame): DataFrame = {
    // per-doc aggregation over the reshaped frame — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.nb is batch-only (per-document aggregation over the " +
        "exploded frame); run the pipeline with --batch or apply it " +
        "foreachBatch")
    val spark = df.sparkSession
    val raw = spark.read.parquet(modelTable)
    val model =
      if (raw.columns.contains("log_odds")) raw
      else raw.schema(Cdc.PayloadAfter).dataType match {
        case _: org.apache.spark.sql.types.StructType => raw.select(
          col(s"${Cdc.PayloadAfter}.tok").cast("string").as("tok"),
          col(s"${Cdc.PayloadAfter}.log_odds").cast("double").as("log_odds"))
        case _ => raw.select(
          get_json_object(col(Cdc.PayloadAfter), "$.tok").as("tok"),
          get_json_object(col(Cdc.PayloadAfter), "$.log_odds")
            .cast("double").as("log_odds"))
      }
    import spark.implicits._
    val priorDf = Seq(prior).toDF("prior")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.nbScore(flat, "_id", "_text",
        model, priorDf)
      .withColumnRenamed("_id", "doc_id")
    Cdc.wrap(out, "doc_id", "text.nb")
  }
}

/** `text.strip_html` — HTML → text extraction in place
  * ([[graft.analytics.Text.stripHtmlText]]: script/style/comments
  * removed with content, tags to spaces, entities decoded AFTER
  * stripping with `&amp;` last, whitespace collapsed — the WET stage
  * of a web-corpus pipeline). Rewrites the field in place like
  * `text.normalize`; row-local, streams at scan speed.
  */
case class TextStripHtmlProc(field: Ref) extends Processor {
  val plugin = "text.strip_html"
  override def transform(df: DataFrame): DataFrame = {
    val slot = RefCols.column(field)
    val clean = graft.analytics.Text.stripHtmlText(
      Analytics2Ops.fieldCol(df, field))
    df.schema(slot).dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        df.withColumn(slot, StructOps.set(col(slot), st, field.sub, clean))
      case _ =>
        df.withColumn(slot, graft.functions.JsonExpressions.jsonSet(
          col(slot), field.sub, clean))
    }
  }
}

/** `sample.epochs` — fractional-epoch UP-sampling
  * ([[graft.analytics.Sampling.epochsUpsample]] semantics): each
  * record in stratum s with epochs e is emitted floor(e) times plus a
  * splitmix64-hash-gated extra for the fraction, so a "2.3 epochs of
  * wiki" recipe line is one processor. Every copy carries its index
  * in metadata `epoch.index` (what a downstream shuffle keys on to
  * spread replicas). Strata not named drop; e=0 is a legal explicit
  * drop. Row-local when-chain + explode — no join, no shuffle, no
  * aggregate; streams safely.
  */
case class SampleEpochsProc(strataField: Ref, idField: Ref,
                            epochs: Seq[(String, Double)], seed: Long)
    extends Processor {
  require(epochs.nonEmpty, "sample.epochs: epochs must be non-empty")
  require(epochs.forall { case (_, e) => e >= 0 && e <= 64 },
    "sample.epochs: epochs must be in [0, 64]")
  require(epochs.map(_._1).distinct.size == epochs.size,
    "sample.epochs: duplicate epochs stratum")
  val plugin = "sample.epochs"
  override def transform(df: DataFrame): DataFrame = {
    import graft.analytics.HashFunctions.fnv1a_hash
    val stratum = Analytics2Ops.fieldCol(df, strataField).cast("string")
    val whole = epochs.foldLeft(lit(null).cast("long")) {
      case (acc, (k, e)) =>
        when(stratum === lit(k), lit(math.floor(e).toLong)).otherwise(acc)
    }
    val cut = epochs.foldLeft(lit(null).cast("long")) {
      case (acc, (k, e)) =>
        when(stratum === lit(k),
          lit(math.floor((e - math.floor(e)) * 4096.0).toLong))
          .otherwise(acc)
    }
    val id = fnv1a_hash(Analytics2Ops.fieldCol(df, idField).cast("string"))
    df.withColumn("_reps", whole +
        when(graft.analytics.Sampling.bucketOf(id, seed) < cut, lit(1L))
          .otherwise(lit(0L)))
      .filter(col("_reps") > 0)
      .withColumn("_epoch", explode(sequence(lit(0L), col("_reps") - 1)))
      .withColumn(Cdc.Metadata, RefCols.metaSet(col(Cdc.Metadata),
        "epoch.index", col("_epoch").cast("string")))
      .drop("_reps", "_epoch")
  }
}

/** `dedup.winnow` — winnowing fingerprint match
  * ([[graft.analytics.Dedup.winnowPairs]], Schleimer et al. 2003):
  * one create record per unordered doc pair sharing ≥ minShared
  * window-min gram fingerprints, with the shared count — the
  * copy/excerpt detector at posting granularity. Fingerprints in more
  * than maxDf docs are boilerplate-capped away.
  */
case class DedupWinnowProc(idField: Ref, textField: Ref, k: Int, w: Int,
                           minShared: Int, maxDf: Int) extends Processor {
  require(k >= 1 && w >= 1 && minShared >= 1 && maxDf >= 1,
    s"dedup.winnow: k=$k w=$w minShared=$minShared maxDf=$maxDf")
  val plugin = "dedup.winnow"
  override def transform(df: DataFrame): DataFrame = {
    // cross-document posting joins — batch-only, so fail with the
    // real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "dedup.winnow is batch-only (cross-document fingerprint posting " +
        "joins); run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Dedup.winnowPairs(flat, "_id", "_text",
        k, w, minShared, maxDf)
      .withColumn("pair", concat_ws("|", col("doc_a"), col("doc_b")))
    Cdc.wrap(out, "pair", "dedup.winnow")
  }
}

/** `text.divergence` — pairwise Jensen–Shannon divergence between
  * stratum slices' unigram distributions
  * ([[graft.analytics.Text.jsDivergence]], Lin 1991): one create
  * record per unordered stratum pair with (stratum_a, stratum_b,
  * n_common, jsd) — the domain-shift profile mixture design reads
  * before picking `sample.mixture` weights.
  */
case class TextDivergenceProc(strataField: Ref, textField: Ref)
    extends Processor {
  val plugin = "text.divergence"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level per-stratum token distributions — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.divergence is batch-only (corpus-level per-stratum token " +
        "distributions); run the pipeline with --batch or apply it " +
        "foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, strataField).cast("string").as("_s"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.jsDivergence(flat, "_s", "_text")
      .withColumn("pair",
        concat_ws("|", col("stratum_a"), col("stratum_b")))
    Cdc.wrap(out, "pair", "text.divergence")
  }
}

/** `text.sbo_train` — stupid-backoff trigram language model
  * ([[graft.analytics.Text.sboTrain]], Brants et al. 2007): one create
  * record per model row (ord ∈ {3,2,1,0}, u, v, w, score) — point a
  * parquet destination here and feed the path to [[TextSboProc]]'s
  * `modelTable` (the `text.nb_train` → `text.nb` composition pattern).
  * Train it on the reference slice (filter upstream) and score the
  * crawl with `text.sbo` — the CCNet fluency filter, count-ratio form.
  */
case class TextSboTrainProc(idField: Ref, textField: Ref)
    extends Processor {
  val plugin = "text.sbo_train"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level n-gram counts — batch-only, so fail with the real
    // reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.sbo_train is batch-only (corpus-level trigram/bigram/" +
        "unigram counts); run the pipeline with --batch or apply it " +
        "foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.sboTrain(flat, "_id", "_text")
      .withColumn("ngram",
        concat_ws("\u0001", col("ord"), coalesce(col("u"), lit("")),
          coalesce(col("v"), lit("")), coalesce(col("w"), lit(""))))
    Cdc.wrap(out, "ngram", "text.sbo_train")
  }
}

/** `text.sbo` — score documents against a TRAINED stupid-backoff model
  * ([[graft.analytics.Text.sboScore]]): per doc, the idx-ordered fold
  * of −ln S over its trigrams, backing off trigram → bigram → floored
  * unigram. `modelTable` is a plain (ord, u, v, w, score) parquet or a
  * CDC-shaped one written by a `text.sbo_train` pipeline.
  */
case class TextSboProc(idField: Ref, textField: Ref, modelTable: String)
    extends Processor {
  val plugin = "text.sbo"
  override def transform(df: DataFrame): DataFrame = {
    // per-doc aggregation over the exploded frame — batch-only, so
    // fail with the real reason (the text.bpe guard contract)
    require(!df.isStreaming,
      "text.sbo is batch-only (per-document aggregation over the " +
        "exploded trigram frame); run the pipeline with --batch or " +
        "apply it foreachBatch")
    val spark = df.sparkSession
    val raw = spark.read.parquet(modelTable)
    val model =
      if (raw.columns.contains("score") && raw.columns.contains("ord")) raw
      else raw.schema(Cdc.PayloadAfter).dataType match {
        case _: org.apache.spark.sql.types.StructType => raw.select(
          col(s"${Cdc.PayloadAfter}.ord").cast("long").as("ord"),
          col(s"${Cdc.PayloadAfter}.u").cast("string").as("u"),
          col(s"${Cdc.PayloadAfter}.v").cast("string").as("v"),
          col(s"${Cdc.PayloadAfter}.w").cast("string").as("w"),
          col(s"${Cdc.PayloadAfter}.score").cast("double").as("score"))
        case _ => raw.select(
          get_json_object(col(Cdc.PayloadAfter), "$.ord").cast("long")
            .as("ord"),
          get_json_object(col(Cdc.PayloadAfter), "$.u").as("u"),
          get_json_object(col(Cdc.PayloadAfter), "$.v").as("v"),
          get_json_object(col(Cdc.PayloadAfter), "$.w").as("w"),
          get_json_object(col(Cdc.PayloadAfter), "$.score").cast("double")
            .as("score"))
      }
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("_text"))
    val out = graft.analytics.Text.sboScore(flat, model, "_id", "_text")
    Cdc.wrap(out, "doc_id", "text.sbo")
  }
}

/** `report.datacard` — the corpus datasheet as a terminal processor
  * ([[graft.tools.DataCard.buildFrom]] as a sink-side one-shot): the
  * batch that reaches it aggregates into ONE create record carrying
  * the full card (sizes, language mix, quality/PII aggregates,
  * exact-dup rate, entropy, Gopher pass rates, Zipf fit, pairwise
  * language JSD), and when `path` is set the markdown + JSON
  * datasheet files are also written there — the artifact a release
  * pipeline publishes next to the data. Every metric is a bounded
  * aggregate (one-row, per-stratum, or pair-grid); no documents are
  * ever collected, so the card runs at any SF.
  */
case class ReportDataCardProc(idField: Ref, textField: Ref, langField: Ref,
                              path: Option[String]) extends Processor {
  val plugin = "report.datacard"
  override def transform(df: DataFrame): DataFrame = {
    // corpus-level aggregation (and an eager card build when `path`
    // asks for files) — batch-only, the text.bpe guard contract
    require(!df.isStreaming,
      "report.datacard is batch-only (corpus-level aggregation); run " +
        "the pipeline with --batch or apply it foreachBatch")
    val docs = df.select(
      Analytics2Ops.fieldCol(df, idField).cast("string").as("doc_id"),
      Analytics2Ops.fieldCol(df, textField).cast("string").as("text"),
      Analytics2Ops.fieldCol(df, langField).cast("string").as("lang"))
    val card = graft.tools.DataCard.buildFrom(docs)
    path.foreach { p =>
      val dir = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("datacard.md"),
        card.markdown)
      java.nio.file.Files.writeString(dir.resolve("datacard.json"),
        card.json)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val out = spark.read.json(Seq(card.json).toDS())
      .withColumn("_kk", lit("datacard"))
    Cdc.wrap(out, "_kk", "report.datacard")
  }
}

/** `text.c4` — the C4 cleanup rules (Raffel et al. 2020 §2.2 +
  * released `c4_utils` defaults) as the line-first sibling of
  * `text.gopher`: per record, the page verdicts land in metadata
  * (`c4.keep`, per-rule booleans, retained-line and sentence counts),
  * `drop=true` gates the stream on `keep`, and `clean=true` rewrites
  * the text field in place with the retained lines (the
  * `text.normalize` write-back idiom) — what C4 actually trains on.
  * Thresholds and the bad-word list are settings — the paper's
  * blocklist is a public list the deployment chooses; the default is
  * empty (rule passes). Row-local, no corpus state — streams safely.
  */
case class TextC4Proc(field: Ref, drop: Boolean,
                      minSentences: Long = 5, minLineWords: Long = 5,
                      badWords: Seq[String] = Nil,
                      clean: Boolean = false) extends Processor {
  val plugin = "text.c4"
  override def transform(df: DataFrame): DataFrame = {
    import graft.analytics.Text
    // line-split and clean ONCE in their own projections, signals in
    // one struct, verdicts as cheap references — the gopherRules
    // staging discipline on the CDC frame
    val staged = df
      .withColumn("_ct", Analytics2Ops.fieldCol(df, field).cast("string"))
      .withColumn("_clines", split(col("_ct"), "\n"))
      .withColumn("_ckept", org.apache.spark.sql.functions.filter(
        col("_clines"), l => Text.c4LineKeep(l, minLineWords)))
      .withColumn("_cclean", array_join(col("_ckept"), "\n"))
    val sigCols = Text.c4Signals(col("_ct"), col("_clines"),
      col("_ckept"), col("_cclean"), badWords)
    val cleaned =
      if (!clean) staged
      else {
        val slot = RefCols.column(field)
        staged.schema(slot).dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            staged.withColumn(slot,
              StructOps.set(col(slot), st, field.sub, col("_cclean")))
          case _ =>
            staged.withColumn(slot, graft.functions.JsonExpressions
              .jsonSet(col(slot), field.sub, col("_cclean")))
        }
      }
    val withSig = cleaned
      .withColumn("_csig", struct(sigCols.map { case (n, c) => c.as(n) }: _*))
      .drop("_ct", "_clines", "_ckept", "_cclean")
    val verdicts = Text.c4Verdicts(
      n => col("_csig").getField(n), minSentences)
    val withC = withSig.withColumn("_c", struct(
      (Seq("n_kept_lines" -> col("_csig").getField("n_kept_lines"),
        "n_sentences" -> col("_csig").getField("n_sentences")) ++ verdicts)
        .map { case (n, c) => c.as(n) }: _*))
      .drop("_csig")
    val keys = Seq("keep", "n_kept_lines", "n_sentences",
      "pass_sentences", "pass_lorem", "pass_brace", "pass_badword")
    val meta = keys.foldLeft(col(Cdc.Metadata)) { (m, k) =>
      RefCols.metaSet(m, s"c4.$k", col("_c").getField(k).cast("string"))
    }
    val annotated = withC.withColumn(Cdc.Metadata,
      when(col("_c").getField("keep").isNotNull, meta)
        .otherwise(col(Cdc.Metadata)))
    val out = if (drop)
      annotated.filter(col("_c").getField("keep")) else annotated
    out.drop("_c")
  }
}

/** `sample.tiles` — exact per-stratum NTILE annotation
  * ([[graft.analytics.Sampling.stratifiedTiles]]): each record's
  * 1-based tile in its stratum's (score, id) order lands in metadata
  * as `tile` — compose with a `filter` condition on `.Metadata.tile`
  * to keep a tercile (the CCNet head/middle/tail gate: stratum =
  * language, score = `text.sbo` fluency). No per-stratum single-task
  * window: the rank decomposes through score bins with a loud
  * spike-bin guard. Records with a null/unparseable score are
  * DROPPED (they have no place in a score order); id ties order as
  * STRINGS (record-path values are strings).
  */
case class SampleTilesProc(stratumField: Ref, scoreField: Ref, idField: Ref,
                           tiles: Int, binWidth: Double) extends Processor {
  val plugin = "sample.tiles"
  override def transform(df: DataFrame): DataFrame = {
    // per-stratum rank over the whole corpus — batch-only, the
    // text.bpe guard contract
    require(!df.isStreaming,
      "sample.tiles is batch-only (per-stratum rank over the corpus); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val staged = df
      .withColumn("_tst",
        Analytics2Ops.fieldCol(df, stratumField).cast("string"))
      .withColumn("_tsc",
        Analytics2Ops.fieldCol(df, scoreField).cast("double"))
      .withColumn("_tid",
        Analytics2Ops.fieldCol(df, idField).cast("string"))
    graft.analytics.Sampling
      .stratifiedTiles(staged, "_tst", "_tsc", "_tid", tiles, binWidth)
      .withColumn(Cdc.Metadata,
        RefCols.metaSet(col(Cdc.Metadata), "tile",
          col("tile").cast("string")))
      .drop("_tst", "_tsc", "_tid", "tile")
  }
}

/** `url.filter` — the RefinedWeb-style URL gate
  * ([[graft.analytics.Urls.urlFilter]] semantics, annotator form):
  * the zero-bytes-fetched filter a crawl pipeline runs FIRST — per
  * record, the rule verdicts land in metadata (`url.keep`, per-rule
  * booleans, the extracted host) and `drop=true` gates on `keep`.
  * The block list is a setting (RefinedWeb applies a curated public
  * list; the deployment chooses its own — default empty). Row-local,
  * no corpus state — streams safely.
  */
case class UrlFilterProc(field: Ref, drop: Boolean,
                         maxUrlLen: Long = 2048, maxHostDots: Long = 4,
                         maxHostDigitFrac: Double = 0.4,
                         blockWords: Seq[String] = Nil) extends Processor {
  val plugin = "url.filter"
  override def transform(df: DataFrame): DataFrame = {
    import graft.analytics.Urls
    // URL + host staged once; signals in one struct; verdicts as
    // cheap references (the gopherRules staging discipline)
    val staged = df
      .withColumn("_u", Analytics2Ops.fieldCol(df, field).cast("string"))
      .withColumn("_uhost", Urls.hostOf(col("_u")))
    val sigCols = Urls.urlSignals(col("_u"), col("_uhost"), blockWords)
    val withSig = staged
      .withColumn("_usig", struct(sigCols.map { case (n, c) => c.as(n) }: _*))
      .drop("_u", "_uhost")
    val verdicts = Urls.urlVerdicts(
      n => col("_usig").getField(n), maxUrlLen, maxHostDots,
      maxHostDigitFrac)
    val withV = withSig.withColumn("_uv", struct(
      (Seq("host" -> col("_usig").getField("host")) ++ verdicts)
        .map { case (n, c) => c.as(n) }: _*))
      .drop("_usig")
    val keys = Seq("keep", "host", "pass_len", "pass_dots",
      "pass_digits", "pass_ip", "pass_blocklist")
    val meta = keys.foldLeft(col(Cdc.Metadata)) { (m, k) =>
      RefCols.metaSet(m, s"url.$k", col("_uv").getField(k).cast("string"))
    }
    val annotated = withV.withColumn(Cdc.Metadata,
      when(col("_uv").getField("keep").isNotNull, meta)
        .otherwise(col(Cdc.Metadata)))
    val out = if (drop)
      annotated.filter(col("_uv").getField("keep")) else annotated
    out.drop("_uv")
  }
}

/** `graph.labelprop` — synchronous label-propagation communities over
  * an edge stream ([[graft.analytics.Graph.labelPropagation]]:
  * integer votes + the (max count, min label) tie rule, self-vote
  * damping, lineage-truncated rounds): one create record per node
  * with its community label, keyed by node. Aggregate output via
  * [[Cdc.wrap]] — the community complement of `graph.components`
  * (density-sensitive instead of reachability-only).
  */
case class LabelPropProc(src: Ref, dst: Ref, iterations: Int)
    extends Processor {
  val plugin = "graph.labelprop"
  override def transform(df: DataFrame): DataFrame = {
    // per-round convergence counts — batch-only, the text.bpe guard
    // contract
    require(!df.isStreaming,
      "graph.labelprop is batch-only (iterative propagation over the " +
        "corpus); run the pipeline with --batch or apply it foreachBatch")
    val edges = df.select(Analytics2Ops.fieldCol(df, src).as("id_a"),
        Analytics2Ops.fieldCol(df, dst).as("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val out = graft.analytics.Graph.labelPropagation(edges, "id_a", "id_b",
      iterations)
    Cdc.wrap(out, "node", "graph.labelprop")
  }
}

/** `graph.seeddist` — hop distance to the nearest seed by
  * multi-source BFS ([[graft.analytics.Graph.seedDistance]]): seeds
  * come from a FIXED parquet table (the text.nb model-table
  * precedent — curate once, annotate forever); one create record per
  * reached node with (node, hops). TrustRank-style seed proximity
  * for crawl-frontier curation. Aggregate output via [[Cdc.wrap]].
  */
case class SeedDistProc(src: Ref, dst: Ref, seedsTable: String,
                        seedColumn: String, maxHops: Int)
    extends Processor {
  require(seedsTable.nonEmpty, "graph.seeddist: need seedsTable")
  val plugin = "graph.seeddist"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "graph.seeddist is batch-only (iterative BFS over the corpus); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val edges = df.select(Analytics2Ops.fieldCol(df, src).as("id_a"),
        Analytics2Ops.fieldCol(df, dst).as("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val seedsRaw = df.sparkSession.read.parquet(seedsTable)
    val seeds = if (seedColumn.isEmpty) seedsRaw
      else seedsRaw.select(col(seedColumn))
    val out = graft.analytics.Graph.seedDistance(edges, "id_a", "id_b",
      seeds, maxHops)
    Cdc.wrap(out, "node", "graph.seeddist")
  }
}

/** `sim.pca` — top principal component of the batch's embedding
  * cloud by the EXACT integer power iteration
  * ([[graft.analytics.Similarity.pcaTopComponent]]): `output=loadings`
  * emits one create record per dimension (dim, mu, loading) — the
  * ABTT common-direction diagnostic; `output=project` emits one per
  * vector (id, pc1) — the 1-D quality/slice axis. Aggregate output
  * via [[Cdc.wrap]].
  */
case class SimPcaProc(idField: Ref, vecField: Ref, iterations: Int,
                      output: String) extends Processor {
  require(output == "loadings" || output == "project" ||
    output == "residual",
    s"sim.pca: output must be loadings|project|residual, got $output")
  val plugin = "sim.pca"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "sim.pca is batch-only (the power iteration collects the " +
        "per-dim direction each round); run the pipeline with --batch " +
        "or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics3Ops.vecCol(df, vecField).as("_vec"))
      .filter(col("_vec").isNotNull)
    if (output == "loadings") {
      val out = graft.analytics.Similarity.pcaTopComponent(
        flat, "_id", "_vec", iterations)
      Cdc.wrap(out, "dim", "sim.pca")
    } else if (output == "residual") {
      val out = graft.analytics.Similarity.pcaResidual(
        flat, "_id", "_vec", iterations)
      Cdc.wrap(out.withColumn("_rk",
        concat_ws("|", col("_id"), col("dim"))), "_rk", "sim.pca")
    } else {
      val out = graft.analytics.Similarity.pcaProject(
        flat, "_id", "_vec", iterations)
      Cdc.wrap(out, "_id", "sim.pca")
    }
  }
}

/** `graph.ppr` — personalized PageRank over an edge stream
  * ([[graft.analytics.Graph.personalizedPageRank]]: teleport mass
  * restarts only at seeds from a FIXED parquet table — TrustRank):
  * one create record per node with its seed-relative rank. Lazy tail
  * with per-batch fence rotation, like `graph.pagerank`. Aggregate
  * output via [[Cdc.wrap]].
  */
case class PprProc(src: Ref, dst: Ref, seedsTable: String,
                   seedColumn: String, iterations: Int, damping: Double)
    extends Processor with BatchFenceRelease {
  require(seedsTable.nonEmpty, "graph.ppr: need seedsTable")
  val plugin = "graph.ppr"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "graph.ppr is batch-only (iterative walk over the corpus); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val edges = df.select(Analytics2Ops.fieldCol(df, src).as("_src"),
        Analytics2Ops.fieldCol(df, dst).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull)
    val seedsRaw = df.sparkSession.read.parquet(seedsTable)
    val seeds = if (seedColumn.isEmpty) seedsRaw
      else seedsRaw.select(col(seedColumn))
    val ranks = graft.analytics.Graph.personalizedPageRank(edges,
      "_src", "_dst", seeds, iterations, damping,
      eager = false, onFences = rotateFences())
    Cdc.wrap(ranks, "node", "graph.ppr")
  }
}

/** `ts.changepoint` — exact single changepoint per series
  * ([[graft.analytics.Temporal.changepoint]]): one create record per
  * group with (n, cp_k, split_at, mean_left, mean_right, score),
  * keyed by the group tuple. Aggregate output via [[Cdc.wrap]] — the
  * offline level-shift complement of the streaming `stats_cusum` row.
  */
case class ChangepointProc(groups: Seq[Ref], order: Ref, value: Ref)
    extends Processor {
  require(groups.nonEmpty, "ts.changepoint: need groups")
  val plugin = "ts.changepoint"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "ts.changepoint is batch-only (per-series rank over the corpus); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val names = groups.map(r => r.sub.lastOption.getOrElse("g"))
    val flat = df.select(
      (groups.zip(names).map { case (r, n) =>
        Analytics2Ops.fieldCol(df, r).as(n) } ++ Seq(
        Analytics2Ops.fieldCol(df, order).cast("long").as("_ord"),
        Analytics2Ops.fieldCol(df, value).cast("long").as("_val"))): _*)
    val out = graft.analytics.Temporal.changepoint(flat, names, "_ord", "_val")
    val keyed = out.withColumn("_k", concat_ws("|", names.map(col): _*))
    Cdc.wrap(keyed, "_k", "ts.changepoint")
  }
}

/** `ts.hurst` — Hurst exponent per series by rescaled-range analysis
  * ([[graft.analytics.Temporal.hurstRs]]): one create record per
  * group with (n_scales, n_blocks, hurst, log_c), keyed by the group
  * tuple — the long-range-dependence diagnostic next to
  * `ts.changepoint`. Aggregate output via [[Cdc.wrap]].
  */
case class HurstProc(groups: Seq[Ref], order: Ref, value: Ref)
    extends Processor {
  require(groups.nonEmpty, "ts.hurst: need groups")
  val plugin = "ts.hurst"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "ts.hurst is batch-only (per-series block windows over the " +
        "corpus); run the pipeline with --batch or apply it foreachBatch")
    val names = groups.map(r => r.sub.lastOption.getOrElse("g"))
    val flat = df.select(
      (groups.zip(names).map { case (r, n) =>
        Analytics2Ops.fieldCol(df, r).as(n) } ++ Seq(
        Analytics2Ops.fieldCol(df, order).cast("long").as("_ord"),
        Analytics2Ops.fieldCol(df, value).cast("long").as("_val"))): _*)
    val out = graft.analytics.Temporal.hurstRs(flat, names, "_ord", "_val")
    val keyed = out.withColumn("_k", concat_ws("|", names.map(col): _*))
    Cdc.wrap(keyed, "_k", "ts.hurst")
  }
}

/** `retrieval.rm3` — BM25 with RM3 pseudo-relevance feedback
  * ([[graft.analytics.Retrieval.rm3]]: top-`fbDocs` RM1 model,
  * `fbTerms` expansion terms, α-interpolated weighted rescore): one
  * create record per (query, rank) like `retrieval.bm25` — the
  * recall-boosting second pass as pure config.
  */
case class RetrievalRm3Proc(idField: Ref, textField: Ref, query: String,
                            k1: Double, b: Double, fbDocs: Int,
                            fbTerms: Int, alpha: Double, topK: Int)
    extends Processor {
  require(query.trim.nonEmpty, "retrieval.rm3: need query")
  val plugin = "retrieval.rm3"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "retrieval.rm3 is batch-only (two corpus-ranking passes); " +
        "run the pipeline with --batch or apply it foreachBatch")
    val flat = df.select(
      Analytics2Ops.fieldCol(df, idField).as("_id"),
      Analytics2Ops.fieldCol(df, textField).as("_text"))
    val out = graft.analytics.Retrieval.rm3(flat, "_id", "_text",
      Seq("q" -> query.trim.toLowerCase.split("\\s+").toSeq), k1, b,
      fbDocs, fbTerms, alpha, topK)
    val keyed = out.withColumn("_k",
      concat_ws("|", col("query_id"), col("rank")))
    Cdc.wrap(keyed, "_k", "retrieval.rm3")
  }
}

/** `graph.modularity` — label-propagation communities + their
  * modularity in one step ([[graft.analytics.Graph.labelPropagation]]
  * → [[graft.analytics.Graph.modularity]]): ONE create record with
  * (m_edges, n_communities, modularity) — the partition-quality
  * gauge a curation pipeline logs next to its community assignment.
  */
case class ModularityProc(src: Ref, dst: Ref, iterations: Int)
    extends Processor {
  val plugin = "graph.modularity"
  override def transform(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "graph.modularity is batch-only (iterative propagation over the " +
        "corpus); run the pipeline with --batch or apply it foreachBatch")
    val edges = df.select(Analytics2Ops.fieldCol(df, src).as("id_a"),
        Analytics2Ops.fieldCol(df, dst).as("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val comm = graft.analytics.Graph.labelPropagation(edges, "id_a", "id_b",
      iterations)
    val out = graft.analytics.Graph.modularity(edges, "id_a", "id_b", comm)
    Cdc.wrap(out.withColumn("_k", lit("modularity")), "_k",
      "graph.modularity")
  }
}
