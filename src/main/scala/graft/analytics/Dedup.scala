package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fences.fence
import HashFunctions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup groups by a 256-bit content hash, never by the full
  *    text — the shuffle moves 32 bytes + id per row, not documents;
  *  - MinHash/SimHash signatures are computed row-locally (one pass,
  *    no shuffle), and only the tiny (band, doc_id) pairs shuffle for
  *    LSH bucketing — candidate verification joins signatures, not
  *    documents;
  *  - every stage is expressed with higher-order array functions so the
  *    whole signature computation stays inside one codegen'd project.
  */
object Dedup {

  /** Exact dedup: one row per distinct content, keeping the smallest id.
    * Returns (keep_id, dup_count). GroupBy on sha2(text) — at cluster
    * scale the 600-char document never shuffles, only its digest.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  /** Word n-gram shingles, lowercase — one-pass custom expression
    * ([[Shingles]]); a higher-order-function formulation re-tokenizes
    * per lambda element and collapses badly (see HashExpressions).
    */
  def wordShingles(text: Column, n: Int): Column = word_shingles(text, n)

  /** All unordered intra-bucket pairs with BOUNDED per-task work.
    *
    * The naive formulations — `collect_set` + in-row combinatorics, or
    * a bare self-join on the bucket key — put an entire bucket's
    * quadratic pair generation into ONE task: a boilerplate cluster of
    * 1M near-identical documents would mean a single 10¹²-pair
    * straggler/OOM at 100 TB. Here each bucket is hashed into
    * `ceil(size/cap)` chunks and every chunk-block (i ≤ j) becomes its
    * own join key, so no task ever compares more than cap×cap members
    * and Spark spreads a hot bucket across the cluster. Buckets at or
    * under `cap` (the overwhelmingly common case) degenerate to a plain
    * self-join with a single (0,0) block — no extra replication.
    *
    * `bucketed` must have `keyCols` + `memberCol`; returns
    * (pair_a, pair_b) with pair_a < pair_b, NOT yet de-duplicated
    * across buckets (callers `.distinct()` on the id projection).
    */
  private[analytics] def boundedSelfPairs(
      bucketed0: DataFrame, keyCols: Seq[String], memberCol: String,
      cap: Int): DataFrame = {
    // Fence the bucketed input ([[Fences]], r18): it feeds the hot-key
    // prepass plus BOTH sides of the cold self-join and BOTH sides of
    // the hot chunk join — 5 references, so the caller's signature/
    // banding derivation (corpus scan + hashing + aggregate barrier)
    // replayed 5× unfenced, for every LSH family member routed here.
    val bucketed = fence(bucketed0)
    val keys = keyCols.map(col)
    // HOT-KEY PREPASS. Only buckets larger than `cap` need the chunked
    // machinery, and those are rare by construction (a bucket is a
    // band-hash collision set). A map-side-combined count finds them —
    // the shuffle carries one row per DISTINCT key, not per member, and
    // the result is small enough for the size-gated planner/AQE to
    // broadcast the membership probes. The old formulation learned
    // sizes with count().over(partitionBy(keys)): a full shuffle+sort
    // of every member row that dominated toy-scale runtime and bought
    // nothing for the 99.99% of buckets at or under the cap.
    val hot = bucketed.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > cap)
    // flagged is itself referenced by both cold sides and both hot
    // sides — fenced too, or the hot-count aggregate + flag join
    // rebuild 4× over the bucketed fence (r18, Explain-audited: 26
    // residual exchanges in dedup_minhash from the 4 replays)
    val flagged = fence(bucketed.join(hot, keyCols, "left"))

    // cold buckets (size ≤ cap): plain self-join — singleton buckets
    // pair with nothing, no size column, no explode, no replication
    val cold = flagged.filter(col("bucket_size").isNull)
    val coldPairs = cold.select(keys :+ col(memberCol).as("m_a"): _*)
      .join(cold.select(keys :+ col(memberCol).as("m_b"): _*), keyCols)
      .filter(col("m_a") < col("m_b"))
      .select(col("m_a").as("pair_a"), col("m_b").as("pair_b"))

    // hot buckets: hash members into ceil(size/cap) chunks and make
    // every chunk-block (i ≤ j) its own join key, so no task ever
    // compares more than cap×cap members and Spark spreads a hot
    // bucket (a 1M-doc boilerplate cluster at 100 TB) across the
    // cluster instead of one 10¹²-pair straggler/OOM.
    val member = flagged.filter(col("bucket_size").isNotNull)
      .withColumn("num_chunks",
        ceil(col("bucket_size").cast("double") / lit(cap)).cast("int"))
      .withColumn("chunk",
        pmod(xxhash64(col(memberCol)), col("num_chunks")).cast("int"))
    val left = member
      .withColumn("block_j", explode(sequence(col("chunk"), col("num_chunks") - 1)))
      .select(keys ++ Seq(col("chunk").as("block_i"), col("block_j"),
        col(memberCol).as("m_a")): _*)
    val right = member
      .withColumn("block_i", explode(sequence(lit(0), col("chunk"))))
      .select(keys ++ Seq(col("block_i"), col("chunk").as("block_j"),
        col(memberCol).as("m_b")): _*)
    val hotPairs = left.join(right, keyCols ++ Seq("block_i", "block_j"))
      // same-chunk block holds both orderings; cross-chunk blocks hold
      // each unordered pair exactly once
      .filter(col("block_i") =!= col("block_j") || col("m_a") < col("m_b"))
      .select(least(col("m_a"), col("m_b")).as("pair_a"),
        greatest(col("m_a"), col("m_b")).as("pair_b"))

    coldPairs.unionByName(hotPairs)
  }

  /** All cross-side (left, right) pairs sharing a bucket key, with
    * BOUNDED per-task work — the A×B counterpart of
    * [[boundedSelfPairs]] for batch-vs-history joins. Hot keys (either
    * side larger than `cap`) are grid-chunked: left members hash into
    * `nl` chunks and replicate across the right's `nr` chunks, right
    * members symmetrically, so every (l, r) pair meets in exactly one
    * (key, ci, cj) block of ≤ cap×cap comparisons and a hot bucket
    * spreads across the cluster instead of one quadratic straggler.
    * Cold keys (the common case) take a plain join with no replication.
    */
  private[analytics] def boundedCrossPairs(
      left0: DataFrame, right0: DataFrame, keyCols: Seq[String],
      memberCol: String, cap: Int): DataFrame = {
    // same fence rationale as [[boundedSelfPairs]] (r18): each side
    // feeds its size prepass + the flagged join + the cold/hot splits —
    // 3 upstream replays per side unfenced
    val left = fence(left0)
    val right = fence(right0)
    val keys = keyCols.map(col)
    val lsz = left.groupBy(keys: _*).agg(count(lit(1)).as("lsz"))
    val rsz = right.groupBy(keys: _*).agg(count(lit(1)).as("rsz"))
    // a key pairs only when present on BOTH sides, so the hot probe is
    // an inner join of the two (small, map-side-combined) count sets
    val hot = lsz.join(rsz, keyCols)
      .filter(col("lsz") > cap || col("rsz") > cap)
      .withColumn("nl", ceil(col("lsz").cast("double") / lit(cap)).cast("int"))
      .withColumn("nr", ceil(col("rsz").cast("double") / lit(cap)).cast("int"))
      .select(keys :+ col("nl") :+ col("nr"): _*)
    // fenced like boundedSelfPairs' flagged (r18): each side's flag
    // join feeds its cold AND hot split
    val lf = fence(left.join(hot, keyCols, "left"))
    val rf = fence(right.join(hot, keyCols, "left"))
    val coldPairs = lf.filter(col("nl").isNull)
      .select(keys :+ col(memberCol).as("m_a"): _*)
      .join(rf.filter(col("nl").isNull)
        .select(keys :+ col(memberCol).as("m_b"): _*), keyCols)
      .select(col("m_a").as("pair_a"), col("m_b").as("pair_b"))
    val hotL = lf.filter(col("nl").isNotNull)
      .withColumn("ci", pmod(xxhash64(col(memberCol)), col("nl")).cast("int"))
      .withColumn("cj", explode(sequence(lit(0), col("nr") - 1)))
      .select(keys ++ Seq(col("ci"), col("cj"), col(memberCol).as("m_a")): _*)
    val hotR = rf.filter(col("nl").isNotNull)
      .withColumn("cj", pmod(xxhash64(col(memberCol)), col("nr")).cast("int"))
      .withColumn("ci", explode(sequence(lit(0), col("nl") - 1)))
      .select(keys ++ Seq(col("ci"), col("cj"), col(memberCol).as("m_b")): _*)
    val hotPairs = hotL.join(hotR, keyCols ++ Seq("ci", "cj"))
      .select(col("m_a").as("pair_a"), col("m_b").as("pair_b"))
    coldPairs.unionByName(hotPairs)
  }

  /** Incremental NEAR-dup detection: MinHash-LSH candidate pairs
    * BETWEEN a new batch and a historical corpus (never within either
    * side), verified with exact Jaccard. The ingest-time shape of
    * near-dedup at 100 TB — the history's signatures are computed once
    * (in production: persisted alongside the digest store) and only
    * (band, hash, id) tuples shuffle for the bucket join; candidate
    * verification joins shingle sets for surviving id pairs only.
    * Returns (new_id, hist_id, jaccard).
    */
  def crossMinhashPairs(newDf: DataFrame, histDf: DataFrame,
                        idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 128,
                        numBands: Int = 16, threshold: Double = 0.8,
                        charGrams: Boolean = false,
                        maxBucket: Int = 4096): DataFrame = {
    val shingle = (c: Column) =>
      if (charGrams) char_shingles(c, shingleSize) else word_shingles(c, shingleSize)
    // aggregate barriers as in minhashPairs: signatures and shingles
    // materialize once per document per side
    def banded(df: DataFrame) = df.select(
        col(idCol).as("doc_id"),
        minhash_bands(shingle(col(textCol)), numHashes, numBands).as("bands"))
      .groupBy(col("doc_id")).agg(first(col("bands")).as("bands"))
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    val pairs = boundedCrossPairs(banded(newDf), banded(histDf),
        Seq("band_id", "band_hash"), "doc_id", maxBucket)
      .select(col("pair_a").as("new_id"), col("pair_b").as("hist_id"))
      .distinct()
    def sh(df: DataFrame, id: String, shn: String) =
      df.select(col(idCol).as(id), shingle(col(textCol)).as(shn))
        .groupBy(col(id)).agg(first(col(shn)).as(shn))
    pairs
      .join(sh(newDf, "new_id", "sh_a"), "new_id")
      .join(sh(histDf, "hist_id", "sh_b"), "hist_id")
      .withColumn("jaccard", jaccard_sim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("hist_id"), col("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: shingle → signature (row-local) → explode bands →
    * bucket by band hash → bounded intra-bucket pairs → exact Jaccard
    * verify on shingle sets → threshold. Returns (id_a, id_b, jaccard)
    * with id_a < id_b, deduplicated across buckets.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 128,
                   numBands: Int = 16, threshold: Double = 0.8,
                   charGrams: Boolean = false,
                   maxBucket: Int = 4096): DataFrame = {
    val shingle = (c: Column) =>
      if (charGrams) char_shingles(c, shingleSize) else word_shingles(c, shingleSize)
    // AGGREGATE BARRIER on the signatures: posexplode infers
    // size/isnotnull predicates over its child, and predicate
    // substitution inlines the whole shingle+minhash subtree into that
    // Filter — 3-5 evaluations per document. first() over the
    // doc-id group materializes the 16-long band array once per doc;
    // the extra shuffle carries 128 bytes/doc. (Empty docs yield null
    // bands — see MinHashBands — and drop out at the explode.)
    val signed = df.select(
        col(idCol).as("doc_id"),
        minhash_bands(shingle(col(textCol)), numHashes, numBands).as("bands"))
      .groupBy(col("doc_id")).agg(first(col("bands")).as("bands"))

    // Only (band_id, band_hash, id) shuffles for bucketing — the
    // signatures and shingles never leave their partition.
    val bucketed = signed
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    val pairs = boundedSelfPairs(bucketed, Seq("band_id", "band_hash"),
        "doc_id", maxBucket)
      .select(col("pair_a").as("id_a"), col("pair_b").as("id_b"))
      .distinct()

    // AGGREGATE BARRIER: the jaccard filter below becomes the join
    // condition after predicate pushdown; without a barrier Catalyst
    // inlines the Shingles expression into that condition and
    // re-tokenizes the document PER CANDIDATE PAIR (millions of times
    // for a hot bucket — observed 20+ min single-task on a 3k-dup
    // cluster). An Aggregate is a pushdown/inline fence: shingles
    // materialize exactly once per document on the build side.
    // (no size>0 filter needed: shingle-less docs never bucket, so the
    // inner join on pair ids cannot surface them — and the filter
    // would re-inline the Shingles expression it guards)
    // fenced (r18): the verify joins the shingle table once per pair
    // side — unfenced, the corpus re-tokenized twice
    val sh = fence(df.select(col(idCol).as("doc_id"),
        shingle(col(textCol)).as("shingles"))
      .groupBy(col("doc_id")).agg(first(col("shingles")).as("shingles")))
    pairs
      .join(sh.withColumnsRenamed(Map("doc_id" -> "id_a", "shingles" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "id_b", "shingles" -> "sh_b")), "id_b")
      .withColumn("jaccard", jaccard_sim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact substring-duplication coverage (the Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr metric, token-windowed): a position is
    * duplicated if some `window`-token span covering it occurs ≥ 2
    * times in the corpus (including self-repetition). Output per doc:
    * (doc_id, n_tokens, dup_tokens, dup_fraction) — the removal /
    * filtering signal; docs shorter than `window` score 0.
    *
    * Shape: every window hashes once (rolling windows over the
    * tokenized doc — the aggregate barrier keeps the token array from
    * re-splitting per position); the shuffle carries (hash, doc, pos)
    * triples — linear in corpus tokens, the same weight class as the
    * inverted-index ops; duplicated-window coverage per doc needs NO
    * interval fold: equal-length intervals union to
    * `window + Σ min(window, gap)` over consecutive duplicated
    * positions, one `lag` window per doc (a doc's windows are one
    * bounded partition). Hash equality stands in for string equality
    * (64-bit FNV-1a; collision odds negligible and both engines hash
    * identically, so the oracle still matches bit-for-bit).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window > 0)
    // aggregate barrier inside spanWindows: the token array
    // materializes once per doc so the per-position lambda references
    // an attribute, not the split() subtree (which CollapseProject
    // would inline per element)
    val (withN, wins) = spanWindows(df, idCol, textCol, window)
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("h"))
    val lagW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = wins.join(dupHashes, "h")
      .withColumn("prev", lag(col("pos"), 1).over(lagW))
      .select(col("doc_id"),
        when(col("prev").isNull, lit(window.toLong))
          .otherwise(least(lit(window.toLong), col("pos") - col("prev")))
          .as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).cast("long").as("dup_tokens"))
    withN.select(col("doc_id"), col("n"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n").cast("double")).as("dup_fraction"))
  }

  /** The removal ACTION for [[duplicateSpans]]: re-emit the corpus
    * with every token covered by a duplicated window dropped — the
    * ExactSubstr cleanup (this is the conservative variant that
    * removes ALL occurrences; [[removeDuplicateSpansKeepFirst]] is the
    * first-occurrence-keeping variant — the Lee et al. action proper).
    * Output: (doc_id, n_tokens, n_removed, clean_text).
    *
    * Shape: the duplicated-window decision is [[duplicateSpans]]'s
    * (hash, doc, pos) pipeline; the doc's duplicated positions come
    * back as ONE collected-list row per doc (bounded by doc length),
    * and the text surgery is row-local higher-order functions —
    * expand positions to covered indices, filter tokens by index,
    * re-join. No token ever shuffles; only (doc, positions).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           window: Int = 20): DataFrame = {
    require(window > 0)
    val (withN, wins) = spanWindows(df, idCol, textCol, window)
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("h"))
    val dupPos = wins.join(dupHashes, "h")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("dup_pos"))
    spanSurgery(withN, dupPos, window)
  }

  /** The Lee et al. removal action proper — keep ONE canonical copy:
    * for each duplicated window hash, the globally FIRST occurrence
    * (minimum (doc_id, pos)) keeps its tokens; every LATER occurrence
    * is removed. Unlike [[removeDuplicateSpans]] (which drops all
    * occurrences — conservative filtering), this preserves the
    * information content once, the actual training-data dedup action.
    * Output: (doc_id, n_tokens, n_removed, clean_text).
    *
    * Shape: identical weight class to [[removeDuplicateSpans]] — the
    * canonical occurrence per hash is one `min(struct(doc_id, pos))`
    * inside the SAME per-hash aggregate that counts occurrences (no
    * extra shuffle, no window function over the global occurrence
    * list), and the later-occurrence filter is a row-local struct
    * comparison after the hash join.
    */
  def removeDuplicateSpansKeepFirst(df: DataFrame, idCol: String,
                                    textCol: String,
                                    window: Int = 20): DataFrame = {
    require(window > 0)
    val (withN, wins) = spanWindows(df, idCol, textCol, window)
    val canon = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first_occ"))
      .filter(col("c") >= 2)
      .select(col("h"), col("first_occ"))
    val dupPos = wins.join(canon, "h")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first_occ"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("dup_pos"))
    spanSurgery(withN, dupPos, window)
  }

  /** Shared ExactSubstr prefix: (per-doc token arrays with lengths,
    * rolling `window`-token FNV-1a hashes as (doc_id, pos, h) rows).
    * The aggregate barrier keeps the token array from re-splitting per
    * position (see [[duplicateSpans]]).
    */
  private def spanWindows(df: DataFrame, idCol: String, textCol: String,
                          window: Int): (DataFrame, DataFrame) = {
    // Fences (r18): every caller references `wins` twice (dup-hash
    // count + coverage/position join) and `withN` once more (final
    // join / surgery) — unfenced, the tokenization AND the per-window
    // FNV rolling hash (O(tokens·window) chars, the expensive part)
    // replayed per reference.
    val base = df.select(col(idCol).as("doc_id"),
        Text.wsTokens(lower(trim(col(textCol)))).as("toks"))
      .groupBy(col("doc_id")).agg(first(col("toks")).as("toks"))
    val withN = fence(base.select(col("doc_id"), col("toks"),
      size(col("toks")).cast("long").as("n")))
    val wins = fence(withN.filter(col("n") >= window)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("n").cast("int") - window),
        i => HashFunctions.fnv1a_hash(
          concat_ws(" ", slice(col("toks"), i + 1, lit(window))))))
        .as(Seq("pos", "h"))))
    (withN, wins)
  }

  /** Shared removal surgery: expand each doc's removable window
    * positions to covered token indices (row-local HOFs), drop covered
    * tokens, re-join. Only (doc, positions) ever shuffles.
    */
  private def spanSurgery(withN: DataFrame, dupPos: DataFrame,
                          window: Int): DataFrame =
    withN.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"), col("n"),
        coalesce(col("dup_pos"), array().cast("array<int>")).as("dup_pos"))
      .select(col("doc_id"), col("toks"), col("n"),
        array_distinct(flatten(transform(col("dup_pos"),
          p => sequence(p, p + window - 1)))).as("covered"))
      .select(col("doc_id"),
        col("n").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("toks"),
          (_, i) => !array_contains(col("covered"), i))).as("clean_text"))

  /** Character n-grams — one-pass custom expression. */
  def charNgrams(text: Column, n: Int): Column = char_shingles(text, n)

  /** All unordered pairs (a < b) from an id array — SQL-level combinat-
    * orics so pair generation happens where the bucket lives.
    */
  def pairCombinations(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, size(sorted)), b =>
        struct(a.as("a"), b.as("b")))))
  }

  /** Candidate pairs within `maxHamming` bits over ANY 64-bit signature
    * column — the banding engine shared by [[simhashPairs]] (text) and
    * `Multimodal.nearDupMedia` (perceptual hashes): 4×16-bit band
    * blocking (pigeonhole-complete — two signatures within hamming k
    * MUST share a band when k < 4), bounded buckets, exact
    * bit_count(xor) verification. Input must already be one row per
    * (id, sig) — signature computation and its inline fencing belong
    * to the caller.
    */
  def hamming64Pairs(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val base = sigs.select(col(idCol).as("doc_id"), col(sigCol).as("sig"))
    val banded = base.select(
      struct(col("doc_id"), col("sig")).as("m"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("band_val"))): _*))
        .as("band"))
    boundedSelfPairs(banded, Seq("band"), "m", maxBucket)
      .select(col("pair_a.doc_id").as("id_a"), col("pair_a.sig").as("sig_a"),
        col("pair_b.doc_id").as("id_b"), col("pair_b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Cross-corpus variant of [[hamming64Pairs]]: batch signatures
    * against history signatures, NO intra-side pairs — the incremental
    * ingest-triage shape ([[crossMinhashPairs]]'s bounded A×B grid on
    * the 64-bit banding engine). Output: (batch_id, hist_id, hamming).
    */
  def crossHamming64Pairs(batch: DataFrame, history: DataFrame,
                          idCol: String, sigCol: String,
                          maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    def banded(df: DataFrame) = df.select(
      struct(col(idCol).as("doc_id"), col(sigCol).as("sig")).as("m"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col(sigCol), b * 16).bitwiseAND(lit(0xffffL)).as("band_val"))): _*))
        .as("band"))
    boundedCrossPairs(banded(batch), banded(history), Seq("band"), "m", maxBucket)
      .select(col("pair_a.doc_id").as("batch_id"), col("pair_a.sig").as("sig_a"),
        col("pair_b.doc_id").as("hist_id"), col("pair_b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("hist_id"), col("hamming").cast("int").as("hamming"))
  }

  /** SimHash near-duplicates: 64-bit signature, candidates via 4×16-bit
    * band blocking (two signatures within hamming distance k must share
    * a band when k < 4), verified with bit_count(xor) ≤ maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    // aggregate barrier: the 4 band structs below each reference `sig`;
    // without it the tokenize+simhash subtree inlines into every band
    // (5 evaluations per doc). 8 bytes/doc shuffle buys one-pass.
    val sigs = df.select(col(idCol).as("doc_id"),
        simhash64(split(lower(trim(col(textCol))), "\\s+")).as("sig"))
      .groupBy(col("doc_id")).agg(first(col("sig")).as("sig"))
    hamming64Pairs(sigs, "doc_id", "sig", maxHamming, maxBucket)
  }

  /** N-gram Jaccard similarity pairs: exact verification over character
    * trigram sets with MinHash-LSH candidate generation (the scale
    * path — brute-force pairing is quadratic and never runs).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.9): DataFrame =
    minhashPairs(df, idCol, textCol, shingleSize = n, threshold = threshold,
      charGrams = true)

  /** EXACT word-set Jaccard self-join by prefix filtering (SSJoin,
    * Chaudhuri et al. ICDE 2006; PPJoin length filter, Xiao et al.
    * WWW 2008): ALL pairs with Jaccard ≥ threshold, zero LSH miss
    * probability — the exact complement to [[minhashPairs]] for
    * corpora where recall must be provable.
    *
    * Completeness: two sets with J ≥ τ overlap in ≥ ⌈τ·|s|⌉ tokens,
    * so by pigeonhole the prefix holding each set's
    * |s| − ⌈τ·|s|⌉ + 1 globally RAREST tokens must contain at least
    * one shared token of any qualifying pair — equi-joining prefixes
    * yields a candidate SUPERSET, and the exact verify trims it.
    *
    * Scale shape: rarest-first ordering means prefix buckets are by
    * construction the smallest in the corpus — the frequent-token
    * floods that sink a naive token self-join never enter a prefix.
    * The length filter (min size ≥ τ·max size) and the PPJoin
    * positional filter (1 + min remaining tokens after the match must
    * reach the required overlap ⌈τ/(1+τ)·(|a|+|b|)⌉) prune candidates
    * before the distinct. Shuffles: token df count, df join back,
    * per-doc rank window, prefix self-join, verify join — all keyed,
    * no cartesian anywhere.
    *
    * Honest envelope: pruning power comes from vocabulary Zipf — on a
    * SMALL-vocabulary corpus (the synthetic testdata draws ~23-token
    * docs from a tiny word pool) nearly every pair shares a prefix
    * token and the exact join degrades to its true quadratic cost.
    * That is inherent to exactness, not the plan: use
    * [[minhashPairs]] at open-web scale and this operator where
    * recall must be provable on a bounded (filtered/blocked) corpus.
    * The contract is ENFORCED by `maxCandidates`: before the join
    * runs, Σ_w (prefix-postings choose 2) — an exact upper bound on
    * the candidate fan-out, computed from one small per-token count
    * (1-row collect, the documented bounded class) — must not exceed
    * it, else the operator fails LOUDLY naming the LSH escape route
    * instead of silently entering the quadratic regime.
    */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double,
                        maxCandidates: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    require(maxCandidates >= 1, s"maxCandidates=$maxCandidates")
    val words = (c: Column) =>
      array_remove(array_distinct(split(lower(trim(c)), "\\s+")), "")
    // Fences ([[Fences]], r18): `tok` feeds the df count AND the
    // prefix join-back (2 scan+explode replays unfenced); `prefix`
    // feeds the candidate-bound guard and BOTH sides of the self-join
    // (3 replays of the scan→explode→df-join→two-windows subtree)
    val tok = fence(df.select(col(idCol).as("doc_id"),
        explode(words(col(textCol))).as("w")))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))
    val wAll = Window.partitionBy(col("doc_id"))
    val prefix = fence(tok.join(freq, "w")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("sz", count(lit(1)).over(wAll))
      .filter(col("rn") <=
        col("sz") - ceil(col("sz").cast("double") * lit(threshold)) + 1)
      .select(col("w"), col("doc_id"), col("sz"), col("rn")))
    // candidate-count guard: the prefix self-join emits exactly
    // Σ_w c_w·(c_w−1)/2 rows before filters — decimal(38,0) so a
    // degenerate corpus can't overflow the bound itself
    val boundRow = prefix.groupBy(col("w"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      .agg(sum(col("c") * (col("c") - 1)).as("b")).collect().head
    val bound =
      if (boundRow.isNullAt(0)) java.math.BigDecimal.ZERO
      else boundRow.getDecimal(0).divide(java.math.BigDecimal.valueOf(2))
    if (bound.compareTo(java.math.BigDecimal.valueOf(maxCandidates)) > 0)
      throw new IllegalStateException(
        s"jaccardPrefixJoin: candidate upper bound $bound exceeds " +
          s"maxCandidates=$maxCandidates — the corpus vocabulary is too " +
          "small/uniform for exact prefix filtering (quadratic regime). " +
          "Use minhashPairs (LSH) at this scale, block/filter the corpus " +
          "first, or raise maxCandidates explicitly.")
    val cand = prefix.select(col("w"), col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(prefix.select(col("w"), col("doc_id").as("id_b"),
          col("sz").as("sz_b"), col("rn").as("rn_b")),
        Seq("w"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      // positional filter: overlap ≤ 1 + min(tokens after the match);
      // a true pair always survives at its FIRST shared prefix token
      .filter((lit(1L) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")))
        .cast("double") >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("sz_a") + col("sz_b")).cast("double")))
      .select(col("id_a"), col("id_b")).distinct()
    // aggregate barrier: token sets materialize once per doc, not per
    // candidate pair (same re-inlining hazard as minhashPairs);
    // fenced — the verify joins it once per pair side (r18)
    val sets = fence(df.select(col(idCol).as("doc_id"),
        words(col(textCol)).as("toks"))
      .groupBy(col("doc_id")).agg(first(col("toks")).as("toks")))
    cand
      .join(sets.withColumnsRenamed(Map("doc_id" -> "id_a", "toks" -> "tk_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "id_b", "toks" -> "tk_b")), "id_b")
      .withColumn("jaccard", jaccard_sim(col("tk_a"), col("tk_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT edit-distance self-join by positional q-gram prefix
    * filtering (Ed-Join, Xiao/Wang/Lin VLDB 2008; positional q-gram
    * count bound, Gravano et al. VLDB 2001): ALL pairs of strings
    * with levenshtein ≤ `maxDist` — the fuzzy-matching/record-linkage
    * complement to [[jaccardPrefixJoin]] (token sets) for corpora
    * where character-level edits matter (titles, URLs, names, OCR).
    *
    * Completeness: a string of length L has L−q+1 positional q-grams
    * and ONE edit destroys at most q of them, so d edits destroy
    * ≤ d·q — any pair within distance d shares ≥ L−q+1−d·q grams
    * whose positions differ by ≤ d. Order all grams by global
    * frequency (rarest first, ties by gram then position); since at
    * most d·q prefix grams can be destroyed, the first d·q+1 grams of
    * each string must contain one surviving shared gram of any
    * qualifying pair. Equi-joining the d·q+1-gram prefixes with the
    * |Δpos| ≤ d filter yields a candidate SUPERSET; the banded
    * `levenshtein(a, b, maxDist)` verify trims it exactly.
    *
    * Scale shape: the index carries d·q+1 grams per string no matter
    * how long the string is, and rarest-first ordering keeps prefix
    * buckets the smallest in the corpus — frequent-gram floods never
    * enter a prefix. The length filter (|len(a)−len(b)| ≤ d) prunes
    * before the verify, and the verify itself is Spark's threshold
    * levenshtein (banded DP, early exit past maxDist). Shuffles:
    * gram df count + join back, per-string rank window, prefix
    * self-join, verify join — all keyed, no cartesian anywhere.
    *
    * Contract: strings shorter than q·(maxDist+1) have no guaranteed
    * surviving gram (d edits can destroy every gram they own) and are
    * FILTERED OUT — callers wanting short strings should brute-force
    * that residue separately. Same bounded-corpus honesty note as
    * [[jaccardPrefixJoin]]: exactness is inherently quadratic on
    * corpora where every string shares its rare grams.
    *
    * Ids must be unique per string: exact duplicate (id, s) rows are
    * collapsed up front, but two DIFFERENT strings under one id fail
    * loudly — otherwise both strings' grams would enter one prefix
    * window and an arbitrary one would verify, yielding
    * nondeterministic distances/missed pairs.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist.
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist")
    require(q >= 1, s"q=$q")
    val k = q * maxDist + 1 // Ed-Join prefix length
    // Fences (r18, the jaccardPrefixJoin discipline): `s` feeds the
    // gram explode AND both verify-side joins, `grams` the gf count
    // and the prefix join-back, `prefix` both sides of the candidate
    // self-join — unfenced each reference replayed its whole subtree.
    // unique-id contract enforced before any gram enters the index
    val s = fence(df.select(col(idCol).as("doc_id"), col(strCol).as("s"))
      .filter(length(col("s")) >= q * (maxDist + 1))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(first(col("s")).as("_s"), count(lit(1)).as("_c"))
      .select(col("doc_id"),
        when(col("_c") > 1, raise_error(concat(
            lit("editDistanceJoin: conflicting strings under id "),
            col("doc_id").cast("string"))).cast("string"))
          .otherwise(col("_s")).as("s")))
    // positional q-grams, 0-based; one codegen'd pass per string
    val grams = fence(s.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, length(s) - $q), i -> substring(s, i + 1, $q))")))
      .select(col("doc_id"), col("pos"), col("col").as("g")))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("gf"))
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("gf"), col("g"), col("pos"))
    val prefix = fence(grams.join(freq, "g")
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= k)
      .select(col("g"), col("doc_id"), col("pos")))
    val cand = prefix.select(col("g"), col("doc_id").as("id_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("g"), col("doc_id").as("id_b"), col("pos").as("pos_b")),
        Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("pos_a") - col("pos_b")) <= maxDist)
      .select(col("id_a"), col("id_b")).distinct()
    // s is already one row per id (contract aggregate above), so it
    // joins back directly — strings materialize once per id, not per pair
    cand
      .join(s.select(col("doc_id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(s.select(col("doc_id").as("id_b"), col("s").as("s_b")), "id_b")
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .withColumn("dist", expr(s"levenshtein(s_a, s_b, $maxDist)").cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Cross-corpus segment-level dedup (the C4/RefinedWeb passage trick
    * at fixed granularity): each document splits into consecutive
    * `segTokens`-token chunks, and a chunk is kept only at its FIRST
    * occurrence corpus-wide — first by (doc_id, seg_idx). Boilerplate
    * passages repeated across documents (headers, license blocks,
    * navigation text) drop everywhere but once; `filter(keep)` +
    * per-doc reassembly yields the cleaned corpus.
    *
    * Scale shape: segmentation is row-local (one codegen'd pass per
    * document); the global first-occurrence decision groups by the
    * segment's sha-256 digest, so the shuffle carries 32 B + (id, idx)
    * per segment — never the text. Same digest-shuffle design as
    * [[exact]], at segment granularity.
    */
  def segments(df: DataFrame, idCol: String, textCol: String,
               segTokens: Int = 10): DataFrame = {
    require(segTokens > 0)
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val chunks = transform(
      sequence(lit(0),
        ceil(size(toks).cast("double") / segTokens).cast("int") - 1),
      i => concat_ws(" ", slice(toks, i * segTokens + 1, lit(segTokens))))
    // fenced (r18): segs feeds the keeper aggregate AND the join back —
    // unfenced, the tokenize+chunk+sha pass replayed twice
    val segs = fence(df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"), posexplode(chunks).as(Seq("seg_idx", "segment")))
      .select(col("doc_id"), col("seg_idx"), sha2(col("segment"), 256).as("seg_hash")))
    val keeper = segs.groupBy(col("seg_hash"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("k"))
    segs.join(keeper, "seg_hash")
      .select(col("doc_id"), col("seg_idx"),
        (col("doc_id") === col("k.doc_id") && col("seg_idx") === col("k.seg_idx"))
          .as("keep"))
  }

  /** Incremental (batch-vs-history) exact dedup: classify each new
    * document as `kept` (first of its content anywhere), `dup_batch`
    * (a smaller-id copy exists in the same batch), or `dup_history`
    * (the content is already in the historical corpus). This is the
    * ingest-time shape of dedup at 100 TB — the history never rescans;
    * only its digest set participates.
    *
    * Scale shape: both sides reduce to sha-256 digests before any
    * join; history collapses to distinct digests (one 32 B row per
    * distinct historical content), and the batch's first-of-digest
    * resolution is a digest-keyed aggregation. With a persisted digest
    * store (bucketed by digest) the history join is co-located and
    * shuffle-free.
    */
  def incremental(newDf: DataFrame, historyDf: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    // fenced (r18): fresh feeds the first-of-digest aggregate AND the
    // classification join — unfenced, the batch sha pass replayed twice
    val fresh = fence(newDf.select(col(idCol).as("doc_id"),
      sha2(col(textCol), 256).as("h")))
    val hist = historyDf.select(sha2(col(textCol), 256).as("h")).distinct()
      .withColumn("in_hist", lit(1))
    val firstInBatch = fresh.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    // LEFT joins so a null-text row (null digest: joins on h never
    // match) still gets classified — as "kept", matching SQL equality
    // semantics where NULL = NULL is not true, rather than silently
    // vanishing from the output.
    fresh.join(hist, Seq("h"), "left")
      .join(firstInBatch, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_hist").isNotNull, lit("dup_history"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_batch"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Bloom-prefiltered incremental exact dedup: classify each batch
    * document as `kept` or `dup_history` WITHOUT joining the whole
    * batch against the history. The history's distinct digests build a
    * Bloom filter (tree-aggregated, one filter per executor merged up),
    * the filter rides the plan as a row-local probe
    * ([[HashFunctions.bloom_might_contain]]), and only probe-positive
    * rows — true dups plus an fpp-fraction of false positives — reach
    * the confirming digest join. Probe-negative rows are DEFINITIVELY
    * new (a Bloom filter has no false negatives), so the result is
    * exact, not approximate.
    *
    * Scale shape: at ingest, batch ≪ history; the prefilter cuts the
    * join's probe side from |batch| to ≈ dups + fpp·|batch|, so the
    * shuffle carries almost nothing when the batch is mostly novel (the
    * common case). The filter costs n·log₂(1/fpp)·1.44 bits — ~1.2 GB
    * per 10⁹ digests at 1% — so it fits executor memory for bounded
    * histories; beyond that, fall back to the digest-store bucket join
    * ([[incremental]]) or shard the filter by digest prefix. Spark's
    * own runtime row-level bloom join (spark.sql.optimizer.runtime.
    * bloomFilter) applies the same idea planner-side; this operator
    * makes it explicit and reusable against a PERSISTED history.
    */
  def bloomIncremental(newDf: DataFrame, historyDf: DataFrame,
                       idCol: String, textCol: String,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    // fenced (r18): hist feeds the cardinality count, the filter
    // tree-aggregate AND the confirming join (3 sha-pass replays
    // unfenced)
    val hist = fence(historyDf.select(sha2(col(textCol), 256).as("h"))
      .distinct())
    // expectedItems from a count of the (digest-deduped) history — one
    // small extra job; a production digest store knows its cardinality
    val n = math.max(hist.count(), 1L)
    val bf = hist.rdd.treeAggregate(BloomFilter.create(n, fpp))(
      (f, row) => {
        f.putBinary(row.getString(0)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f
      },
      (a, b) => a.mergeInPlace(b))
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    // coalesce(false): a null-text row has a null digest, and a null
    // probe would be excluded by BOTH branch filters below — the row
    // would vanish instead of being classified. Null digests are
    // definitively "kept" (SQL equality: NULL never equals anything).
    val probe = HashFunctions.bloom_might_contain(col("h"), bos.toByteArray)
    // fenced (r18): both verdict branches filter this frame — unfenced,
    // the batch sha+probe pass replayed twice
    val flagged = fence(newDf.select(col(idCol).as("doc_id"),
        sha2(col(textCol), 256).as("h"))
      .withColumn("maybe", coalesce(probe, lit(false))))
    val pos = flagged.filter(col("maybe"))
      .join(hist.withColumn("in_hist", lit(1)), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_hist").isNotNull, lit("dup_history"))
          .otherwise(lit("kept")).as("status"))
    val neg = flagged.filter(!col("maybe"))
      .select(col("doc_id"), lit("kept").as("status"))
    pos.unionByName(neg)
  }

  /** Connected components over a near-dup pair list: every node gets
    * the MINIMUM id of its component as `label` — the canonical-doc
    * choice a dedup pipeline actually needs (pairs alone don't say
    * which copy to keep when dups chain a~b~c).
    *
    * Min-label propagation: each round every node takes the least of
    * its own label and its neighbors' labels; stop when a round
    * changes nothing. Near-dup components are verification-filtered
    * quasi-cliques, so diameter — and the round count — is small
    * (2-3); `maxIter` bounds the adversarial chain case. Each round
    * is one shuffle of (node, label) pairs — 16 bytes/edge — and the
    * edge list is persisted once. For graphs with genuinely large
    * diameters at 100 TB scale, swap in the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce");
    * dup clusters never need it.
    *
    * Input: (aCol, bCol) id pairs. Output: (id, label).
    */
  def components(pairs: DataFrame, aCol: String = "id_a",
                 bCol: String = "id_b", maxIter: Int = 25,
                 driverEdgeCap: Long = 1000000L): DataFrame = {
    // LINEAGE TRUNCATION, not persist-chains: each round references
    // `labels` twice (directly and inside the neighbor-min join), so a
    // lineage that nests round over round doubles the recompute per
    // round on any cache miss — observed as 2^iter blowup (110 s for a
    // 667-node graph) before an eager [[Fences.fence]] made every
    // round's result a storage-backed leaf.
    // both edge directions in ONE pass (explode, not union of two
    // selects over `pairs`): the union form references the caller's
    // pair derivation twice, replaying it twice inside this fence
    // (r18, guide §2.4: same rows, one scan)
    val sym = fence(pairs.select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
      .distinct())
    // COUNT-GATED hybrid: the edge list after near-dup verification is
    // O(duplicates), not O(corpus) — usually a few thousand pairs even
    // when the corpus is 100 TB. When the (counted, never assumed)
    // edge count fits comfortably on the driver, a single union-find
    // pass replaces 2-25 join+shuffle rounds: ~10 Spark jobs become 1
    // collect + 1 parallelize. Graphs above the cap (adversarial dup
    // floods — SkewBench's 50M-edge clique) take the distributed
    // min-label loop below, which never materializes edges anywhere.
    if (sym.count() <= 2L * driverEdgeCap) {
      val small = driverComponents(sym)
      if (small.isDefined) return small.get
    }
    var labels = fence(sym.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vl")).as("nl"))
      val next = fence(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          (col("nl") < col("label")).as("moved")))
      changed = next.filter(col("moved")).count()
      labels = next.drop("moved")
      iter += 1
    }
    labels
  }

  /** Driver-side union-find over a collected symmetric edge list —
    * the small-graph fast path of [[components]]. Path-compressed,
    * rank-unioned, then every node labeled with its component's
    * minimum id. Returns None when the id type has no natural order
    * we handle (caller falls back to the distributed loop).
    */
  private def driverComponents(sym: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idType = sym.schema("u").dataType
    val ord: Ordering[Any] = idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
      case _ => return None
    }
    val edges = sym.filter(col("u") < col("v")).collect()
    val parent = new java.util.HashMap[Any, Any]()
    val rank = new java.util.HashMap[Any, Int]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val (ru, rv) = (find(row.get(0)), find(row.get(1)))
      if (ru != rv) {
        val (cu, cv) = (rank.getOrDefault(ru, 0), rank.getOrDefault(rv, 0))
        if (cu < cv) parent.put(ru, rv)
        else if (cu > cv) parent.put(rv, ru)
        else { parent.put(rv, ru); rank.put(ru, cu + 1) }
      }
    }
    val nodes = edges.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
    val minOfRoot = new java.util.HashMap[Any, Any]()
    nodes.foreach { n =>
      val r = find(n)
      val cur = minOfRoot.get(r)
      if (cur == null || ord.lt(n, cur)) minOfRoot.put(r, n)
    }
    val rows = nodes.iterator.map(n => Row(n, minOfRoot.get(find(n)))).toSeq
    val schema = StructType(Seq(
      StructField("id", idType), StructField("label", idType)))
    Some(sym.sparkSession.createDataFrame(
      sym.sparkSession.sparkContext.parallelize(rows, 1), schema))
  }

  /** Cluster labeling over a whole corpus: near-dup components from
    * [[simhashPairs]] joined back to every document — singletons are
    * their own cluster — plus the keep/drop decision (keep = the
    * minimum-id member). This is the end-to-end dedup operator: feed
    * `filter(keep)` downstream and the corpus is near-dup-free.
    */
  def clusters(df: DataFrame, idCol: String, textCol: String,
               maxHamming: Int = 3): DataFrame = {
    val comp = components(simhashPairs(df, idCol, textCol, maxHamming))
    df.select(col(idCol).as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Canonical-copy selection: [[clusters]] keeps the minimum-id
    * member, which is the right tie-break but the wrong POLICY when
    * near-duplicates genuinely differ (truncated mirrors, stripped
    * boilerplate) — curation pipelines keep the RICHEST copy. One row
    * per cluster with the canonical member chosen by maximum
    * `sizeCol`, ties to the smaller id — a total order, so the choice
    * is deterministic under any partitioning.
    *
    * Scale shape: the argmax rides the cluster aggregate as a single
    * `max(struct(size, −id))` — lexicographic struct max, map-side
    * combined, no join-back or window pass over the corpus.
    */
  def canonical(df: DataFrame, idCol: String, textCol: String,
                sizeCol: String, maxHamming: Int = 3): DataFrame = {
    val cl = clusters(df, idCol, textCol, maxHamming)
    cl.join(df.select(col(idCol).as("doc_id"), col(sizeCol).as("_sz")),
        Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("_sz").as("_s"), (-col("doc_id")).as("_negid")))
          .as("_best"))
      .select(col("cluster_id"), col("n_docs"),
        (-col("_best._negid")).as("canonical_id"),
        col("_best._s").as("canonical_size"))
  }

  /** Duplicate-aware soft weights: instead of DROPPING near-dups,
    * weight every document by the inverse of its near-dup cluster
    * size — each cluster's total influence on a downstream training
    * mixture equals one document, but no variant is discarded (the
    * "soft dedup" curation policy: hard dedup loses the natural
    * frequency signal, raw counts over-weight boilerplate; 1/|C|
    * keeps both honest). Output: (doc_id, cluster_id, cluster_size,
    * weight = 1/cluster_size), weight a single IEEE division of an
    * exact integer so any two engines agree bit-for-bit.
    *
    * Scale shape: one cluster-size aggregate over [[clusters]]'
    * labels and one join back on cluster_id — both sides already key
    * on the label, so past the component computation this adds one
    * shuffle of (label, count) pairs.
    */
  def softWeights(df: DataFrame, idCol: String, textCol: String,
                  maxHamming: Int = 3): DataFrame = {
    // Fence the labels: `cl` is referenced twice below (sizes
    // aggregate + join-back), so an unfenced frame re-derives — and
    // re-CODEGENS — the whole simhash/components lineage per
    // reference (the kmvSetOps/kllMerge multi-reference trap). The
    // labels are (doc_id, cluster_id) pairs, so the fence costs one
    // tiny build.
    val cl = fence(clusters(df, idCol, textCol, maxHamming))
    val sizes = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cl.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** EXACT containment self-join (asymmetric overlap): all ordered
    * pairs with |tok(A) ∩ tok(B)| / |tok(A)| ≥ threshold — quote,
    * excerpt, and subset detection, where Jaccard fails by
    * construction (a 10-token quote of a 500-token article has
    * Jaccard ≈ 0.02 but containment 1.0). Complements
    * [[duplicateSpans]] (ordered substrings) with the order-free
    * set form.
    *
    * Completeness bound: if A is t-contained in B it misses at most
    * ⌊(1−t)·|A|⌋ of its tokens, so among A's ⌊(1−t)·|A|⌋+1 globally
    * RAREST tokens at least one appears in B — those form A's probe
    * prefix, joined against the full inverted index of the corpus.
    * Candidates are bounded by rare-token posting lists (the prefix
    * is rarest-first on purpose); a `|B| ≥ t·|A|` size filter prunes
    * before the exact verify. Same bounded-corpus caveat as
    * [[jaccardPrefixJoin]]: exactness is quadratic when the DATA is
    * (tiny shared vocabularies) — LSH is the open-web path — and the
    * same `maxCandidates` ENFORCEMENT: the probe×index fan-out bound
    * (Σ_w probe_w·index_w, one small per-token count) must stay
    * under the cap or the operator fails loudly before joining.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double,
                      maxCandidates: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    require(maxCandidates >= 1, s"maxCandidates=$maxCandidates")
    val words = (c: Column) =>
      array_remove(array_distinct(split(lower(trim(c)), "\\s+")), "")
    // Fences ([[Fences]], r18): `tok` feeds freq, probe, sizes AND
    // index (4 scan+explode replays unfenced); `probe`/`index` each
    // feed their candidate-bound aggregate and the probe×index join
    // (2 replays each of the window/join subtrees)
    val tok = fence(df.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("w")))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))
    val wAll = Window.partitionBy(col("doc_id"))
    // minimal overlap that passes the DOUBLE verify (ni/sz >= t as
    // IEEE doubles — a floor/ceil of t·sz can be off by one when t·sz
    // rounds across an integer, so probe the ceil's neighbors with
    // the verify's own predicate)
    def minOverlap(sz: Column): Column = {
      val c = ceil(lit(threshold) * sz.cast("double"))
      def ok(ni: Column) =
        ni.cast("double") / sz.cast("double") >= lit(threshold)
      when(ok(c - 1), c - 1).when(ok(c), c).otherwise(c + 1)
    }
    // probe keeps each token's global df: the index side has exactly
    // df(w) postings for w (it is the token table re-keyed), so the
    // candidate bound Σ_w probe_w·index_w equals ONE row-sum of df
    // over the probe — no per-token recount of either side (r18; the
    // old shape ran two groupBys and a join to rebuild numbers the
    // probe already carried)
    val probe = fence(tok.join(freq, "w")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("sz", count(lit(1)).over(wAll))
      .filter(col("rn") <= col("sz") - minOverlap(col("sz")) + 1)
      .select(col("w"), col("doc_id").as("id_a"), col("sz").as("sz_a"),
        col("df")))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz_b"))
    // single consumer after the bound rewrite — no fence needed; tok
    // (fenced) and its size aggregate derive it once inside the join
    val index = tok.join(sizes, "doc_id")
      .select(col("w"), col("doc_id").as("id_b"), col("sz_b"))
    // candidate-count guard: the probe×index join emits exactly
    // Σ_w probe_w·index_w = Σ_{probe rows} df(w) rows before filters
    val boundRow = probe
      .agg(sum(col("df").cast("decimal(38,0)")).as("b")).collect().head
    val bound =
      if (boundRow.isNullAt(0)) java.math.BigDecimal.ZERO
      else boundRow.getDecimal(0)
    if (bound.compareTo(java.math.BigDecimal.valueOf(maxCandidates)) > 0)
      throw new IllegalStateException(
        s"containmentJoin: candidate upper bound $bound exceeds " +
          s"maxCandidates=$maxCandidates — the corpus vocabulary is too " +
          "small/uniform for exact prefix filtering (quadratic regime). " +
          "Use minhashPairs (LSH) at this scale, block/filter the corpus " +
          "first, or raise maxCandidates explicitly.")
    val cand = probe.join(index, Seq("w"))
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= minOverlap(col("sz_a")))
      .select(col("id_a"), col("id_b")).distinct()
    // aggregate barrier: token sets materialize once per doc, not per
    // candidate pair (same re-inlining hazard as minhashPairs);
    // fenced — the verify joins it once per pair side (r18)
    val sets = fence(df.select(col(idCol).as("doc_id"),
        words(col(textCol)).as("toks"))
      .groupBy(col("doc_id")).agg(first(col("toks")).as("toks")))
    cand
      .join(sets.withColumnsRenamed(Map("doc_id" -> "id_a", "toks" -> "tk_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "id_b", "toks" -> "tk_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
          size(col("tk_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    * SIGMOD 1995): sort each block by a normalized key, compare every
    * row to its next `windowSize − 1` sort neighbors, verify by exact
    * token Jaccard. The classic record-linkage alternative to LSH
    * banding — deterministic, no hash geometry to tune, recall limited
    * to duplicates whose keys sort adjacently (prefix-stable edits;
    * complements [[minhashPairs]], which catches prefix-breaking
    * edits).
    *
    * Scale shape: one shuffle on `blockCol` + an in-partition sort;
    * the window emits ≤ (windowSize − 1) candidate pairs per row —
    * LINEAR in the corpus, never quadratic, with the verify math
    * row-local on the paired token arrays. Block by a coarser prefix
    * when a single block (language) outgrows a partition.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      keyLen: Int = 32,
      windowSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(windowSize >= 2 && keyLen >= 1 && threshold > 0)
    val norm = array_join(split(trim(lower(col(textCol))), "\\s+"), " ")
    // array_remove("") as in containmentJoin's words(): a blank or
    // whitespace-only document otherwise carries the single token
    // [""] and Jaccard-matches every other blank doc at 1.0
    val base = df.select(col(blockCol).as("_b"), col(idCol).as("_id"),
      substring(norm, 1, keyLen).as("_k"),
      array_remove(array_distinct(
        split(trim(lower(col(textCol))), "\\s+")), "").as("_toks"))
    val w = Window.partitionBy(col("_b")).orderBy(col("_k"), col("_id"))
    // windows first (a generator cannot host window expressions),
    // then the explode over plain columns
    val withLeads = (1 until windowSize).foldLeft(base) { (acc, j) =>
      acc.withColumn(s"_nbr$j",
        lead(struct(col("_id"), col("_toks")), j).over(w))
    }
    withLeads
      .withColumn("_nbr", explode(array(
        (1 until windowSize).map(j => col(s"_nbr$j")): _*)))
      .filter(col("_nbr").isNotNull)
      .withColumn("_ni",
        size(array_intersect(col("_toks"), col("_nbr._toks"))))
      .withColumn("_nu",
        size(col("_toks")) + size(col("_nbr._toks")) - col("_ni"))
      // two empty token sets (blank docs) have union 0: no pair, not
      // a 0/0 (ANSI division error / false jaccard-1.0 match)
      .withColumn("jaccard",
        when(col("_nu") > 0,
          col("_ni").cast("double") / col("_nu").cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("_id"), col("_nbr._id")).as("id_a"),
        greatest(col("_id"), col("_nbr._id")).as("id_b"),
        col("jaccard"))
  }

  /** Content-defined chunking (the FastCDC/LBFS idea at token
    * granularity): a chunk boundary falls AFTER any token whose
    * hash has its low `boundaryBits` bits zero, so expected chunk
    * length is 2^boundaryBits tokens and — the whole point versus
    * fixed windows — boundaries RESYNCHRONIZE after an insertion:
    * shifting a document's prefix only perturbs the chunks that
    * overlap the edit, and every later chunk hashes identically
    * again. Per chunk: its token count, content hash, how many
    * documents share that exact chunk, and the deterministic
    * keep-first verdict — the storage-level dedup layer under
    * [[segments]]' fixed windows.
    *
    * Scale shape: one posexplode + per-document window (the
    * sessionize shuffle), one (doc, chunk) aggregation, one
    * chunk-hash aggregation joined back by hash digest only — the
    * shuffles carry token rows and 8-byte digests, never documents.
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      boundaryBits: Int = 4): DataFrame = {
    require(boundaryBits >= 1 && boundaryBits <= 16,
      s"boundaryBits=$boundaryBits")
    val modulus = 1L << boundaryBits
    val toks = array_remove(split(trim(lower(col(textCol))), "\\s+"), "")
    val base = df.select(col(idCol).as("doc_id"), toks.as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("doc_id"),
        posexplode(col("_toks")).as(Seq("_pos", "_tok")))
    val bflag = when(
      pmod(splitmix64_hash(fnv1a_hash(col("_tok"))), lit(modulus)) === 0,
      lit(1L)).otherwise(lit(0L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = base
      .withColumn("_b", bflag)
      .withColumn("chunk_idx", coalesce(sum(col("_b")).over(w), lit(0L)))
    // fenced (r18): chunks feeds the sharing aggregate AND the join
    // back — unfenced, the tokenize+window+chunk-hash pipeline
    // replayed twice
    val chunks = fence(chunked.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        fnv1a_hash(array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ")).as("chunk_hash")))
    val share = chunks.groupBy(col("chunk_hash"))
      .agg(count_distinct(col("doc_id")).as("n_docs_sharing"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("_first"))
    chunks.join(share, "chunk_hash")
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_hash"), col("n_docs_sharing"),
        (struct(col("doc_id"), col("chunk_idx")) === col("_first"))
          .as("keep"))
  }

  // ---- winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003) ----

  /** The (doc_id, i, h, m) word-k-gram hash frame winnowing selects
    * from: gram index i is 1-based, m = #grams, h = FNV-1a of the
    * space-joined gram (signed 64-bit — selection compares in the
    * signed domain on both engines).
    */
  private def winnowGrams(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      x => x =!= "")
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) - lit(k - 1)).cast("long").as("m"),
        posexplode(expr(s"sequence(1, size(toks) - ${k - 1})")))
      .select(col("doc_id"), col("m"), col("col").cast("long").as("i"),
        fnv1a_hash(concat_ws(" ", slice(col("toks"), col("col"), lit(k))))
          .as("h"))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, §4): hash
    * every word k-gram, slide a window of `w` consecutive gram hashes,
    * and from each window select the MINIMUM hash, rightmost position
    * on ties — the paper's guarantee: any two documents sharing a
    * token run of length ≥ w+k−1 share at least one selected
    * fingerprint, while only ~2/(w+1) of all grams are kept. Output:
    * (doc_id, pos, h) distinct selected fingerprints. Documents
    * shorter than one full window winnow as a single window.
    *
    * Scale shape: gram hashing is row-local; the window expansion
    * replicates each gram into ≤ w window keys (constant w → linear),
    * and the per-window argmin is ONE map-side-combined aggregate —
    * min(struct(h, −i)) resolves the value and the rightmost tie in a
    * single pass, no join-back on the O(n·w) frame.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: k=$k w=$w")
    val grams = winnowGrams(df, idCol, textCol, k)
    val wins = grams.select(col("doc_id"), col("i"), col("h"),
      explode(expr(s"sequence(greatest(1L, i - ${w - 1}), " +
        s"least(i, greatest(1L, m - ${w - 1})))")).as("s"))
    wins.groupBy(col("doc_id"), col("s"))
      .agg(min(struct(col("h"), (-col("i")).as("ni"))).as("sel"))
      .select(col("doc_id"), (-col("sel.ni")).as("pos"),
        col("sel.h").as("h"))
      .distinct()
  }

  /** Localized winnowing matches: for every pair of documents sharing
    * a df-capped fingerprint, the gram POSITIONS of the shared
    * fingerprint on both sides — the "which spans matched" output a
    * plagiarism/excerpt report renders (each row pins a common
    * k-gram; runs of adjacent rows pin longer shared passages).
    * Output: (doc_a, doc_b, pos_a, pos_b, h), doc_a < doc_b.
    *
    * Scale shape: [[winnowPairs]]' posting discipline with positions
    * carried along — the df cap bounds every fingerprint's posting
    * list, AND pair generation goes through [[boundedSelfPairs]] (the
    * member is the (doc_id, pos) posting struct, so struct ordering
    * makes pair_a.doc_id ≤ pair_b.doc_id and the chunking caps
    * per-task work even under a hostile user-set `maxDf`); same-doc
    * position pairs are filtered after. Never corpus-quadratic, never
    * a single quadratic task.
    */
  def winnowSpans(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 8, maxDf: Int = 64): DataFrame = {
    require(maxDf >= 1, s"winnow: maxDf=$maxDf")
    val fps = fence(winnowFingerprints(df, idCol, textCol, k, w))
    val dfreq = fps.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // no fence here (r18): keep is referenced exactly once and
    // [[boundedSelfPairs]] fences its input itself — a second fence
    // would materialize the same posting table twice
    val keep = fps.join(dfreq.select(col("h")), "h")
      // the member struct leads with (doc_id, pos) so struct ordering
      // puts cross-doc pairs out as doc_a < doc_b; h rides along (it
      // is the bucket key, constant within a bucket, so it never
      // influences the ordering) purely so the output keeps it
      // without a join-back
      .select(col("h"),
        struct(col("doc_id"), col("pos"), col("h")).as("posting"))
    boundedSelfPairs(keep, Seq("h"), "posting", cap = 256)
      .filter(col("pair_a.doc_id") =!= col("pair_b.doc_id"))
      .select(col("pair_a.doc_id").as("doc_a"),
        col("pair_b.doc_id").as("doc_b"),
        col("pair_a.pos").as("pos_a"), col("pair_b.pos").as("pos_b"),
        col("pair_a.h").as("h"))
  }

  /** The df-capped history side of incremental winnowing triage: the
    * DISTINCT (h, hist_id) fingerprint postings of a reference corpus,
    * with fingerprints selected in more than `maxDf` history documents
    * excluded (boilerplate, [[winnowPairs]]' cap — computed on the
    * HISTORY ALONE, so arriving batches can never shift it and
    * per-batch verdicts stay batch-decomposable). Build once, persist
    * or write to storage, and feed every batch/micro-batch through
    * [[crossWinnowPairs]] — the winnowing analogue of
    * [[graft.streaming.StreamingOps.historyBucketTable]].
    */
  def winnowHistoryPostings(history: DataFrame, idCol: String,
                            textCol: String, k: Int = 4, w: Int = 8,
                            maxDf: Int = 64): DataFrame = {
    require(maxDf >= 1, s"winnow: maxDf=$maxDf")
    val fps = fence(
      winnowFingerprints(history, idCol, textCol, k, w)
        .select(col("doc_id").as("hist_id"), col("h")).distinct())
    val dfreq = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    fps.join(dfreq.select(col("h")), "h")
  }

  /** Incremental winnowing match of a batch against a FIXED history
    * posting table ([[winnowHistoryPostings]] output): (doc_id,
    * hist_id, n_shared) for every batch doc sharing ≥ `minShared`
    * df-capped fingerprints with a history doc — the arriving-data
    * twin of [[winnowPairs]], per-doc decomposable by construction
    * (a doc's fingerprints derive from its own text only and the
    * history is fixed, so verdicts over any batch split union to the
    * one-shot run — the `dedup_winnow_stream` gate row's law).
    *
    * Scale shape: batch fingerprints are one bounded aggregate over
    * the batch; the probe join meets ≤ maxDf history postings per
    * fingerprint (the cap lives in the posting table), so per-task
    * work is |batch fingerprints| × ≤ maxDf, never corpus-quadratic.
    */
  def crossWinnowPairs(batch: DataFrame, histPostings: DataFrame,
                       idCol: String, textCol: String, k: Int = 4,
                       w: Int = 8, minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"winnow: minShared=$minShared")
    val fps = winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col("doc_id"), col("h")).distinct()
    fps.join(histPostings.select(col("h"), col("hist_id")), "h")
      .groupBy(col("doc_id"), col("hist_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document winnowing match: unordered doc pairs sharing ≥
    * `minShared` selected fingerprints, with the shared count —
    * the copy/excerpt detector winnowing was built for, at posting
    * granularity instead of [[duplicateSpans]]' fixed chunks.
    * Fingerprints selected in more than `maxDf` documents are
    * boilerplate by definition and excluded (the standard posting cap
    * — without it one ubiquitous template k-gram yields quadratic
    * pairs corpus-wide).
    *
    * Scale shape: the (doc, h) posting list is fenced (model-sized);
    * the document-frequency cap bounds every bucket at maxDf, and
    * pair generation goes through [[boundedSelfPairs]] so even a
    * mis-set cap cannot put a quadratic bucket into one task. The
    * pair count shuffle carries (pair, 1) with map-side combine.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 8, minShared: Int = 2,
                  maxDf: Int = 64): DataFrame = {
    require(minShared >= 1 && maxDf >= 1,
      s"winnow: minShared=$minShared maxDf=$maxDf")
    val fps = fence(
      winnowFingerprints(df, idCol, textCol, k, w)
        .select(col("doc_id"), col("h")).distinct())
    val dfreq = fps.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // no fence (r18): single reference, boundedSelfPairs fences
    // its own input
    val keep = fps.join(dfreq.select(col("h")), "h")
    boundedSelfPairs(keep, Seq("h"), "doc_id", cap = 256)
      .groupBy(col("pair_a").as("doc_a"), col("pair_b").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
