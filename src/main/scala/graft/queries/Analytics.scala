package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Fences, Multimodal, Retrieval, Sampling, Similarity, Text, Urls}
import graft.streaming.StreamingOps

/** Training-data pipeline queries (dedup / similarity / text /
  * multimodal). EVERY query carries a DuckDB oracle: the directly
  * SQL-expressible ones as plain ANSI SQL, and the hash/LSH ones as
  * full algorithm replications in HUGEINT mod-2^64 arithmetic (FNV-1a,
  * splitmix64, SimHash bit votes, hyperplane buckets) — the operator
  * must EQUAL an independent implementation of its documented
  * algorithm, the strongest check an approximate operator can carry.
  */
object Analytics {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The constructed per-doc URL with deterministic case/port/utm/
    * param-order/fragment noise — shared by `dedup_url` and its
    * streaming twin; the oracle re-derives the canonical form from
    * this construction arithmetic in closed form. */
  /** The constructed URL mix for the url_filter gate: every fifth-ish
    * doc trips a different rule (bare-IP host, subdomain stuffing,
    * digit-heavy host, blocklist word, query stuffing past the length
    * cap), the rest are clean; the oracle rebuilds the identical mix,
    * so the hash-match exercises every rule, not a no-op. */
  private def gateUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id % 17 === 0,
      concat(lit("http://10.0.0."), (id % 250).cast("string"), lit("/raw")))
      .when(id % 13 === 0,
        concat(lit("https://a.b.c.d.e.f.example.com/deep/"),
          (id % 9).cast("string")))
      .when(id % 11 === 0,
        concat(lit("https://site"), id.cast("string"),
          lit("777888999.example.com/x")))
      .when(id % 7 === 0,
        concat(lit("https://ok.example.com/free-casino-poker/"),
          (id % 9).cast("string")))
      .when(id % 5 === 0,
        concat(lit("https://ok.example.com/page?q="), repeat(lit("x"), 3000)))
      .otherwise(concat(lit("https://www.example.com/articles/"),
        (id % 50).cast("string")))

  private def noisyUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(id % 2 === 0, lit("http")).otherwise(lit("HtTp")),
      lit("://"),
      when(id % 3 === 0, lit("www.site")).otherwise(lit("WWW.Site")),
      (id % 40).cast("string"), lit(".example.COM"),
      when(id % 4 === 0, lit(":80")).otherwise(lit("")),
      lit("/p/"), (id % 25).cast("string"),
      when(id % 2 === 0, lit("?a=1&b=2&utm_source=feed"))
        .otherwise(lit("?b=2&utm_campaign=x&a=1")),
      when(id % 5 === 0, concat(lit("#sec"), id.cast("string")))
        .otherwise(lit("")))

  /** The constructed per-doc HTML page wrapping the raw text: title/
    * heading/body text to KEEP, style+script blocks (with `<`
    * comparisons inside) and a comment to REMOVE with content, nested
    * tags to strip to spaces, and every supported entity — including
    * the `&amp;lt;` trap whose correct decode is `&lt;` (amp LAST,
    * never double-decoded). Shared by `text_strip_html` and its
    * streaming twin; the oracle re-derives the clean text from this
    * construction in closed form. */
  private def noisyHtml(id: org.apache.spark.sql.Column,
                        text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("<html lang=\"en\"><head><title>d"), id.cast("string"),
      lit("</title><style>p { color: red }</style>" +
        "<script>var x = 1; if (x < 2) { x = 2; }</script></head>" +
        "<body><h1>Doc "), id.cast("string"),
      lit("</h1>\n<p>"), text,
      lit("</p><!-- note "), id.cast("string"),
      lit(" --> <b>AT&amp;T</b> &lt;tag&gt; &nbsp;&quot;q&#39;s&quot; " +
        "&amp;lt;</body></html>"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming exact-dedup twin (exactDedupSink): the content-hash
    // registry min/sum-merged across two micro-batches — both merge
    // laws are order-insensitive, so the final state must equal the
    // one-shot batch vote. Oracle = dedup_exact's verbatim.
    "dedup_exact_stream" -> ((s, dir) => {
      val state = Fences.tempDir("dedup_exact_stream")
      Twins.twoBatch(s, t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.exactDedupSink(state, "doc_id", "text")))
      s.read.parquet(s"$state/batch=1")
        .select(col("keep_id"), col("dup_count"))
    }),

    // URL canonicalization dedup: the crawl-store first pass. The test
    // corpus carries no URLs, so the gate row constructs one per doc
    // with deterministic case/port/utm/param-order/fragment noise —
    // the oracle builds the IDENTICAL input but derives the canonical
    // form from the construction arithmetic in closed form, so the
    // hash match proves the parser inverts every noise dimension.
    // RefinedWeb-style URL gate (Penedo et al. 2023 §3.1): the
    // zero-bytes-fetched filter — length cap, subdomain-dot cap,
    // digit-heavy hosts, bare-IP hosts, blocklist words. Constructed
    // URL mix trips every rule; row-local, integer counts + one
    // division per ratio — bit-exact replay.
    "url_filter" -> ((s, dir) =>
      Urls.urlFilter(t(s, dir, "documents")
          .select(col("doc_id"), gateUrl(col("doc_id")).as("url")),
        "doc_id", "url", blockWords = Seq("casino", "poker"))),

    // Streaming URL-gate twin (rowLocalSink): every signal reads only
    // the row's own URL — batch-decomposable by construction. Oracle
    // = url_filter's verbatim.
    "url_filter_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents")
        .select(col("doc_id"), gateUrl(col("doc_id")).as("url"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Urls.urlFilter(b, "doc_id", "url",
          blockWords = Seq("casino", "poker")))
    }),

    "dedup_url" -> ((s, dir) =>
      Urls.dedupByCanonical(
          t(s, dir, "documents")
            .select(col("doc_id"), noisyUrl(col("doc_id")).as("url")),
          "doc_id", "url")
        .select(col("doc_id"), col("url"), col("canonical_url"),
          col("keep"))),

    // Streaming URL-dedup twin: the same constructed corpus streamed
    // in two micro-batches through the urlDedupSink — appended rows
    // joined to the final min-merged state must equal the one-shot
    // batch vote (canonicalization is row-local; min is
    // order-insensitive). Oracle = the dedup_url closed form.
    "dedup_url_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents")
        .select(col("doc_id"), noisyUrl(col("doc_id")).as("url"))
      val base = Fences.tempDir("url_stream")
      Twins.twoBatch(s, input, col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.urlDedupSink(
          s"$base/rows", s"$base/state", "doc_id", "url")))
      val state = s.read.parquet(s"$base/state/batch=1")
      s.read.parquet(s"$base/rows/b*")
        .join(state, "canonical_url")
        .select(col("doc_id"), col("url"), col("canonical_url"),
          (col("doc_id") === col("keep_id")).as("keep"))
    }),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 128, numBands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"))),

    // Product-quantization ANN: m=8 subspaces x 16 seeded centroids,
    // asymmetric-distance top-5. The oracle replays codebook seeding,
    // per-subspace argmin encoding, and the j-ordered ADC fold — the
    // full PQ pipeline hash-checked end to end.
    "sim_topk_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, m = 8, ksub = 16)
    }),

    // BPE merge training, 3 rounds over word-level symbols: per round
    // one pair-count shuffle + a 1-row argmax + a row-local rewrite.
    // The oracle unrolls all three rounds (count -> argmax -> list
    // comprehension rewrite), so the hash match proves the whole
    // train loop — adopted pairs AND their counts — end to end.
    "text_bpe_train" -> ((s, dir) =>
      Text.bpeTrain(t(s, dir, "documents"), "doc_id", "text", rounds = 3)
        .select(col("round").cast("long").as("round"), col("sym_a"),
          col("sym_b"), col("pair_count"))),

    // The ENCODE side: train 3 merges, apply them corpus-wide, emit
    // the resulting vocabulary (merged symbols keep their space-joined
    // spelling). The oracle re-derives the merges itself via the same
    // unrolled rounds and counts the round-3 corpus — so the hash
    // match proves train AND apply agree end to end.
    "text_bpe_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Text.bpeTrain(docs, "doc_id", "text", rounds = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Text.bpeApply(docs, "doc_id", "text", merges)
    }),

    // Per-doc BPE segmentation: the same 3 trained merges applied as
    // a per-record TOKENIZER — (doc_id, n_tokens, U+001F-joined
    // tokens). Strictly stronger than the vocab-count row: the oracle
    // replays the unrolled train rounds and compares every document's
    // full token sequence.
    "text_bpe_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Text.bpeTrain(docs, "doc_id", "text", rounds = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Text.bpeSegment(docs, "doc_id", "text", merges)
    }),

    // Per-language tokenizer fertility (Ács 2019; Rust et al. 2021):
    // tokens/word + chars/token of the same 3 trained merges — the
    // oracle replays the unrolled train rounds, the doc join, and the
    // two rounded ratios.
    "text_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Text.bpeTrain(docs, "doc_id", "text", rounds = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Text.bpeFertility(docs, "doc_id", "text", "lang", merges)
    }),

    // Containment join (quote detection): every 20th doc contributes
    // a 10-token excerpt; the probe-prefix + inverted-index plan must
    // recover each excerpt→source pair EXACTLY (oracle = brute-force
    // all-pairs containment on the bounded corpus).
    "dedup_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 800)
      val quotes = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 10),
            " ").as("text"))
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(quotes)
      Dedup.containmentJoin(corpus, "doc_id", "text", threshold = 0.8)
    }),

    // Sorted-neighborhood blocking: the corpus gets tail-mutated
    // copies (prefix-stable, so they sort adjacently), and the window
    // sweep must find them. Fully deterministic — the oracle replays
    // the sort, the leads, and the token-Jaccard verify.
    "dedup_sorted_nbr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dups = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"), col("lang"))
      val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
        .unionByName(dups)
      Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text", "lang",
        keyLen = 32, windowSize = 3, threshold = 0.5)
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),

    // end-to-end dedup: near-dup components (SimHash pairs → min-label
    // connected components) + the keep/drop decision per document
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),

    // Canonical-copy selection per near-dup cluster: keep the RICHEST
    // member (max n_chars, tie to smaller id) via a single
    // max(struct(size, -id)) cluster aggregate — the curation policy
    // layer on top of dedup_clusters. The oracle nests the full
    // clusters closure and picks the canonical row by join-back (an
    // independent argmax formulation).
    "dedup_canonical" -> ((s, dir) =>
      Dedup.canonical(t(s, dir, "documents"), "doc_id", "text",
        "n_chars", maxHamming = 3)),

    // Soft dedup: 1/cluster_size training weights instead of a
    // keep/drop verdict — no document discarded, each near-dup
    // cluster's total mixture influence = one document. Oracle nests
    // the clusters closure and re-counts per label.
    "dedup_softweight" -> ((s, dir) =>
      Dedup.softWeights(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),

    // char-5-grams: 3-grams of a small shared vocabulary are near-
    // universal across documents (every pair becomes an LSH candidate);
    // 5-grams restore selectivity at the same shingling cost
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 5, threshold = 0.8).select(col("id_a"), col("id_b"))),

    // EXACT Jaccard join (prefix filtering): provable recall, oracle
    // is the brute-force all-pairs — the operator must find exactly
    // the pairs the quadratic scan finds. Corpus bounded to the first
    // 1000 doc ids (a no-op at sf0.01): the synthetic small-vocab
    // corpus defeats prefix pruning by construction, and the exact
    // join's contract is bounded/blocked corpora (see Scaladoc).
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPrefixJoin(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.6)),

    // EXACT edit-distance join (Ed-Join positional q-gram prefixes):
    // fuzzy record linkage on 48-char title keys, oracle is the
    // brute-force all-pairs levenshtein scan. Same bounded-corpus
    // contract as dedup_jaccard_prefix (exactness is quadratic on
    // adversarially-uniform corpora; block first at open-web scale).
    "dedup_editdist" -> ((s, dir) =>
      Dedup.editDistanceJoin(
        t(s, dir, "documents").filter(col("doc_id") < 400)
          .select(col("doc_id"), substring(col("text"), 1, 48).as("s")),
        "doc_id", "s", maxDist = 3)),

    // the DEFAULT embedding near-dup entry point: method="auto" routes
    // by threshold (chooseGeometry) — at cos 0.4 that is the IVF
    // geometry (linear at constant density), NOT the LSH whose
    // L/2^k random-collision floor is quadratic at low thresholds
    // (the round-7 measured wall). A user calling the default at any
    // threshold now gets the scale-safe geometry automatically.
    "dedup_embedding" -> ((s, dir) =>
      Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, method = "auto", nlist = -1, nassign = 2)
        .select(col("id_a"), col("id_b"))),

    // the explicit low-threshold LSH regime — a deliberate opt-in
    // (auto would never choose it at cos 0.4); keeps the full
    // hyperplane-LSH machinery under its independent HUGEINT oracle
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, method = "lsh")
        .select(col("id_a"), col("id_b"))),

    // the constant-density scale path (PERF round-7: hyperplane LSH at
    // cos 0.4 has a ~L/2^k random-collision floor ⇒ quadratic
    // candidates at any duplicate density; IVF cells scale with nlist).
    // nlist = -1 ⇒ max(8, ceil(n/25)) derived from the corpus — the
    // oracle computes the SAME formula, so the row stays hash-green
    // at every SF while the bench exercises the real nlist∝n path.
    "dedup_embedding_ivf" -> ((s, dir) =>
      Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, method = "ivf", nlist = -1, nassign = 2)),

    // Approximate kNN graph: per-vector top-5 by cosine among the
    // same derived-nlist IVF candidates — the oracle replays cells,
    // candidate pairs, exact-fold cosines AND the (cos desc, nbr asc)
    // rank, so the whole graph is hash-checked.
    "sim_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 5, nlist = -1, nassign = 2)
        .select(col("node"), col("nbr"), col("cos_sim"),
          col("rank").cast("long").as("rank"))),

    // Out-of-vocabulary rate of odd-id docs against the even-id
    // training vocabulary (count >= 2): the coverage screen before
    // trusting a tokenizer on a new drop.
    "text_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.analytics.Text.oovRate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", minCount = 2)
    }),

    "sim_topk_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // nprobe = nlist: every centroid cell is probed, so the IVF search
    // is exact by construction and the brute-force oracle applies.
    // AnalyticsSpec keeps measuring recall at the production nprobe=4.
    "sim_topk_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // ANN over the int8-quantized store: integer dot products rescaled
    // by the per-vector scales — every step exact or fixed-order IEEE,
    // so the oracle replicates normalize → quantize → score → rank
    "sim_topk_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    }),

    // top principal component by the EXACT integer power iteration
    // (quantize → long dot folds → decimal(38,0) direction sums →
    // integer iterate): no rounding tolerance anywhere, the oracle
    // replays the same three rounds bit-for-bit
    "sim_pca" -> ((s, dir) =>
      Similarity.pcaTopComponent(t(s, dir, "embeddings"),
        "vec_id", "embedding", iterations = 3)),

    // per-vector projection onto that component — the exact integer
    // dot of the centered row with the final iterate, one descale
    "sim_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", iterations = 3)),

    // ABTT residual: the centered vectors with the common direction
    // removed — each coordinate ONE exact integer numerator over a
    // fixed denominator, zero tolerance like the pca rows
    "sim_pca_residual" -> ((s, dir) =>
      Similarity.pcaResidual(t(s, dir, "embeddings"),
        "vec_id", "embedding", iterations = 3)),

    // int8 quantization, exploded to scalar rows for the exact compare
    "sim_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode(col("qvec")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("scale"), col("dim").cast("long").as("dim"),
          col("q"))),

    // spherical k-means assignment to 8 deterministic seed centroids
    "sim_cluster_assign" -> ((s, dir) =>
      Similarity.clusterAssign(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)),

    // SemDeDup: 8 seeded clusters, within-cluster cosine >= 0.4 edges,
    // connected components, keep = the minimum-id member per component
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, threshold = 0.4)),

    "text_tokens" -> ((s, dir) =>
      Text.tokenCounts(t(s, dir, "documents"), "doc_id", "text")),

    // signed hashing-trick features (dim 256): fnv1a bucket, splitmix
    // sign bit — vocabulary-free fixed-width featurization; the
    // oracle replays both hash chains in HUGEINT.
    "text_hashing" -> ((s, dir) =>
      Text.hashingTrick(t(s, dir, "documents"), "doc_id", "text",
        dim = 256)),

    "text_quality" -> ((s, dir) =>
      Text.qualityScore(t(s, dir, "documents"), "doc_id", "text")),

    // Gopher rules (Rae et al. 2021 table A1): the NAMED heuristic
    // filter set with the paper's thresholds — raw signals + one
    // boolean per rule + the conjunction. Row-local; the oracle
    // replays every integer count and the single double division per
    // ratio bit-exactly.
    "text_gopher" -> ((s, dir) =>
      Text.gopherRules(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming Gopher-rules twin (rowLocalSink): every signal reads
    // only the row's own tokens/lines — batch-decomposable by
    // construction. Oracle = text_gopher's verbatim.
    "text_gopher_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.gopherRules(b, "doc_id", "text"))
    }),

    // C4 cleanup rules (Raffel et al. 2020 §2.2 + released c4_utils
    // defaults): line retention (terminal punct, >=5 words, no
    // javascript/policy notice), page verdicts (sentences, lorem,
    // brace, badwords), and the cleaned text. Row-local; the oracle
    // replays every line predicate, the newline re-join, and the
    // sentence count bit-exactly.
    "text_c4" -> ((s, dir) =>
      Text.c4Rules(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming C4 twin (rowLocalSink): every signal reads only the
    // row's own lines — batch-decomposable by construction. Oracle =
    // text_c4's verbatim.
    "text_c4_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.c4Rules(b, "doc_id", "text"))
    }),

    // FineWeb line-shape heuristics (Penedo et al. 2024 §3.6): the
    // three filters FineWeb adds after C4/Gopher — terminal-punct
    // line fraction, duplicated-line character mass, short-line
    // fraction. Row-local; integer counts + single double divisions,
    // so the oracle replays every fraction bit-exactly.
    "text_fineweb" -> ((s, dir) =>
      Text.finewebRules(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming FineWeb twin (rowLocalSink): every signal reads only
    // the row's own lines — batch-decomposable by construction.
    // Oracle = text_fineweb's verbatim.
    "text_fineweb_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.finewebRules(b, "doc_id", "text"))
    }),

    // Streaming token-count twin (rowLocalSink): whitespace + BPE-ish
    // regex counts read only the row — batch-decomposable by
    // construction. Oracle = text_tokens' verbatim.
    "text_tokens_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.tokenCounts(b, "doc_id", "text"))
    }),

    // Streaming quality-scoring twin: row-local features are
    // batch-decomposable by construction — the appended union over a
    // two-batch split must equal the one-shot batch run. Oracle = the
    // text_quality oracle verbatim.
    "text_quality_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.qualityScore(b, "doc_id", "text"))
    }),

    "text_langid" -> ((s, dir) =>
      Text.langId(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming language-ID twin (rowLocalSink): the bigram-profile
    // score reads only the row, so the appended union over a
    // two-batch split equals the one-shot batch run. Oracle =
    // text_langid's replicated bigram-overlap SQL verbatim.
    "text_langid_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.langId(b, "doc_id", "text"))
    }),

    "text_fingerprint" -> ((s, dir) =>
      Text.fingerprint(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming normalization twin (rowLocalSink): the Unicode/
    // whitespace cleanup reads only the row. Oracle =
    // text_normalize's verbatim.
    "text_normalize_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.normalize(b, "doc_id", "text"))
    }),

    // Streaming chunking twin (rowLocalSink): the overlapping-window
    // split explodes each row independently — one input row's chunks
    // never depend on another row, so the appended union over a
    // two-batch split equals the one-shot batch run. Oracle =
    // text_chunk's verbatim.
    "text_chunk_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.chunk(b, "doc_id", "text",
          chunkTokens = 50, overlap = 10))
    }),

    "text_vocab" -> ((s, dir) =>
      Text.vocab(t(s, dir, "documents"), "text", minCount = 5)),

    // per-language token leaderboard (WindowGroupLimit partial top-k
    // below the exchange — the mixture-design profiling view)
    "text_top_tokens" -> ((s, dir) =>
      Text.topTokensPerGroup(t(s, dir, "documents"), "lang", "text", k = 5)),

    // deterministic 25% sample — same rows every run for seed 7
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.25, seed = 7)
        .select(col("doc_id"))),

    // Streaming PII-redaction twin (rowLocalSink): redaction and the
    // per-category counts read only the row. Same constructed contact
    // tail as the batch row (the corpus carries no real PII); oracle =
    // text_pii's.
    "text_pii_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1 or +1-555-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")).as("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.piiRedact(b, "doc_id", "text"))
    }),

    // Streaming fingerprint twin (rowLocalSink): the rolling hash is
    // row-local. Oracle = text_fingerprint's.
    "text_fingerprint_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.fingerprint(b, "doc_id", "text"))
    }),

    // Streaming hash-gate twin: the splitmix bucket filter reads only
    // the row's id, so the appended kept-set over a two-batch split
    // must equal the one-shot sample. Oracle = the sample_hash replay.
    "sample_hash_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Sampling.hashSample(b, "doc_id", 0.25, seed = 7)
          .select(col("doc_id")))
    }),

    // Poisson bootstrap: 3 deterministic resampled estimates of the
    // events value total in ONE scan (per-row Poisson(1) weights from
    // the hash lane — no materialized resamples). The oracle replays
    // the splitmix chain per (row, replicate) and the same integer
    // inverse-CDF thresholds.
    "sample_bootstrap" -> ((s, dir) =>
      Sampling.poissonBootstrap(t(s, dir, "events"), "event_id", "value",
          replicates = 3, seed = 7)
        .select(col("replicate").cast("long").as("replicate"),
          col("n_orig"), col("n_resampled"), col("sum_value"))),

    // leakage-free 80/10/10 split: ALL of a user's events land in the
    // same split (group-hash, not row-i.i.d.)
    "sample_split_group" -> ((s, dir) =>
      Sampling.groupSplit(t(s, dir, "events"), "user_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed = 7)
        .select(col("event_id"), col("user_id"), col("split"))),

    // deterministic global interleave order for training reads
    "sample_interleave" -> ((s, dir) =>
      Sampling.interleave(t(s, dir, "documents"), "doc_id", seed = 7)),

    // contrastive negatives: 4 pseudo-random bucket-representative
    // partners per doc, re-derivable from (id, seed); corpus never
    // shuffles (broadcast rep join). Oracle replays both splitmix64
    // chains and the rep election.
    "sample_negatives" -> ((s, dir) =>
      Sampling.negativeSample(t(s, dir, "documents"), "doc_id",
        k = 4, bucketBits = 6, seed = 7)),

    // weight-proportional sample without replacement (A-Res, log
    // domain): longer documents proportionally more likely; keys are
    // bit-exact (ln correctly rounded in both engines)
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 200, seed = 7)
        .select(col("doc_id"), col("samp_key"))),

    // greedy sequence packing into 512-token context windows over the
    // interleaved order (8 parallel packing streams)
    "sample_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      Sampling.packSequences(withTokens, "doc_id", "n_tokens",
        budget = 512, streams = 8, seed = 7)
    }),

    "text_normalize" -> ((s, dir) =>
      Text.normalize(t(s, dir, "documents"), "doc_id", "text")),

    // HTML → text extraction (the WET stage): the corpus carries no
    // markup, so the gate row wraps each doc in a deterministic page
    // skeleton — title/heading text, style+script blocks WITH
    // angle-bracket content, a comment, nested tags, and every
    // supported entity including the &amp;lt; double-decode trap. The
    // oracle derives the clean text from the construction arithmetic
    // in closed form, so the hash match proves removal, keep, decode
    // ORDER, and whitespace collapse all at once.
    "text_strip_html" -> ((s, dir) =>
      Text.stripHtml(
        t(s, dir, "documents").select(col("doc_id"),
          noisyHtml(col("doc_id"), col("text")).as("text")),
        "doc_id", "text")),

    // Streaming strip-html twin (rowLocalSink): the extraction reads
    // only the row. Oracle = text_strip_html's verbatim.
    "text_strip_html_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.stripHtml(
          b.select(col("doc_id"),
            noisyHtml(col("doc_id"), col("text")).as("text")),
          "doc_id", "text"))
    }),

    // model-based quality classification: hashed unigram+bigram linear
    // model, weights derived from seed 42 — deterministic, so the
    // oracle replays fnv1a + splitmix64 + the sequential IEEE fold
    // TRAINED Naive-Bayes classifier, train side: label-conditional
    // add-one log-odds per token (label = lang == 'en', the
    // reference-vs-rest shape of a CCNet-style quality filter). The
    // oracle replays the grouped counts, totals, and the exact
    // division/ln order.
    "text_nb_train" -> ((s, dir) =>
      Text.nbTrain(
        t(s, dir, "documents").withColumn("_lab", col("lang") === "en"),
        "doc_id", "text", "_lab")),

    // NB score side: prior + idx-ordered IEEE fold of each doc's
    // occurrences' log-odds (train and score composed in one plan —
    // the model is vocabulary-sized and broadcast).
    "text_nb_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("_lab", col("lang") === "en")
      Text.nbScore(docs, "doc_id", "text",
        Text.nbTrain(docs, "doc_id", "text", "_lab"),
        Text.nbPrior(docs, "_lab"))
    }),

    // Streaming NB-scoring twin (the link_jw_stream precedent):
    // scoring against a FIXED parquet model is per-doc — each input
    // row yields its verdict from its own tokens plus the static
    // model/prior, so the appended union over a two-batch split
    // equals the one-shot run. Train once (batch), persist the model
    // to parquet, score forever. Oracle = text_nb_score's verbatim.
    "text_nb_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("_lab", col("lang") === "en")
      val modelDir = Fences.tempDir("nb_model")
      Text.nbTrain(docs, "doc_id", "text", "_lab")
        .write.mode("overwrite").parquet(s"$modelDir/model")
      Text.nbPrior(docs, "_lab")
        .write.mode("overwrite").parquet(s"$modelDir/prior")
      val model = s.read.parquet(s"$modelDir/model")
      val prior = s.read.parquet(s"$modelDir/prior")
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.nbScore(b, "doc_id", "text", model, prior))
    }),

    // pairwise Jensen–Shannon divergence between the language slices'
    // unigram distributions (Lin 1991) — the mixture-design
    // domain-shift profile; token-ordered IEEE fold per pair,
    // compared at 9 decimals (the text_collocations precedent:
    // Math.log and glibc ln disagree by 1 ulp on ~0.1% of arguments —
    // hit at sf0.1 — and the quantization absorbs it)
    "text_divergence" -> ((s, dir) =>
      Text.jsDivergence(t(s, dir, "documents"), "lang", "text")
        .select(col("stratum_a"), col("stratum_b"), col("n_common"),
          round(col("jsd"), 9).as("jsd"))),

    // Streaming divergence twin (stratumCountSink): the stratum-keyed
    // token counts sum-merged across two micro-batches, the JSD tail
    // computed from the committed state — the live drift monitor.
    // Sum-merge is order-insensitive, so the state equals the one-shot
    // aggregate and the batch oracle applies verbatim.
    "text_divergence_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val state = Fences.tempDir("divergence_stream")
      Twins.twoBatch(s, input, col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.stratumCountSink(state, "lang", "text")))
      Text.jsDivergenceFromCounts(s.read.parquet(s"$state/batch=1"))
        .select(col("stratum_a"), col("stratum_b"), col("n_common"),
          round(col("jsd"), 9).as("jsd"))
    }),

    // stupid-backoff trigram LM (Brants et al. 2007), trained on the
    // English slice: every model score is ONE division of exact counts
    // with literal ×0.4 backoff products in a fixed association order
    "text_sbo_train" -> ((s, dir) =>
      Text.sboTrain(t(s, dir, "documents").filter(col("lang") === "en"),
        "doc_id", "text")),

    // SBO score side: ALL docs against the en-trained model — the
    // cross-lang rows hit the backoff branches; per-doc idx-ordered
    // IEEE fold of −ln S (train and score composed in one plan)
    "text_sbo_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Text.sboScore(docs,
        Text.sboTrain(docs.filter(col("lang") === "en"), "doc_id", "text"),
        "doc_id", "text")
    }),

    // Streaming SBO twin: the en-trained model is a FIXED batch frame
    // (train once, score forever — the deployment shape); each
    // micro-batch scores independently because the per-doc fold reads
    // only the batch's own rows. Two batches through foreachBatch
    // must equal the one-shot score — oracle = text_sbo_score's.
    "text_sbo_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = Text.sboTrain(docs.filter(col("lang") === "en"),
        "doc_id", "text")
      val out = Fences.tempDir("sbo_stream") + "/scores"
      Twins.twoBatch(s, docs.select(col("doc_id"), col("text")),
        col("doc_id") % 2 === 0)(_.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Text.sboScore(batch, model, "doc_id", "text")
            .write.mode("append").parquet(out)
          ()
        }
        .outputMode("append"))
      s.read.parquet(out)
    }),

    // exact per-stratum NTILE via the bin-histogram decomposition —
    // the machinery row (trivial oracle: ntile over a window); ties
    // (integer token counts) break on doc_id in both engines
    "sample_tiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(Text.wsTokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("score", col("n_tokens").cast("double"))
      Sampling.stratifiedTiles(docs, "lang", "score", "doc_id",
          tiles = 4, binWidth = 1.0)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("tile"))
    }),

    // CCNet perplexity buckets (Wenzek et al. 2020 §4.4): each
    // language's corpus split into head/middle/tail terciles of the
    // SBO fluency score (lower mean −ln S = more fluent = head) —
    // the named pipeline the SBO LM exists to drive. Exact terciles
    // through stratifiedTiles (no per-language single-task window);
    // the oracle replays the whole train+score chain, then ntile.
    "text_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Text.sboScore(docs,
        Text.sboTrain(docs.filter(col("lang") === "en"), "doc_id", "text"),
        "doc_id", "text")
      val withLang = scored
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      Sampling.stratifiedTiles(withLang, "lang", "mean_neg_logprob_sbo",
          "doc_id", tiles = 3, binWidth = 0.01)
        .select(col("doc_id"), col("lang"), col("n_trigrams"),
          col("mean_neg_logprob_sbo"),
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle")
            .otherwise("tail").as("bucket"))
    }),

    "text_classifier" -> ((s, dir) =>
      Text.classifierScore(t(s, dir, "documents"), "doc_id", "text", seed = 42L)),

    // Streaming classifier-gate twin (rowLocalSink): hashed features
    // and the seed-derived weights read only the row. Oracle =
    // text_classifier's verbatim.
    "text_classifier_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.classifierScore(b, "doc_id", "text", seed = 42L))
    }),

    // the corpus carries no PII, so the gate query injects a
    // deterministic synthetic tail (email + IPv4 + phone derived from
    // doc_id) — the oracle builds the identical input, so the
    // hash-match exercises real redaction, not a no-op
    "text_pii" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1 or +1-555-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")).as("text"))
      Text.piiRedact(docs, "doc_id", "text")
    }),

    "text_repetition" -> ((s, dir) =>
      Text.repetition(t(s, dir, "documents"), "doc_id", "text")),

    // decontamination with real overlap by construction: the "benchmark"
    // items are 20-token prefixes of every 50th corpus document — the
    // way eval sets actually leak into web-scale training data — so the
    // source docs (and their near-dups) must be flagged on 8-gram hits
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
        .select(concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 1, 20)).as("text"))
      Text.decontaminate(docs, evalSet, "doc_id", "text", n = 8)
    }),

    // exact per-language quota: 20 docs per lang by splitmix64 rank
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        perStratum = 20, seed = 7)),

    // deterministic k-fold assignment: fold = splitmix64(id+seed) mod
    // 5 — rerun/retry/partition-stable cross-validation folds; the
    // oracle replays the chain with the signed-pmod subtlety (2^64
    // mod 5 = 1, so the unsigned residue is NOT the signed pmod).
    "sample_kfold" -> ((s, dir) =>
      Sampling.kFold(
        t(s, dir, "events").select(col("event_id")),
        "event_id", k = 5, seed = 7L)),

    // τ=2 temperature rebalancing over the skewed lang distribution:
    // head langs downsample toward ∝ sqrt(count), tail langs clamp at
    // keep-all — both branches exercised on this corpus
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
        temperature = 2.0, seed = 7)),

    // explicit-proportion data mixing: 50/20/20/10 en/de/fr/zh (es
    // dropped — weight 0), budget = min stratum count/proportion, the
    // binding stratum kept whole; deterministic splitmix64 membership
    "sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "lang",
        Seq(("en", 0.5), ("de", 0.2), ("fr", 0.2), ("zh", 0.1)), seed = 7)),

    // fractional-epoch UP-sampling: en 1.0 (exact), de 2.3 (2 copies
    // + hash-gated 30% third), fr 0.5 (pure fractional), zh 0.0
    // (explicit drop), es unnamed (drop). Row-local when-chain +
    // explode — no join, no shuffle; the oracle replays floor/frac
    // arithmetic and the splitmix64 bucket gate.
    "sample_epochs" -> ((s, dir) =>
      Sampling.epochsUpsample(t(s, dir, "documents"), "doc_id", "lang",
        Seq(("en", 1.0), ("de", 2.3), ("fr", 0.5), ("zh", 0.0)), seed = 7)),

    // Streaming epochs twin (rowLocalSink): the replication decision
    // reads only the row (config-sized when-chain), so the appended
    // union over a two-batch split equals the one-shot run. Oracle =
    // sample_epochs' verbatim.
    "sample_epochs_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Sampling.epochsUpsample(b, "doc_id", "lang",
          Seq(("en", 1.0), ("de", 2.3), ("fr", 0.5), ("zh", 0.0)),
          seed = 7))
    }),

    // TOKEN-budget mixture: the same target shares measured in tokens
    // — per-stratum token sums pick the largest downsample-only mix,
    // the keep gate stays the row-local hash bucket. Oracle replays
    // the token sums, the (p·B)/tk cut arithmetic, and the hash chain.
    "sample_token_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      Sampling.tokenMixture(docs, "doc_id", "lang", "n_tokens",
        Seq(("en", 0.5), ("de", 0.2), ("fr", 0.2), ("zh", 0.1)), seed = 7)
    }),

    // curriculum phases: exact NTILE over (n_tokens, doc_id) computed
    // from a driver-size score histogram + per-score rank windows —
    // never the single-task global window (shortest-first schedule)
    "sample_curriculum" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      Sampling.curriculum(docs, "doc_id", "n_tokens", phases = 4)
    }),

    // mixture divergence: realized per-language TOKEN shares vs the
    // target mix, KL terms from one constant-state aggregation
    "sample_mixture_kl" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      Sampling.mixtureKl(docs, "lang", "n_tokens",
        Seq(("en", 0.5), ("fr", 0.2), ("es", 0.15), ("zh", 0.1),
          ("de", 0.05)))
    }),

    // UniMax budget allocation (Chung et al. 2023): ascending-count
    // waterfilling of a 200k-token budget at ≤4 epochs per language.
    // Caps are exact-integer doubles (integral maxEpochs), so every
    // window sum is association-free and the oracle replays the one
    // share division + epochs division bit-exactly.
    "sample_unimax" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("lang"),
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          x => x =!= "")).cast("long").as("n_toks"))
      Sampling.unimaxAllocation(toks, "lang", "n_toks",
        budget = 200000L, maxEpochs = 4.0)
    }),

    // Streaming UniMax twin: per-batch per-language token sums
    // sum-merge into (stratum, n_tokens) state; the plan over the
    // final state must equal the batch plan — oracle verbatim.
    "sample_unimax_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          x => x =!= "")).cast("long").as("n_toks"))
      val state = Fences.tempDir("unimax_stream")
      Twins.twoBatch(s, input, col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.stratumSumSink(state, "lang", "n_toks")))
      Sampling.unimaxFromCounts(s.read.parquet(s"$state/batch=1"),
        budget = 200000L, maxEpochs = 4.0)
    }),

    // DoReMi mixture weights (Xie et al. 2023, EG loop at c=0): steps
    // = doc_id div 100, per-doc excess loss = n_tokens/100 — the
    // oracle replays the grid completion, per-domain cumsum, per-step
    // max-stabilized softmax, and the 6-dp-rounded averages.
    "sample_doremi" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"),
        expr("cast(doc_id as bigint) div 100").as("step"),
        (size(filter(split(trim(lower(col("text"))), "\\s+"),
          x => x =!= "")).cast("double") / lit(100.0)).as("loss"))
      Sampling.doremiWeights(docs, "lang", "step", "loss", eta = 0.5)
    }),

    // Streaming DoReMi twin: per-(domain, step) loss sum/count pairs
    // sum-merge into state; means at read time feed the same tail —
    // oracle verbatim.
    "sample_doremi_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (size(filter(split(trim(lower(col("text"))), "\\s+"),
          x => x =!= "")).cast("double") / lit(100.0)).as("loss"))
      val state = Fences.tempDir("doremi_stream")
      val sink = Twins.sink(
        StreamingOps.keyedMeanSink(state, "lang", "step", "loss"))
      Twins.twoBatch(s, input, col("doc_id") % 2 === 0)(in =>
        sink(in.withColumn("step", expr("cast(doc_id as bigint) div 100"))))
      val st = s.read.parquet(s"$state/batch=1")
      Sampling.doremiFromLosses(
        st.select(col("domain"), col("step"),
          (col("s") / col("n").cast("double")).as("loss")),
        eta = 0.5)
    }),

    // Streaming mixture monitor: per-batch token sums sum-merge into
    // (stratum, target, tokens) state; the KL verdict over the final
    // state must equal the batch verdict — oracle = sample_mixture_kl's
    "sample_mixture_kl_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val state = Fences.tempDir("mixkl_stream")
      val targets = Seq(("en", 0.5), ("fr", 0.2), ("es", 0.15),
        ("zh", 0.1), ("de", 0.05))
      Twins.twoBatch(s, input, col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.mixtureKlSink(state, "lang", "n_tokens", targets)))
      Sampling.mixtureKlFromCounts(
        s.read.parquet(s"$state/batch=1"), "lang")
    }),

    // Zipf's-law fit over the vocabulary head: partial top-k selects
    // the 4096 most frequent tokens, regr_slope/intercept of
    // log10(freq) on log10(rank) — the corpus-health number
    "text_zipf" -> ((s, dir) =>
      Text.zipfFit(t(s, dir, "documents"), "text", minCount = 2,
        topN = 4096)),

    // Streaming Zipf twin: per-batch vocab counts sum-merge into
    // (token, freq) state (minCount filtered at READ time — a
    // per-batch threshold would drop tokens whose total crosses it
    // across batches); fit over the final state = the batch fit
    "text_zipf_stream" -> ((s, dir) => {
      val state = Fences.tempDir("zipf_stream")
      Twins.twoBatch(s, t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id") % 2 === 0)(Twins.sink(
        StreamingOps.vocabCountSink(state, "text")))
      Text.zipfFitFromCounts(
        s.read.parquet(s"$state/batch=1").filter(col("freq") >= 2),
        topN = 4096)
    }),

    // Heaps' law vocabulary-growth fit: V(n) = K·n^β over doc_id-
    // ordered checkpoints every 64 ids — zipf's companion profile.
    // The oracle replays the bucketed counts, first-occurrence MINs,
    // prefix sums, and the 6-dp-rounded log-log OLS.
    "text_heaps" -> ((s, dir) =>
      Text.heapsFit(t(s, dir, "documents"), "doc_id", "text",
        bucketWidth = 64)),

    // Streaming Heaps twin: the bucket-keyed token counts sum-merge
    // across batches (stratumCountSink with stratum = checkpoint
    // bucket); first buckets are MINs over the merged state, so the
    // fit over the final state = the batch fit — oracle verbatim.
    "text_heaps_stream" -> ((s, dir) => {
      val state = Fences.tempDir("heaps_stream")
      val sink = Twins.sink(
        StreamingOps.stratumCountSink(state, "_hb", "text"))
      Twins.twoBatch(s, t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id") % 2 === 0)(in =>
        sink(in.withColumn("_hb", expr("cast(doc_id as bigint) div 64"))))
      Text.heapsFitFromCounts(s.read.parquet(s"$state/batch=1"))
    }),

    // passage-level dedup: 10-token segments, keep = first occurrence
    // corpus-wide by (doc_id, seg_idx)
    "dedup_segments" -> ((s, dir) =>
      Dedup.segments(t(s, dir, "documents"), "doc_id", "text", segTokens = 10)),

    // winnowing fingerprint match (Schleimer et al. 2003): window-min
    // gram selection, posting cap, pair counts — the oracle replays
    // the FNV-1a gram hashes (HUGEINT fold, signed compare domain)
    // and the window minima via the two-CTE join-back form
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text")),

    // localized winnowing matches: shared-fingerprint POSITIONS on
    // both sides — this row also pins the rightmost-min tie rule
    // (positions differ if either engine picks a different tie)
    "dedup_winnow_spans" -> ((s, dir) =>
      Dedup.winnowSpans(t(s, dir, "documents"), "doc_id", "text")),

    // incremental winnowing triage vs a FIXED fingerprint history
    // (the dedup_stream_triage pattern): the stream is the standard
    // mutation (every 20th doc with ≥5 tokens, last token dropped,
    // id+1000000) split across two micro-batches and matched against
    // the full corpus's df-capped postings. Per-doc decomposable —
    // fingerprints derive from the doc's own text, the history (and
    // its boilerplate cap) is fixed — so the appended union equals the
    // one-shot crossWinnowPairs run the oracle replays. The driver
    // .collect() is harness glue feeding MemoryStream.
    "dedup_winnow_stream" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val streamDocs = base
        .filter(col("doc_id") % 20 === 0 && size(toks) >= 5)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
      val hist = Dedup.winnowHistoryPostings(base, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = Fences.tempDir("winnow_stream")
      try Twins.twoBatch(s, streamDocs, col("doc_id") % 40 === 0)(Twins.sink(
        StreamingOps.winnowTriageSink(out, hist, "doc_id", "text")))
      finally hist.unpersist()
      s.read.parquet(s"$out/b*")
    }),

    // content-defined chunking: copies get a PREFIX insertion — the
    // exact edit fixed-window segmentation cannot absorb — and the
    // hash-cut boundaries must resynchronize so later chunks still
    // dedup (n_docs_sharing = 2) against the originals.
    "dedup_cdc_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edited = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("freshly inserted preamble "), col("text")).as("text"))
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(edited)
      Dedup.cdcChunks(corpus, "doc_id", "text", boundaryBits = 4)
    }),

    // ingest-time dedup: the corpus has no exact dups, so the gate
    // constructs them — history = every 3rd doc, batch = all docs plus
    // id-shifted copies of every 5th — exercising all three statuses
    // (kept / dup_batch / dup_history) under the oracle
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.incremental(batch, docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
    }),

    // incremental NEAR-dup: batch = every 20th doc with its last token
    // dropped and the id shifted (a realistic re-crawl mutation —
    // Jaccard ≈ (n-3)/n vs its source), checked against the full
    // corpus as history; LSH candidates between sides only, exact
    // Jaccard >= 0.5 verification
    "dedup_minhash_incr" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val batch = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
      Dedup.crossMinhashPairs(batch, base, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
    }),

    // streaming near-dup triage driven END-TO-END as a real 2-batch
    // stream (MemoryStream → stream-static LSH band join → exact
    // Jaccard verify → flatMapGroupsWithState verdict → memory sink):
    // the stream is the dedup_minhash_incr mutation (every 20th doc
    // with ≥5 tokens, last token dropped, id+1000000), split
    // deterministically across two micro-batches. Per-doc verdicts
    // carry no cross-batch state, so the brute-force cross-Jaccard
    // oracle applies batch-independently (same dataset assumption as
    // dedup_minhash_incr, documented there). The driver .collect() is
    // harness glue feeding MemoryStream — |docs|/20 short strings.
    "dedup_stream_triage" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val streamDocs = base
        .filter(col("doc_id") % 20 === 0 && size(toks) >= 5)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
      Twins.twoBatch(s, streamDocs, col("doc_id") % 40 === 0)(in =>
        StreamingOps.nearDupAgainstHistory(in, base, "doc_id", "text",
            threshold = 0.5)
          .writeStream.format("memory")
          .queryName("dedup_stream_triage_out").outputMode("append"))
      s.table("dedup_stream_triage_out")
    }),

    // exact substring-duplication coverage (Lee et al. ExactSubstr
    // metric): duplicated 20-token spans over the corpus — the near-dup
    // documents in the corpus share long spans, so coverage is nonzero
    // by construction; integer span arithmetic → exact hash match
    "dedup_substring" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 20)),

    // the removal action: corpus re-emitted with every covered token
    // dropped — string surgery is row-local HOFs, hash-checked exactly
    "dedup_substring_clean" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 20)),

    // the Lee et al. action proper: each duplicated span keeps its
    // globally-first occurrence (min (doc_id, pos)), later copies
    // removed — deterministic canonical choice, hash-checked exactly
    "dedup_substring_keepone" -> ((s, dir) =>
      Dedup.removeDuplicateSpansKeepFirst(t(s, dir, "documents"),
        "doc_id", "text", window = 20)),

    // Bloom-prefiltered ingest dedup: history = every 3rd doc; batch =
    // all docs plus id-shifted copies of every 7th (copies are
    // dup_history only when the source doc is itself in the history,
    // i.e. id % 21 == 0 — both probe branches exercised on both row
    // kinds). Result is EXACT (prefilter + confirm join), so the
    // oracle is a plain text-equality join.
    "dedup_bloom" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val batch = base.select(col("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.bloomIncremental(batch, base.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
    }),

    // BM25 top-10 per query over the inverted-index plan; scores are
    // sequential term-ordered IEEE folds, so the DuckDB oracle
    // hash-matches a floating-point ranking function
    "text_bm25" -> ((s, dir) =>
      Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("q1" -> Seq("hash", "join", "merge"),
            "q2" -> Seq("dup", "stream", "window"),
            "q3" -> Seq("vector", "query", "sort")),
        topK = 10)),

    // RM3 pseudo-relevance feedback over the same query set: BM25 →
    // RM1 model from the top-3 docs → 5 expansion terms → α=0.6
    // interpolated weighted rescore; the oracle replays both passes
    // and the feedback model fold for fold.
    "retrieval_rm3" -> ((s, dir) =>
      Retrieval.rm3(t(s, dir, "documents"), "doc_id", "text",
        Seq("q1" -> Seq("hash", "join", "merge"),
            "q2" -> Seq("dup", "stream", "window"),
            "q3" -> Seq("vector", "query", "sort")),
        fbDocs = 3, fbTerms = 5, alpha = 0.6, topK = 10)),

    // Dirichlet query-likelihood over the same query set — the
    // language-modeling ranking next to BM25's probabilistic one;
    // matched-term folds + the closed-form length prior.
    "text_qld" -> ((s, dir) =>
      Retrieval.queryLikelihood(t(s, dir, "documents"), "doc_id", "text",
        Seq("q1" -> Seq("hash", "join", "merge"),
            "q2" -> Seq("dup", "stream", "window"),
            "q3" -> Seq("vector", "query", "sort")),
        mu = 2000.0, topK = 10)),

    // ltc-style tf·idf weights for every (doc, term) with df >= 5
    "text_tfidf" -> ((s, dir) =>
      Retrieval.tfidf(t(s, dir, "documents"), "doc_id", "text", minDf = 5)),

    // Per-document keyword extraction: top-5 tf-idf terms under the
    // (weight desc, term asc) total order — the doubles are already
    // proven bit-identical by text_tfidf, so the oracle replays the
    // cut rank for rank.
    "text_keywords" -> ((s, dir) =>
      Retrieval.keywords(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDf = 5)),

    // Declarative data-quality suite over lineitem: the contract gate
    // in front of a sink — every metric an exact integer, fraction
    // thresholds cross-multiplied, so verdicts replay bit for bit.
    "dq_validate" -> ((s, dir) => {
      import graft.analytics.DataQuality._
      validate(t(s, dir, "lineitem"), Seq(
        NotNull("orderkey_notnull", "l_orderkey"),
        NotNull("returnflag_notnull", "l_returnflag", maxNullFraction = 0.5),
        Unique("pk_unique", Seq("l_orderkey", "l_linenumber")),
        InRange("qty_range", "l_quantity", 1.0, 50.0),
        InRange("discount_range", "l_discount", 0.0, 0.05),
        ValuesIn("returnflag_domain", "l_returnflag", Seq("A", "N", "R")),
        DistinctCountBetween("linestatus_card", "l_linestatus", 1L, 3L)))
    }),

    // Exact phrase occurrence counting — deliberately ROW-LOCAL (a
    // codegen'd HOF over the token array on one scan, zero shuffles),
    // in contrast to the posting-list plans above: phrase tests need
    // no cross-document state, so nothing should move.
    "retrieval_phrase" -> ((s, dir) =>
      Retrieval.phraseCount(t(s, dir, "documents"), "doc_id", "text",
        Seq("fast", "sort"))),

    // Hybrid-retrieval rank fusion: BM25 top-10 + a document-length
    // prior (global top-10 via TakeOrdered — no full-corpus window),
    // RRF-combined. Fusion operates on K·systems rows per query.
    // offline ranking-quality loop: precision@10 and MRR of the BM25
    // run against a deterministic synthetic relevance set
    // ((doc_id + query index) % 7 == 0) — exact hit counts and first
    // ranks, one division each.
    "retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bm = Retrieval.bm25(docs, "doc_id", "text",
        Seq("q1" -> Seq("hash", "join", "merge"),
            "q2" -> Seq("dup", "stream", "window"),
            "q3" -> Seq("vector", "query", "sort")),
        topK = 10)
      val qidx = Seq(("q1", 1L), ("q2", 2L), ("q3", 3L))
        .toDF("query_id", "_qi")
      val qrels = docs.select(col("doc_id")).crossJoin(broadcast(qidx))
        .filter((col("doc_id") + col("_qi")) % 7 === 0)
        .select(col("query_id"), col("doc_id"))
      Retrieval.rankEval(bm, qrels, "query_id", "rank", "doc_id", k = 10)
    }),

    "rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bm = Retrieval.bm25(docs, "doc_id", "text",
        Seq("q1" -> Seq("hash", "join", "merge"),
            "q2" -> Seq("dup", "stream", "window"),
            "q3" -> Seq("vector", "query", "sort")),
        topK = 10).select(col("query_id"), col("doc_id"), col("rank"))
      val top = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(10)
      val ranked = top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
      val qids = s.range(0, 3)
        .select(concat(lit("q"), (col("id") + 1).cast("string"))
          .as("query_id"))
      val prior = qids.crossJoin(ranked)
        .select(col("query_id"), col("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq("bm25" -> bm, "length_prior" -> prior),
        "query_id", "doc_id", "rank", k0 = 60, topK = 10)
    }),

    // the composed curation pipeline end-to-end: NFC-normalize →
    // quality gate (>=30 tokens, mean token length in [3,8]) → exact
    // dedup on the normalized text (keep lowest id) → deterministic
    // 50% hash sample of survivors. One flagship row proving the
    // operators compose; every stage reuses an individually-oracled op.
    "curation_pipeline" -> ((s, dir) => {
      // the corpus has no exact dups, so the gate adds id-shifted
      // copies of every 10th doc — the dedup stage must collapse them
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val normed = docs.select(col("doc_id"),
        Text.normalizeText(col("text")).as("text"))
      val qualityIds = Text.qualityScore(normed, "doc_id", "text")
        .filter(col("n_tokens") >= 30 &&
          col("mean_token_len") >= 3.0 && col("mean_token_len") <= 8.0)
        .select(col("doc_id"))
      val survivors = Dedup.exact(normed.join(qualityIds, "doc_id"), "doc_id", "text")
        .select(col("keep_id").as("doc_id"), col("dup_count"))
      Sampling.hashSample(survivors, "doc_id", 0.5, seed = 7)
    }),

    // overlapping 50-token chunks every 40 tokens (RAG window prep)
    "text_chunk" -> ((s, dir) =>
      Text.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, overlap = 10)),

    // PMI collocations over adjacent token pairs (c_ab >= 20). The
    // gate compares PMI at 9 decimals: Math.log and glibc ln disagree
    // by 1 ulp on ~0.1% of arguments (hit here, unlike bm25/entropy),
    // and a 9-dp quantization absorbs it without a boundary straddle
    // on any gate corpus (verified at sf0.001/0.01/0.1)
    "text_collocations" -> ((s, dir) =>
      Text.collocations(t(s, dir, "documents"), "text", minCount = 20)
        .select(col("w1"), col("w2"), col("c_ab"),
          round(col("pmi"), 9).as("pmi"))),

    // per-doc Shannon token entropy (ordered fold, correctly-rounded ln)
    "text_entropy" -> ((s, dir) =>
      Text.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")),

    // Streaming entropy twin (rowLocalSink): the per-doc token
    // distribution reads only the row. Oracle = text_entropy's.
    "text_entropy_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.tokenEntropy(b, "doc_id", "text"))
    }),

    // Streaming hashing-trick twin (rowLocalSink): fnv1a buckets and
    // splitmix sign bits read only the row; the exploded feature rows
    // of one doc never depend on another. Oracle = text_hashing's.
    "text_hashing_stream" -> ((s, dir) => {
      val input = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Twins.rowLocal(s, input, col("doc_id") % 2 === 0)(
        b => Text.hashingTrick(b, "doc_id", "text", dim = 256))
    }),

    // CCNet-style unigram LM quality proxy: mean -ln p(token) under
    // the corpus unigram model, position-ordered IEEE fold
    "text_unigram_lm" -> ((s, dir) =>
      Text.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    // add-one-smoothed bigram fluency score: the oracle rebuilds the
    // bigram/context counts and folds the same idx-ordered IEEE sum
    "text_bigram_lm" -> ((s, dir) =>
      Text.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    // DSIR importance weights: target = the English slice, raw = the
    // whole corpus — log importance ratio of hashed-unigram models,
    // bucket-ordered IEEE fold replicated bit-exactly by the oracle
    "text_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Text.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    }),

    // the resampling half: Gumbel top-k over the DSIR weights —
    // softmax sampling without replacement, deterministic from the
    // seed, perturbed keys and ranks both hash-checked
    "text_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = Text.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      Text.dsirSelect(w, "doc_id", "log_weight",
          n = 50, temperature = 2.0, seed = 7L)
        .select(col("doc_id"), col("sel_rank"), col("sel_key"))
    }),

    // corpus composition: per-(lang, source) counts, token totals,
    // mean and exact median character length
    "text_profile" -> ((s, dir) =>
      Text.corpusProfile(t(s, dir, "documents"), "text", Seq("lang", "source"))),

    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.fakeMediaTable(s, dir))
        .select(col("media_id"), col("n_bytes"), col("sha256_prefix"))),

    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.fakeMediaTable(s, dir), 4)),

    // perceptual near-dup over media payloads: every 20th item gets a
    // byte-LOCAL variant (two characters swapped — the media analogue
    // of a small pixel edit; total sum preserved so at most 2 aHash
    // cells flip, inside the pigeonhole-complete hamming<=3 banding).
    // Token-level text near-dups do NOT collide here (byte shifts
    // scramble slice means) — that separation is the point of a
    // perceptual hash vs a content hash.
    "multimodal_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.fakeMediaTable(s, dir)
      val n = length(col("text")).cast("long")
      val half = floor(n / 2).cast("long")
      val p1 = (lit(1L) + pmod(col("doc_id") * 7, half - 1)).cast("int")
      val p2 = (lit(1L) + half + pmod(col("doc_id") * 13, n - half - 1)).cast("int")
      val c1 = col("text").substr(p1.cast("int"), lit(1))
      val c2 = col("text").substr(p2.cast("int"), lit(1))
      val swapped = overlay(overlay(col("text"), c2, p1, lit(1)), c1, p2, lit(1))
      val variants = docs
        .filter(col("doc_id") % 20 === 0 && length(col("text")) >= 8)
        .select((col("doc_id") + 3000000L).as("media_id"),
          lit("application/octet-stream").as("mime"),
          length(swapped).cast("long").as("n_bytes"),
          swapped.cast("binary").as("content"))
      Multimodal.nearDupMedia(media.unionByName(variants), maxHamming = 3)
    }),

    // incremental form: the variants ARE the arriving batch, the
    // original media store is the history — cross-side pairs only
    "multimodal_neardup_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.fakeMediaTable(s, dir)
      val n = length(col("text")).cast("long")
      val half = floor(n / 2).cast("long")
      val p1 = (lit(1L) + pmod(col("doc_id") * 7, half - 1)).cast("int")
      val p2 = (lit(1L) + half + pmod(col("doc_id") * 13, n - half - 1)).cast("int")
      val c1 = col("text").substr(p1.cast("int"), lit(1))
      val c2 = col("text").substr(p2.cast("int"), lit(1))
      val swapped = overlay(overlay(col("text"), c2, p1, lit(1)), c1, p2, lit(1))
      val variants = docs
        .filter(col("doc_id") % 20 === 0 && length(col("text")) >= 8)
        .select((col("doc_id") + 3000000L).as("media_id"),
          lit("application/octet-stream").as("mime"),
          length(swapped).cast("long").as("n_bytes"),
          swapped.cast("binary").as("content"))
      Multimodal.nearDupMediaIncrement(variants, media, maxHamming = 3)
    })
  )



  // IVF scored-candidate replication (seeds, top-2 cells, distinct
  // within-cell pairs, exact-fold cosines) shared by the
  // dedup_embedding_ivf row and the sim_knn_graph rank extension.
  private val ivfScoredPairsSql: String =
    """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         seeds AS (SELECT cluster, cvec FROM (
             SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster,
               nvec AS cvec FROM v) sq
           WHERE sq.cluster <
             (SELECT greatest(8, CAST(ceil(count(*) / 25.0) AS BIGINT))
              FROM v)),
         dots AS (SELECT v.vec_id, s.cluster,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> v.nvec[i] * s.cvec[i])),
             (a,b) -> a+b) AS dt
           FROM v CROSS JOIN seeds s),
         best AS (SELECT vec_id, cluster, dt,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY dt DESC, cluster ASC) AS rk FROM dots),
         asg AS (SELECT vec_id, cluster FROM best WHERE rk <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
           FROM asg a JOIN asg b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         sc AS (SELECT c.ia, c.ib,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> va.nvec[i] * vb.nvec[i])),
             (x,y) -> x+y) AS cs
           FROM cand c JOIN v va ON va.vec_id = c.ia
           JOIN v vb ON vb.vec_id = c.ib)"""

  // One BPE training round unrolled per k: pair counts -> argmax ->
  // list-comprehension rewrite. Shared by the text_bpe_train oracle
  // (emits the merge list) and text_bpe_apply (counts the final
  // corpus).
  private def bpeUnrollBlocks(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""p$k AS (SELECT l[i] AS a, l[i + 1] AS b
           FROM seqs${k - 1}, unnest(range(1, len(l))) AS u(i)
           WHERE l[i] <> l[i + 1]),
         c$k AS (SELECT a, b, count(*) AS c FROM p$k GROUP BY 1, 2),
         m$k AS (SELECT a, b, c FROM c$k ORDER BY c DESC, a, b LIMIT 1),
         seqs$k AS (SELECT doc_id,
           [CASE WHEN i < len(l) AND l[i] = m.a AND l[i + 1] = m.b
                 THEN m.a || ' ' || m.b ELSE l[i] END
            FOR i IN range(1, len(l) + 1)
            IF NOT (i > 1 AND l[i - 1] = m.a AND l[i] = m.b)] AS l
           FROM seqs${k - 1}, m$k m)"""
    }.mkString(",\n")

  // SimHash + recursive-closure replication, shared by the
  // dedup_clusters row and (nested as a subquery) dedup_canonical.
  private val dedupClustersOracleSql: String =
    """WITH RECURSIVE tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents
         ), whs AS (
           SELECT w, CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT) ELSE uh END AS BIGINT) AS h
           FROM (
             SELECT w, list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(list_filter(string_split_regex(w, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS HUGEINT))),
               (acc, c) -> (xor(acc, c) * 1099511628211) %
                 CAST(18446744073709551616 AS HUGEINT)) AS uh
             FROM (SELECT DISTINCT w FROM tok))
         ), votes AS (
           SELECT t.doc_id, b.b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM tok t JOIN whs USING (w)
           CROSS JOIN (SELECT unnest(range(64)) AS b) b
           GROUP BY t.doc_id, b.b
         ), sig AS (
           SELECT doc_id, CAST(CASE WHEN us >= CAST(9223372036854775808 AS HUGEINT)
             THEN us - CAST(18446744073709551616 AS HUGEINT) ELSE us END AS BIGINT) AS s
           FROM (SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
                   ELSE CAST(0 AS HUGEINT) END) AS us
             FROM votes GROUP BY doc_id)
         ), pr AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.s, b.s)) <= 3
         ), edges AS (
           SELECT ia AS u, ib AS v FROM pr UNION SELECT ib, ia FROM pr
         ), reach AS (
           SELECT u AS a, v AS b FROM edges
           UNION
           SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
         ), lab AS (
           SELECT a AS doc_id, least(min(b), a) AS lbl FROM reach GROUP BY a
         )
         SELECT d.doc_id,
           coalesce(l.lbl, d.doc_id) AS cluster_id,
           coalesce(l.lbl, d.doc_id) = d.doc_id AS keep
         FROM documents d LEFT JOIN lab l USING (doc_id)"""

  // BM25 replication: same tokenization, posting-list tf/df, the
  // published idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (DuckDB ln ==
  // Java Math.log bitwise — both correctly rounded on these args),
  // per-doc score = list_reduce fold in term order (== the engine's
  // array_sort + sequential aggregate). Double literals are CAST —
  // bare 1.2 parses as DECIMAL and decimal arithmetic diverges.
  // A named val so the RRF oracle can nest it as its first system.
  private val bm25OracleSql: String =
    """WITH q(query_id, term) AS (VALUES
           ('q1','hash'),('q1','join'),('q1','merge'),
           ('q2','dup'),('q2','stream'),('q2','window'),
           ('q3','vector'),('q3','query'),('q3','sort')),
         dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM
           (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents)),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM dls),
         tf AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS w FROM dls)
           WHERE w IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, dl, w),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         contrib AS (SELECT q.query_id, tf.doc_id, tf.term,
           ln(CAST(1.0 AS DOUBLE) +
              (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
              (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
           (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
             (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
               (CAST(tf.dl AS DOUBLE) / s.avgdl))) AS c
           FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
           JOIN q ON q.term = tf.term),
         scores AS (SELECT query_id, doc_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
             (a, b) -> a + b) AS score
           FROM contrib GROUP BY query_id, doc_id)
         SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rk
           FROM scores) WHERE rk <= 10"""

  /** FNV-1a 64 over a string's UTF-16 units as an unsigned HUGEINT
    * fold (the text_classifier idiom, factored for reuse). */
  private def fnvFoldSql(expr: String): String =
    s"""list_reduce(
         list_prepend(CAST(14695981039346656037 AS HUGEINT),
           list_transform(list_filter(string_split_regex($expr, ''), ch -> ch <> ''),
             ch -> CAST(unicode(ch) AS HUGEINT))),
         (acc, ch) -> (xor(acc, ch) * 1099511628211) %
           CAST(18446744073709551616 AS HUGEINT))"""

  /** The exact-PCA CTE chain (see [[graft.analytics.Similarity
    * .pcaTopComponent]]): quantize to 1e-6 longs, per-dim rounded
    * mean, then three power-iteration rounds — per-row dots as
    * HUGEINT sums, direction sums as HUGEINT, the norm as a dim-
    * ordered left fold of squared doubles, and the new integer
    * iterate via half-away-from-zero rounding. `finalSelect` reads
    * from `mu`, `c` (centered grid) and `v3` (final iterate).
    */
  private def pcaOracleSql(finalSelect: String): String = {
    val prefix =
      """WITH g AS (SELECT vec_id, CAST(i.i AS BIGINT) AS dim,
             CAST(round(CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE)
               * 1000000.0) AS BIGINT) AS x
           FROM embeddings, range(64) i(i)),
         mu AS (SELECT dim, CAST(round(CAST(sum(x) AS DOUBLE) / count(*))
               AS BIGINT) AS m
           FROM g GROUP BY dim),
         c AS (SELECT vec_id, g.dim, g.x - mu.m AS cv
           FROM g JOIN mu USING (dim)),
         v0 AS (SELECT dim, CAST(125000000 AS BIGINT) AS q FROM mu)"""
    val rounds = (1 to 3).map { k =>
      s""",
         d$k AS (SELECT vec_id, sum(cv * q) AS d
           FROM c JOIN v${k - 1} USING (dim) GROUP BY vec_id),
         w$k AS (SELECT c.dim,
             sum(CAST(cv AS HUGEINT) * CAST(d AS HUGEINT)) AS w
           FROM c JOIN d$k USING (vec_id) GROUP BY c.dim),
         n$k AS (SELECT sqrt(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list(CAST(w AS DOUBLE) * CAST(w AS DOUBLE) ORDER BY dim)),
             (a, b) -> a + b)) AS nn FROM w$k),
         v$k AS (SELECT dim, CAST(round(CAST(w AS DOUBLE) /
             (SELECT nn FROM n$k) * 1000000000.0) AS BIGINT) AS q
           FROM w$k)"""
    }.mkString
    prefix + rounds + "\n         " + finalSelect
  }

  private val oraclesBase: Map[String, String] = Map(
    "text_bm25" -> bm25OracleSql,
    // RM3: pass-1 bm25 CTEs, the RM1 feedback model (doc-ordered
    // folds, term-ordered normalizer, (wn DESC, term) selection), the
    // α-interpolated weight table, and the weighted pass-2 — every
    // fold order identical to the engine's
    "retrieval_rm3" ->
      """WITH q(query_id, term) AS (VALUES
           ('q1','hash'),('q1','join'),('q1','merge'),
           ('q2','dup'),('q2','stream'),('q2','window'),
           ('q3','vector'),('q3','query'),('q3','sort')),
         dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM
           (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents)),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM dls),
         tf AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS w FROM dls)
           WHERE w IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, dl, w),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         contrib AS (SELECT q.query_id, tf.doc_id, tf.term,
           ln(CAST(1.0 AS DOUBLE) +
              (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
              (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
           (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
             (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
               (CAST(tf.dl AS DOUBLE) / s.avgdl))) AS c
           FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
           JOIN q ON q.term = tf.term),
         scores AS (SELECT query_id, doc_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
             (a, b) -> a + b) AS score
           FROM contrib GROUP BY query_id, doc_id),
         fb AS (SELECT query_id, doc_id, score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rk
           FROM scores) WHERE rk <= 3),
         tfall AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS w FROM dls
                 WHERE doc_id IN (SELECT DISTINCT doc_id FROM fb))
           WHERE w <> '' GROUP BY doc_id, dl, w),
         wraw AS (SELECT f.query_id, t.term,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list((CAST(t.tf AS DOUBLE) / CAST(t.dl AS DOUBLE)) * f.score
               ORDER BY t.doc_id)), (a, b) -> a + b) AS w
           FROM tfall t JOIN fb f ON f.doc_id = t.doc_id
           GROUP BY f.query_id, t.term),
         z AS (SELECT query_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY term)),
             (a, b) -> a + b) AS z
           FROM wraw GROUP BY query_id),
         wnorm AS (SELECT w.query_id, w.term, w.w / z.z AS wn
           FROM wraw w JOIN z USING (query_id)),
         expn AS (SELECT query_id, term, wn FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY wn DESC, term ASC) AS rk FROM wnorm) WHERE rk <= 5),
         qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nq
           FROM q GROUP BY query_id),
         wq AS (SELECT q.query_id, q.term,
             CAST(0.6 AS DOUBLE) * (CAST(1.0 AS DOUBLE) / CAST(qn.nq AS DOUBLE)) +
             (CAST(1.0 AS DOUBLE) - CAST(0.6 AS DOUBLE)) *
               coalesce(e.wn, CAST(0.0 AS DOUBLE)) AS weight
           FROM q JOIN qn USING (query_id)
           LEFT JOIN expn e ON e.query_id = q.query_id AND e.term = q.term
           UNION ALL
           SELECT e.query_id, e.term,
             (CAST(1.0 AS DOUBLE) - CAST(0.6 AS DOUBLE)) * e.wn AS weight
           FROM expn e ANTI JOIN q ON q.query_id = e.query_id
             AND q.term = e.term),
         tf2 AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS w FROM dls)
           WHERE w IN (SELECT DISTINCT term FROM wq) GROUP BY doc_id, dl, w),
         dfreq2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf2 GROUP BY term),
         contrib2 AS (SELECT wq.query_id, tf2.doc_id, tf2.term,
           (ln(CAST(1.0 AS DOUBLE) +
              (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
              (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
           (CAST(tf2.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           (CAST(tf2.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
             (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
               (CAST(tf2.dl AS DOUBLE) / s.avgdl)))) * wq.weight AS c
           FROM tf2 JOIN dfreq2 d USING (term) CROSS JOIN stats s
           JOIN wq ON wq.term = tf2.term),
         scores2 AS (SELECT query_id, doc_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
             (a, b) -> a + b) AS score
           FROM contrib2 GROUP BY query_id, doc_id)
         SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rk
           FROM scores2) WHERE rk <= 10""",
    // P@10 / MRR over the nested BM25 run vs the synthetic qrels
    "retrieval_eval" ->
      s"""WITH ranked AS (SELECT query_id, doc_id, rank
             FROM ($bm25OracleSql)),
         qi(query_id, qidx) AS (VALUES ('q1', 1), ('q2', 2), ('q3', 3)),
         qrels AS (SELECT qi.query_id, d.doc_id
             FROM documents d CROSS JOIN qi
             WHERE (d.doc_id + qi.qidx) % 7 = 0),
         j AS (SELECT r.query_id, r.rank,
              CASE WHEN q.doc_id IS NOT NULL THEN 1 END AS rel
            FROM ranked r LEFT JOIN qrels q
              ON q.query_id = r.query_id AND q.doc_id = r.doc_id
            WHERE r.rank <= 10)
         SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked,
           CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_relevant,
           CAST(min(CASE WHEN rel IS NOT NULL THEN rank END) AS BIGINT)
             AS first_rel_rank,
           CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(10 AS DOUBLE) AS precision_at_k,
           CASE WHEN min(CASE WHEN rel IS NOT NULL THEN rank END)
               IS NOT NULL THEN
             CAST(1.0 AS DOUBLE) /
             CAST(CAST(min(CASE WHEN rel IS NOT NULL THEN rank END)
               AS BIGINT) AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS reciprocal_rank
         FROM j GROUP BY 1""",
    // fnv1a bucket (low 8 bits) + splitmix64 sign bit per distinct
    // token, signed count per (doc, bucket) — both hash chains
    // replayed in HUGEINT mod 2^64
    "text_hashing" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w FROM tok WHERE w <> ''),
         c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         whs AS (SELECT w, ${fnvFoldSql("w")} AS uh
           FROM (SELECT DISTINCT w FROM tf)),
         m0 AS (SELECT w, uh, (uh + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM whs CROSS JOIN c),
         ma AS (SELECT w, uh, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT w, uh, (x2 % 4294967296 * 484763065 +
              ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
              * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT w, uh, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT w, uh, (x4 % 4294967296 * 321982955 +
              ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
              * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT w, uh % 256 AS bucket,
              CASE WHEN xor(x5, x5 // 2147483648) <
                CAST(9223372036854775808 AS HUGEINT)
                THEN 1 ELSE -1 END AS sgn FROM m2)
         SELECT t.doc_id, CAST(m.bucket AS BIGINT) AS bucket,
           CAST(sum(m.sgn) AS BIGINT) AS feature,
           CAST(count(*) AS BIGINT) AS n_tokens
         FROM tf t JOIN m3 m USING (w)
         GROUP BY 1, 2 HAVING sum(m.sgn) <> 0""",
    // fnv1a token hash -> splitmix (no seed) low-bits boundary cut,
    // prefix-sum chunk ids, chunk-content fnv, digest-grouped sharing
    "dedup_cdc_chunks" ->
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'freshly inserted preamble ' || text
           FROM documents WHERE doc_id % 10 = 0),
         c64 AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         dls AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> x <> '') AS t
           FROM corpus),
         tokpos AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t))) AS pos
           FROM dls WHERE len(t) > 0),
         tok AS (SELECT doc_id, pos, t[pos] AS w FROM tokpos),
         wfh AS (SELECT w, ${fnvFoldSql("w")} AS uh
           FROM (SELECT DISTINCT w FROM tok)),
         m0 AS (SELECT w, (uh + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
                FROM wfh CROSS JOIN c64),
         ma AS (SELECT w, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT w, (x2 % 4294967296 * 484763065 +
                ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
                * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT w, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT w, (x4 % 4294967296 * 321982955 +
                ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
                * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT w, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         wflag AS (SELECT w, CASE WHEN x6 % 16 = 0 THEN 1 ELSE 0 END AS b FROM m3),
         flags AS (SELECT t.doc_id, t.pos, t.w, f.b
           FROM tok t JOIN wflag f USING (w)),
         cidx AS (SELECT doc_id, pos, w,
             coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
           FROM flags),
         ctext AS (SELECT doc_id, chunk_idx,
             CAST(count(*) AS BIGINT) AS n_tokens,
             string_agg(w, ' ' ORDER BY pos) AS ct
           FROM cidx GROUP BY 1, 2),
         chash AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             n_tokens,
             CAST(CASE WHEN uh2 >= CAST(9223372036854775808 AS HUGEINT)
               THEN uh2 - CAST(18446744073709551616 AS HUGEINT)
               ELSE uh2 END AS BIGINT) AS chunk_hash
           FROM (SELECT doc_id, chunk_idx, n_tokens,
               ${fnvFoldSql("ct")} AS uh2 FROM ctext)),
         share AS (SELECT chunk_hash,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_sharing,
             min(struct_pack(d := doc_id, i := chunk_idx)) AS f
           FROM chash GROUP BY 1)
         SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_hash,
           s.n_docs_sharing,
           (struct_pack(d := c.doc_id, i := c.chunk_idx) = s.f) AS keep
         FROM chash c JOIN share s USING (chunk_hash)""",
    "text_qld" ->
      """WITH q(query_id, term) AS (VALUES
           ('q1','hash'),('q1','join'),('q1','merge'),
           ('q2','dup'),('q2','stream'),('q2','window'),
           ('q3','vector'),('q3','query'),('q3','sort')),
         nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nq
                FROM q GROUP BY 1),
         dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM
           (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents)),
         stats AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM dls),
         tf AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS w FROM dls)
           WHERE w IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, dl, w),
         cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
         contrib AS (SELECT q.query_id, tf.doc_id, tf.dl, tf.term,
           ln(CAST(1.0 AS DOUBLE) +
              CAST(tf.tf AS DOUBLE) * CAST(s.total AS DOUBLE) /
              (CAST(2000.0 AS DOUBLE) * CAST(c.cf AS DOUBLE))) AS c
           FROM tf JOIN cf c USING (term) CROSS JOIN stats s
           JOIN q ON q.term = tf.term),
         scores AS (SELECT co.query_id, co.doc_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(co.c ORDER BY co.term)),
             (a, b) -> a + b) +
           CAST(max(n.nq) AS DOUBLE) *
             ln(CAST(2000.0 AS DOUBLE) /
                (CAST(max(co.dl) AS DOUBLE) + CAST(2000.0 AS DOUBLE))) AS score
           FROM contrib co JOIN nq n USING (query_id)
           GROUP BY co.query_id, co.doc_id)
         SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rk
           FROM scores) WHERE rk <= 10""",
    // fuse = nested bm25 oracle + a closed-form length-prior ranking,
    // term fold in system order (list_reduce ≡ the engine's ordered
    // aggregate), final top-10 by (score DESC, doc_id ASC)
    "rrf_fusion" ->
      s"""WITH bm AS (SELECT query_id, doc_id, rank FROM ($bm25OracleSql)),
         pr0 AS (SELECT doc_id, rnk FROM (
             SELECT doc_id, row_number() OVER
               (ORDER BY n_chars DESC, doc_id ASC) AS rnk
             FROM documents) WHERE rnk <= 10),
         qq(query_id) AS (VALUES ('q1'), ('q2'), ('q3')),
         pr AS (SELECT qq.query_id, pr0.doc_id, pr0.rnk AS rank
                FROM qq CROSS JOIN pr0),
         u AS (SELECT query_id, doc_id, 0 AS sys,
                 CAST(1.0 AS DOUBLE) /
                 (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS term
               FROM bm
               UNION ALL
               SELECT query_id, doc_id, 1 AS sys,
                 CAST(1.0 AS DOUBLE) /
                 (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS term
               FROM pr),
         sc AS (SELECT query_id, doc_id,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(term ORDER BY sys)), (a, b) -> a + b) AS rrf_score,
                 CAST(count(*) AS BIGINT) AS n_systems
                FROM u GROUP BY 1, 2)
         SELECT query_id, CAST(rk AS BIGINT) AS fused_rank, doc_id,
           rrf_score, n_systems
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, doc_id ASC) AS rk FROM sc)
         WHERE rk <= 10""",
    // stage-by-stage replication: normalize (the text_normalize SQL),
    // quality ratios (integer-count divisions), GROUP BY normalized
    // text ≡ the engine's sha2-256 digest grouping, then the
    // splitmix64(doc_id + 7) chain with cut floor(0.5 * 4096) = 2048
    "curation_pipeline" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 10 = 0),
         norm AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
             '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS text
           FROM docs),
         qual AS (SELECT doc_id, text,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS DOUBLE) /
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS mtl
           FROM norm),
         keep AS (SELECT doc_id, text FROM qual
           WHERE n_tokens >= 30 AND mtl >= CAST(3.0 AS DOUBLE)
             AND mtl <= CAST(8.0 AS DOUBLE)),
         ded AS (SELECT min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS dup_count
           FROM keep GROUP BY text),
         c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id, dup_count,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM ded CROSS JOIN c),
         ma AS (SELECT doc_id, dup_count, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, dup_count,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, dup_count, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, dup_count,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, dup_count, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT doc_id, dup_count FROM m3 WHERE (x6 // 4096) % 4096 < 2048""",
    // same start offsets (range step = stride, starts < n), DuckDB's
    // inclusive list slice == Spark's length-bounded slice (both clamp)
    "text_chunk" ->
      """WITH tok AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         st AS (SELECT doc_id, t, len(t) AS n,
           unnest(range(0, len(t), 40)) AS s FROM tok)
         SELECT doc_id, CAST(s // 40 AS BIGINT) AS chunk_idx,
           array_to_string(t[s+1:s+50], ' ') AS chunk_text,
           CAST(least(50, n - s) AS BIGINT) AS n_chunk_tokens
         FROM st""",
    // PMI = ln(N_bi·c_ab / (c_a·c_b)); overlapping bigrams from the
    // zipped adjacent-pair stream, unigrams from the same tokens
    "text_collocations" ->
      """WITH tok AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents),
         bi AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM tok, unnest(range(1, len(t))) AS r(i)),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
           FROM bi GROUP BY w1, w2),
         uni AS (SELECT u.w AS w, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(t) AS w FROM tok) u WHERE u.w <> '' GROUP BY u.w),
         nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM bc)
         SELECT bc.w1, bc.w2, bc.c_ab,
           round(ln((CAST(nb.n_bi AS DOUBLE) * CAST(bc.c_ab AS DOUBLE)) /
              (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 9) AS pmi
         FROM bc
         JOIN uni ua ON ua.w = bc.w1
         JOIN uni ub ON ub.w = bc.w2
         CROSS JOIN nb
         WHERE bc.c_ab >= 20""",
    // entropy fold: h := h − (c/n)·ln(c/n) over counts in token order —
    // list_reduce's sequential left fold == the engine's aggregate fold
    "text_entropy" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents),
         cnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY doc_id, w),
         agg AS (SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           list(c ORDER BY w) AS cl
           FROM cnt GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(cl, c ->
               (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) *
               ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)))),
             (a, b) -> a - b) AS entropy
         FROM agg""",
    // unigram-LM replication: corpus token counts, -ln(c/N) per
    // occurrence folded in POSITION order, divided by the doc's count
    "text_unigram_lm" ->
      """WITH occ AS (
           SELECT doc_id,
             CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS idx,
             unnest(t) AS tok
           FROM (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents)),
         oq AS (SELECT doc_id, idx, tok FROM occ WHERE tok <> ''),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM oq GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM cnt),
         contrib AS (
           SELECT oq.doc_id, oq.idx,
             -ln(CAST(c AS DOUBLE) / CAST(n_corpus AS DOUBLE)) AS nl
           FROM oq JOIN cnt USING (tok) CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(nl ORDER BY idx)), (a, x) -> a + x) / count(*)
             AS mean_neg_logprob
         FROM contrib GROUP BY doc_id""",
    // bigram twin: vocab over ALL non-empty tokens, docs with < 2
    // tokens omitted, P = (c(prev,w)+1)/(c(prev)+V), idx-ordered fold
    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> '') AS toks
           FROM documents),
         v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
               FROM (SELECT unnest(toks) AS tok FROM t)),
         t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         big AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
             toks[i] AS prev, toks[i + 1] AS w
           FROM t2, LATERAL unnest(range(1, len(toks))) AS r(i)),
         cb AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS cb
                FROM big GROUP BY 1, 2),
         cc AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cc FROM cb GROUP BY 1),
         contrib AS (
           SELECT big.doc_id, big.idx,
             -ln((CAST(cb AS DOUBLE) + 1.0) / CAST(cc + v AS DOUBLE)) AS nl
           FROM big JOIN cb USING (prev, w) JOIN cc USING (prev) CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(nl ORDER BY idx)), (a, x) -> a + x) / count(*)
             AS mean_neg_logprob2
         FROM contrib GROUP BY doc_id""",
    // full DSIR replication: FNV-1a HUGEINT fold per distinct token
    // (ASCII corpus: unicode(ch) == byte), power-of-two bucket mod,
    // add-one-smoothed target/raw histograms over range(4096), glibc
    // ln == java_ln, per-doc contributions folded in bucket order —
    // the same sequential-IEEE-fold contract as text_entropy/bm25
    "text_dsir" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents),
         tq AS (SELECT doc_id, w FROM tok WHERE w <> ''),
         dw AS (SELECT DISTINCT w FROM tq),
         wb AS (
           SELECT w, CAST(list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) % 4096 AS BIGINT) AS b
           FROM dw),
         occ AS (SELECT doc_id, b FROM tq JOIN wb USING (w)),
         dc AS (SELECT doc_id, b, count(*) AS n FROM occ GROUP BY 1, 2),
         rh AS (SELECT b, sum(n) AS rc FROM dc GROUP BY 1),
         rt AS (SELECT sum(rc) AS rn FROM rh),
         tocc AS (SELECT o.doc_id, o.b FROM occ o
           JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
         th AS (SELECT b, count(*) AS tc FROM tocc GROUP BY 1),
         tt AS (SELECT sum(tc) AS tn FROM th),
         lam AS (
           SELECT r.range AS b,
             ln((coalesce(tc, 0) + 1.0) / (tn + 4096.0)) -
             ln((coalesce(rc, 0) + 1.0) / (rn + 4096.0)) AS lam
           FROM range(0, 4096) r
           LEFT JOIN rh ON rh.b = r.range
           LEFT JOIN th ON th.b = r.range
           CROSS JOIN rt CROSS JOIN tt),
         contrib AS (
           SELECT dc.doc_id, dc.b, dc.n, dc.n * lam.lam AS wgt
           FROM dc JOIN lam ON lam.b = dc.b)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(wgt ORDER BY b)), (a, x) -> a + x) AS log_weight
         FROM contrib GROUP BY doc_id""",
    // Gumbel top-k selection over the DSIR weights: splitmix64(doc_id
    // + seed) replicated in HUGEINT (the text_classifier mix chain),
    // u at 53-bit resolution, g = -ln(-ln u), key = lw/T + g — every
    // step fixed-order IEEE, so keys AND ranks hash-match
    "text_dsir_select" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents),
         tq AS (SELECT doc_id, w FROM tok WHERE w <> ''),
         dw AS (SELECT DISTINCT w FROM tq),
         wb AS (
           SELECT w, CAST(list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) % 4096 AS BIGINT) AS b
           FROM dw),
         occ AS (SELECT doc_id, b FROM tq JOIN wb USING (w)),
         dc AS (SELECT doc_id, b, count(*) AS n FROM occ GROUP BY 1, 2),
         rh AS (SELECT b, sum(n) AS rc FROM dc GROUP BY 1),
         rt AS (SELECT sum(rc) AS rn FROM rh),
         tocc AS (SELECT o.doc_id, o.b FROM occ o
           JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
         th AS (SELECT b, count(*) AS tc FROM tocc GROUP BY 1),
         tt AS (SELECT sum(tc) AS tn FROM th),
         lam AS (
           SELECT r.range AS b,
             ln((coalesce(tc, 0) + 1.0) / (tn + 4096.0)) -
             ln((coalesce(rc, 0) + 1.0) / (rn + 4096.0)) AS lam
           FROM range(0, 4096) r
           LEFT JOIN rh ON rh.b = r.range
           LEFT JOIN th ON th.b = r.range
           CROSS JOIN rt CROSS JOIN tt),
         lw AS (
           SELECT dc.doc_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(dc.n * lam.lam ORDER BY dc.b)), (a, x) -> a + x) AS log_weight
           FROM dc JOIN lam ON lam.b = dc.b GROUP BY dc.doc_id),
         c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id, log_weight,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT))
             % m64 AS x1, m64 FROM lw CROSS JOIN c),
         ma AS (SELECT doc_id, log_weight, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, log_weight,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, log_weight, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, log_weight,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, log_weight, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         keyed AS (SELECT doc_id,
           log_weight / 2.0 +
             (- ln(- ln((CAST(x6 // 2048 AS DOUBLE) + 0.5) / 9007199254740992.0)))
             AS sel_key
           FROM m3),
         top AS (SELECT doc_id, sel_key FROM keyed
           ORDER BY sel_key DESC, doc_id ASC LIMIT 50)
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id ASC) AS BIGINT)
             AS sel_rank,
           sel_key
         FROM top""",
    // quantile_cont(0.5) and Spark's exact `percentile` share the
    // continuous-quantile definition; for integer inputs < 2^52 the
    // interpolation arithmetic is exact in IEEE on both engines
    "text_profile" ->
      """SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             AS n_tokens,
           CAST(CAST(sum(length(text)) AS BIGINT) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS mean_chars,
           quantile_cont(CAST(length(text) AS BIGINT), 0.5) AS median_chars
         FROM documents GROUP BY lang, source""",
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE w <> '' GROUP BY doc_id, w),
         dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY w HAVING count(*) >= 5),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         SELECT tf.doc_id, tf.w AS term, tf.tf, d.df,
           (CAST(1.0 AS DOUBLE) + ln(CAST(tf.tf AS DOUBLE))) *
             ln(CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS weight
         FROM tf JOIN dfreq d USING (w) CROSS JOIN nn""",
    "text_keywords" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE w <> '' GROUP BY doc_id, w),
         dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY w HAVING count(*) >= 5),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         wt AS (SELECT tf.doc_id, tf.w AS term, tf.tf, d.df,
           (CAST(1.0 AS DOUBLE) + ln(CAST(tf.tf AS DOUBLE))) *
             ln(CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS weight
           FROM tf JOIN dfreq d USING (w) CROSS JOIN nn)
         SELECT doc_id, kw_rank, term, tf, df, weight FROM (
           SELECT doc_id, term, tf, df, weight,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY weight DESC, term ASC) AS BIGINT) AS kw_rank
           FROM wt) WHERE kw_rank <= 5""",
    "dq_validate" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
         SELECT 'orderkey_notnull' AS check_id, 'not_null' AS check_type,
           'l_orderkey' AS "column", n.n AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NULL) AS metric,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) * 1000000 <= 0 * n.n AS passed
         FROM n
         UNION ALL
         SELECT 'returnflag_notnull', 'not_null', 'l_returnflag', n.n,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_returnflag IS NULL),
           (SELECT count(*) FROM lineitem WHERE l_returnflag IS NULL) * 1000000 <= 500000 * n.n
         FROM n
         UNION ALL
         SELECT 'pk_unique', 'unique', 'l_orderkey,l_linenumber', n.n,
           (SELECT CAST(sum(c - 1) AS BIGINT) FROM
             (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
           (SELECT sum(c - 1) FROM
             (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)) = 0
         FROM n
         UNION ALL
         SELECT 'qty_range', 'in_range', 'l_quantity', n.n,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0)),
           (SELECT count(*) FROM lineitem
             WHERE l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0)) = 0
         FROM n
         UNION ALL
         SELECT 'discount_range', 'in_range', 'l_discount', n.n,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05)),
           (SELECT count(*) FROM lineitem
             WHERE l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05)) = 0
         FROM n
         UNION ALL
         SELECT 'returnflag_domain', 'values_in', 'l_returnflag', n.n,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')),
           (SELECT count(*) FROM lineitem
             WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')) = 0
         FROM n
         UNION ALL
         SELECT 'linestatus_card', 'distinct_between', 'l_linestatus', n.n,
           (SELECT CAST(count(DISTINCT l_linestatus) AS BIGINT) FROM lineitem),
           (SELECT count(DISTINCT l_linestatus) FROM lineitem) BETWEEN 1 AND 3
         FROM n""",
    // nprobe=nlist probes every cell — exact search, brute-force oracle
    // (identical to sim_topk_brute's, same query set)
    "sim_topk_ivf" ->
      """SELECT qid AS query_id, CAST(rk AS INT) AS rank, nid AS neighbor_id FROM (
           SELECT q.vec_id qid, c.vec_id nid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) rk
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 8) WHERE rk <= 5""",
    // normalize (sequential folds) → quantize (floor(|x|/s·127+0.5)
    // with the sign reapplied) → exact BIGINT dot → rescale by
    // (scale_a·scale_b)/127² in the engine's operation order → rank
    "sim_topk_quantized" ->
      """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         sc AS (SELECT vec_id, nvec,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(nvec, x -> abs(x))), (a,b) -> greatest(a,b)) AS scale
           FROM v),
         qv AS (SELECT vec_id, scale,
           list_transform(nvec, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(CASE WHEN x < 0
               THEN -floor(abs(x) / scale * CAST(127.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
               ELSE floor(abs(x) / scale * CAST(127.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             END AS BIGINT) END) AS q
           FROM sc),
         d AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
           (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, 65), i -> a.q[i] * b.q[i])),
              (x,y) -> x+y) AS DOUBLE)
            * a.scale * b.scale) / CAST(16129.0 AS DOUBLE) AS ac
           FROM qv a JOIN qv b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
         SELECT qid AS query_id, CAST(rk AS INT) AS rank,
           nid AS neighbor_id, ac AS approx_cos
         FROM (SELECT qid, nid, ac,
             row_number() OVER (PARTITION BY qid
               ORDER BY ac DESC, nid ASC) AS rk FROM d)
         WHERE rk <= 5""",
    // scale = max |x| (exact float→double), q = round half away from
    // zero of x/scale·127 — DuckDB round() ties away from zero ==
    // floor(|v| + 0.5) with the sign reapplied
    "sim_quantize" ->
      """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         sc AS (SELECT vec_id, ed,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> abs(x))), (a,b) -> greatest(a,b)) AS scale
           FROM nv)
         SELECT vec_id, scale, CAST(i - 1 AS BIGINT) AS dim,
           CASE WHEN scale = 0 THEN 0
                ELSE CAST(round(ed[i] / scale * 127.0) AS BIGINT) END AS q
         FROM sc, unnest(range(1, len(ed) + 1)) AS r(i)""",
    // Seeded spherical k-means assignment replicated exactly: same
    // L2-normalize sequential fold as dedup_embedding, centroids = the
    // 8 lowest-id normalized vectors, argmax cosine with ties to the
    // lowest cluster (row_number ORDER BY dt DESC, cluster ASC — the
    // engine's strict-greater insertion scan)
    "sim_cluster_assign" ->
      """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         seeds AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster,
             nvec AS cvec
           FROM (SELECT vec_id, nvec FROM v ORDER BY vec_id ASC LIMIT 8)),
         dots AS (SELECT v.vec_id, s.cluster,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> v.nvec[i] * s.cvec[i])),
             (a,b) -> a+b) AS dt
           FROM v CROSS JOIN seeds s),
         best AS (SELECT vec_id, cluster, dt,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY dt DESC, cluster ASC) AS rk FROM dots)
         SELECT vec_id, CAST(cluster AS INT) AS cluster, dt AS cos_sim
         FROM best WHERE rk = 1""",
    // Full HUGEINT mod-2^64 replication of the engine's SimHash
    // (FNV-1a per whitespace token — ASCII corpus, so unicode() code-
    // points equal UTF-8 bytes — then 64 per-bit votes), followed by a
    // brute-force hamming join. The operator's 4×16 banding is recall-
    // exact for hamming ≤ 3 (pigeonhole) and verification is exact, so
    // the LSH output must EQUAL this quadratic ground truth.
    "dedup_simhash" ->
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents
         ), whs AS (
           SELECT w, CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT) ELSE uh END AS BIGINT) AS h
           FROM (
             SELECT w, list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(list_filter(string_split_regex(w, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS HUGEINT))),
               (acc, c) -> (xor(acc, c) * 1099511628211) %
                 CAST(18446744073709551616 AS HUGEINT)) AS uh
             FROM (SELECT DISTINCT w FROM tok))
         ), votes AS (
           SELECT t.doc_id, b.b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM tok t JOIN whs USING (w)
           CROSS JOIN (SELECT unnest(range(64)) AS b) b
           GROUP BY t.doc_id, b.b
         ), sig AS (
           SELECT doc_id, CAST(CASE WHEN us >= CAST(9223372036854775808 AS HUGEINT)
             THEN us - CAST(18446744073709551616 AS HUGEINT) ELSE us END AS BIGINT) AS s
           FROM (SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
                   ELSE CAST(0 AS HUGEINT) END) AS us
             FROM votes GROUP BY doc_id)
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.s, b.s)) <= 3""",
    // Same SimHash replication as dedup_simhash, extended with a
    // recursive-CTE transitive closure over the hamming<=3 edges —
    // every doc labeled with its component's minimum id (singletons
    // label themselves), keep = is-the-minimum. The engine's iterative
    // min-label propagation must converge to exactly this closure.
    "dedup_clusters" -> dedupClustersOracleSql,
    // the full clusters closure nested as a subquery + an independent
    // join-back argmax (vs the engine's single struct-max aggregate)
    "dedup_canonical" ->
      ("WITH cl AS (" + dedupClustersOracleSql + """),
         j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
               FROM cl JOIN documents d USING (doc_id)),
         a AS (SELECT cluster_id, count(*) AS n_docs,
                max(n_chars) AS mc
               FROM j GROUP BY 1)
         SELECT a.cluster_id, a.n_docs,
           min(j.doc_id) AS canonical_id,
           CAST(a.mc AS BIGINT) AS canonical_size
         FROM a JOIN j ON j.cluster_id = a.cluster_id
           AND j.n_chars = a.mc
         GROUP BY 1, 2, 4"""),
    // the clusters closure nested + per-label recount; weight is the
    // single exact-integer IEEE division the engine performs
    "dedup_softweight" ->
      ("WITH cl AS (" + dedupClustersOracleSql + """),
         sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY 1)
         SELECT cl.doc_id, cl.cluster_id,
           CAST(sz.n AS BIGINT) AS cluster_size,
           CAST(1.0 AS DOUBLE) / CAST(CAST(sz.n AS BIGINT) AS DOUBLE)
             AS weight
         FROM cl JOIN sz USING (cluster_id)"""),
    "retrieval_phrase" ->
      """WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM documents),
         m AS (SELECT doc_id,
                CAST(len(list_filter(range(1, len(w)),
                  p -> w[p] = 'fast' AND w[p + 1] = 'sort')) AS BIGINT)
                  AS n_matches
               FROM t WHERE len(w) >= 2)
         SELECT doc_id, n_matches FROM m WHERE n_matches >= 1""",
    // brute-force cross-side exact-Jaccard oracle (the dedup_minhash
    // playbook, A×B instead of self-join): batch texts rebuilt with the
    // identical drop-last-token mutation, empty-shingle docs excluded
    // on both sides exactly as the engine's banding drops them.
    // DATASET ASSUMPTION (same one dedup_minhash documents): oracle
    // equality holds because every true pair here is the drop-last-token
    // mutation at Jaccard ≈ (n-3)/n ≫ 0.5, where 16 bands × 8 hashes
    // has miss probability ≈ 0, and the corpus has no incidental cross
    // pairs in the marginal 0.5–0.6 band (where banding catches only
    // ~6%). On a corpus WITH mid-band pairs the engine stays a correct
    // candidate generator (precision exact via verification; recall
    // tunable by banding) but would not equal this quadratic oracle —
    // retune bands/rows toward the threshold before expecting equality.
    "dedup_minhash_incr" ->
      """WITH hsh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE trim(text) <> '')),
         bat AS (
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(t[1:len(t)-1], ' ') AS text2
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM documents WHERE doc_id % 20 = 0)),
         bsh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text2)), '\s+') AS t
                 FROM bat WHERE trim(text2) <> ''))
         SELECT b.doc_id AS new_id, h.doc_id AS hist_id,
           CAST(len(list_intersect(b.s, h.s)) AS DOUBLE) /
             (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) AS jaccard
         FROM bsh b JOIN hsh h
           ON CAST(len(list_intersect(b.s, h.s)) AS DOUBLE) /
             (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) >= 0.5""",
    // full aHash replication: same swap-variant construction, 64
    // byte-slice cell sums vs global mean by exact integer cross-
    // multiplication, signed-BIGINT signature, brute-force hamming<=3
    // pairs (the dedup_simhash oracle pattern; ASCII corpus)
    "multimodal_neardup" ->
      """WITH params AS (
           SELECT doc_id, text AS t, length(text) AS n,
             length(text) // 2 AS half
           FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 8),
         pos AS (
           SELECT doc_id, t, n,
             CAST(1 + (doc_id * 7) % (half - 1) AS BIGINT) AS p1,
             CAST(1 + half + (doc_id * 13) % (n - half - 1) AS BIGINT) AS p2
           FROM params),
         var AS (
           SELECT doc_id + 3000000 AS media_id,
             substr(t, 1, CAST(p1 - 1 AS INT)) || substr(t, CAST(p2 AS INT), 1) ||
             substr(t, CAST(p1 + 1 AS INT), CAST(p2 - p1 - 1 AS INT)) ||
             substr(t, CAST(p1 AS INT), 1) || substr(t, CAST(p2 + 1 AS INT)) AS t
           FROM pos),
         allm AS (
           SELECT doc_id AS media_id, text AS t FROM documents
           UNION ALL SELECT media_id, t FROM var),
         codes AS (
           SELECT media_id,
             list_transform(list_filter(string_split_regex(t, ''), c -> c <> ''),
               c -> CAST(unicode(c) AS BIGINT)) AS cs
           FROM allm),
         stats AS (
           SELECT media_id, cs, len(cs) AS n,
             list_reduce(list_prepend(CAST(0 AS BIGINT), cs), (a, b) -> a + b) AS tot
           FROM codes),
         ph AS (
           SELECT media_id,
             CAST(CASE WHEN us >= CAST(9223372036854775808 AS HUGEINT)
               THEN us - CAST(18446744073709551616 AS HUGEINT) ELSE us END AS BIGINT) AS p
           FROM (
             SELECT media_id,
               list_reduce(list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(0, 64), c ->
                   CASE WHEN
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       cs[c * n // 64 + 1 : (c + 1) * n // 64]), (a, b) -> a + b) * n
                     > tot * ((c + 1) * n // 64 - c * n // 64)
                   THEN CAST(1 AS HUGEINT) << CAST(c AS INT)
                   ELSE CAST(0 AS HUGEINT) END)),
                 (a, b) -> a + b) AS us
             FROM stats))
         SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.p, b.p)) AS INT) AS hamming
         FROM ph a JOIN ph b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.p, b.p)) <= 3""",
    // same construction, cross-side only: variants (the batch) against
    // the original store (the history)
    "multimodal_neardup_incr" ->
      """WITH params AS (
           SELECT doc_id, text AS t, length(text) AS n,
             length(text) // 2 AS half
           FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 8),
         pos AS (
           SELECT doc_id, t, n,
             CAST(1 + (doc_id * 7) % (half - 1) AS BIGINT) AS p1,
             CAST(1 + half + (doc_id * 13) % (n - half - 1) AS BIGINT) AS p2
           FROM params),
         var AS (
           SELECT doc_id + 3000000 AS media_id,
             substr(t, 1, CAST(p1 - 1 AS INT)) || substr(t, CAST(p2 AS INT), 1) ||
             substr(t, CAST(p1 + 1 AS INT), CAST(p2 - p1 - 1 AS INT)) ||
             substr(t, CAST(p1 AS INT), 1) || substr(t, CAST(p2 + 1 AS INT)) AS t
           FROM pos),
         allm AS (
           SELECT doc_id AS media_id, text AS t, 0 AS is_batch FROM documents
           UNION ALL SELECT media_id, t, 1 AS is_batch FROM var),
         codes AS (
           SELECT media_id, is_batch,
             list_transform(list_filter(string_split_regex(t, ''), c -> c <> ''),
               c -> CAST(unicode(c) AS BIGINT)) AS cs
           FROM allm),
         stats AS (
           SELECT media_id, is_batch, cs, len(cs) AS n,
             list_reduce(list_prepend(CAST(0 AS BIGINT), cs), (a, b) -> a + b) AS tot
           FROM codes),
         ph AS (
           SELECT media_id, is_batch,
             CAST(CASE WHEN us >= CAST(9223372036854775808 AS HUGEINT)
               THEN us - CAST(18446744073709551616 AS HUGEINT) ELSE us END AS BIGINT) AS p
           FROM (
             SELECT media_id, is_batch,
               list_reduce(list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(0, 64), c ->
                   CASE WHEN
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       cs[c * n // 64 + 1 : (c + 1) * n // 64]), (a, b) -> a + b) * n
                     > tot * ((c + 1) * n // 64 - c * n // 64)
                   THEN CAST(1 AS HUGEINT) << CAST(c AS INT)
                   ELSE CAST(0 AS HUGEINT) END)),
                 (a, b) -> a + b) AS us
             FROM stats))
         SELECT a.media_id AS batch_id, b.media_id AS hist_id,
           CAST(bit_count(xor(a.p, b.p)) AS INT) AS hamming
         FROM ph a JOIN ph b ON a.is_batch = 1 AND b.is_batch = 0
         WHERE bit_count(xor(a.p, b.p)) <= 3""",
    // ExactSubstr replication: the same FNV window hashes over rolling
    // 20-token spans, duplicated = global count >= 2, coverage via the
    // equal-interval closed form (window + sum of min(window, gap))
    // with lag() — all-integer span arithmetic, one double division
    "dedup_substring" ->
      """WITH tok AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents),
         nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tok),
         wins AS (
           SELECT doc_id, CAST(unnest(range(0, len(t) - 20 + 1)) AS BIGINT) AS pos, t
           FROM tok WHERE len(t) >= 20),
         wstr AS (SELECT doc_id, pos,
           array_to_string(t[pos+1:pos+20], ' ') AS w FROM wins),
         dw AS (SELECT DISTINCT w FROM wstr),
         wh AS (
           SELECT w, CAST(list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) AS HUGEINT) AS h
           FROM dw),
         occ AS (SELECT s.doc_id, s.pos, wh.h FROM wstr s JOIN wh USING (w)),
         dup AS (
           SELECT doc_id, pos FROM occ
           WHERE h IN (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2)),
         cov AS (
           SELECT doc_id, CAST(sum(
             CASE WHEN prev IS NULL THEN 20
                  ELSE least(20, pos - prev) END) AS BIGINT) AS dup_tokens
           FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                 FROM dup)
           GROUP BY doc_id)
         SELECT nn.doc_id, nn.n AS n_tokens,
           coalesce(cov.dup_tokens, 0) AS dup_tokens,
           CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / CAST(nn.n AS DOUBLE)
             AS dup_fraction
         FROM nn LEFT JOIN cov USING (doc_id)""",
    // removal-action replication: same dup-window decision, covered
    // index set = distinct flattened ranges, token-level anti-join,
    // ordered re-join — pure integer/string ops, exact hash match
    "dedup_substring_clean" ->
      """WITH tok AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents),
         nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tok),
         wins AS (
           SELECT doc_id, CAST(unnest(range(0, len(t) - 20 + 1)) AS BIGINT) AS pos, t
           FROM tok WHERE len(t) >= 20),
         wstr AS (SELECT doc_id, pos,
           array_to_string(t[pos+1:pos+20], ' ') AS w FROM wins),
         dw AS (SELECT DISTINCT w FROM wstr),
         wh AS (
           SELECT w, CAST(list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) AS HUGEINT) AS h
           FROM dw),
         occ AS (SELECT s.doc_id, s.pos, wh.h FROM wstr s JOIN wh USING (w)),
         dup AS (
           SELECT doc_id, pos FROM occ
           WHERE h IN (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2)),
         cov AS (SELECT DISTINCT doc_id,
           CAST(unnest(range(pos, pos + 20)) AS BIGINT) AS idx FROM dup),
         tokpos AS (SELECT doc_id,
           CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS idx,
           unnest(t) AS tokv FROM tok),
         clean AS (
           SELECT tp.doc_id,
             array_to_string(list(tp.tokv ORDER BY tp.idx), ' ') AS ct
           FROM tokpos tp LEFT JOIN cov
             ON cov.doc_id = tp.doc_id AND cov.idx = tp.idx
           WHERE cov.idx IS NULL GROUP BY tp.doc_id),
         nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
           FROM cov GROUP BY doc_id)
         SELECT nn.doc_id, nn.n AS n_tokens,
           coalesce(nrem.n_removed, 0) AS n_removed,
           coalesce(clean.ct, '') AS clean_text
         FROM nn LEFT JOIN nrem USING (doc_id) LEFT JOIN clean USING (doc_id)""",
    // stream-triage replication: brute-force cross exact-Jaccard (the
    // dedup_minhash_incr oracle) folded to the per-stream-doc verdict —
    // status from match existence, best_jaccard = max (order-free),
    // n_matches = distinct verified history ids. Batch boundaries are
    // semantically invisible (no cross-batch state), so a batch oracle
    // checks the streaming path exactly.
    "dedup_stream_triage" ->
      """WITH hsh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE trim(text) <> '')),
         bat AS (
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(t[1:len(t)-1], ' ') AS text2
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM documents WHERE doc_id % 20 = 0)
           WHERE len(t) >= 5),
         bsh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text2)), '\s+') AS t
                 FROM bat WHERE trim(text2) <> '')),
         m AS (
           SELECT b.doc_id, h.doc_id AS hist_id,
             CAST(len(list_intersect(b.s, h.s)) AS DOUBLE) /
               (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) AS j
           FROM bsh b JOIN hsh h
             ON CAST(len(list_intersect(b.s, h.s)) AS DOUBLE) /
               (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) >= 0.5)
         SELECT b.doc_id,
           CASE WHEN count(m.hist_id) > 0 THEN 'near_dup_history'
                ELSE 'kept' END AS status,
           max(m.j) AS best_jaccard,
           CAST(count(DISTINCT m.hist_id) AS BIGINT) AS n_matches
         FROM bat b LEFT JOIN m ON m.doc_id = b.doc_id
         GROUP BY b.doc_id""",
    // keep-first replication: identical windows/hash/surgery CTEs, but
    // an occurrence is removable only when it is NOT the global first
    // (row_number over (doc_id, pos) within its hash) — the Spark
    // min(struct) canonical choice expressed as a window rank
    "dedup_substring_keepone" ->
      """WITH tok AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents),
         nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tok),
         wins AS (
           SELECT doc_id, CAST(unnest(range(0, len(t) - 20 + 1)) AS BIGINT) AS pos, t
           FROM tok WHERE len(t) >= 20),
         wstr AS (SELECT doc_id, pos,
           array_to_string(t[pos+1:pos+20], ' ') AS w FROM wins),
         dw AS (SELECT DISTINCT w FROM wstr),
         wh AS (
           SELECT w, CAST(list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) AS HUGEINT) AS h
           FROM dw),
         occ AS (SELECT s.doc_id, s.pos, wh.h FROM wstr s JOIN wh USING (w)),
         dup AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             FROM occ)
           WHERE c >= 2 AND rn > 1),
         cov AS (SELECT DISTINCT doc_id,
           CAST(unnest(range(pos, pos + 20)) AS BIGINT) AS idx FROM dup),
         tokpos AS (SELECT doc_id,
           CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS idx,
           unnest(t) AS tokv FROM tok),
         clean AS (
           SELECT tp.doc_id,
             array_to_string(list(tp.tokv ORDER BY tp.idx), ' ') AS ct
           FROM tokpos tp LEFT JOIN cov
             ON cov.doc_id = tp.doc_id AND cov.idx = tp.idx
           WHERE cov.idx IS NULL GROUP BY tp.doc_id),
         nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
           FROM cov GROUP BY doc_id)
         SELECT nn.doc_id, nn.n AS n_tokens,
           coalesce(nrem.n_removed, 0) AS n_removed,
           coalesce(clean.ct, '') AS clean_text
         FROM nn LEFT JOIN nrem USING (doc_id) LEFT JOIN clean USING (doc_id)""",
    // the Bloom prefilter + confirm join is exact by construction, so
    // the oracle is the plain history-membership classification over
    // text equality (digest grouping ≡ text equality, as dedup_exact)
    "dedup_bloom" ->
      """WITH batch AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text FROM documents
           WHERE doc_id % 7 = 0),
         hist AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0)
         SELECT b.doc_id,
           CASE WHEN h.text IS NOT NULL THEN 'dup_history' ELSE 'kept' END
             AS status
         FROM batch b LEFT JOIN hist h ON h.text = b.text""",
    // SemDeDup replicated end-to-end: the sim_cluster_assign seeding +
    // assignment CTEs, brute-force within-cluster cosine >= 0.4 edges
    // (sequential IEEE folds), then the dedup_clusters recursive-CTE
    // transitive closure — the engine's bounded-pair + min-label
    // pipeline must EQUAL this independent quadratic ground truth.
    "dedup_semantic" ->
      """WITH RECURSIVE nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         seeds AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster,
             nvec AS cvec
           FROM (SELECT vec_id, nvec FROM v ORDER BY vec_id ASC LIMIT 8)),
         dots AS (SELECT v.vec_id, s.cluster,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> v.nvec[i] * s.cvec[i])),
             (a,b) -> a+b) AS dt
           FROM v CROSS JOIN seeds s),
         best AS (SELECT vec_id, cluster, dt,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY dt DESC, cluster ASC) AS rk FROM dots),
         asg AS (SELECT vec_id, cluster FROM best WHERE rk = 1),
         pr AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib
           FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id
           JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), i -> va.nvec[i] * vb.nvec[i])),
               (x,y) -> x+y) >= 0.4
         ),
         edges AS (SELECT ia AS u, ib AS w FROM pr UNION SELECT ib, ia FROM pr),
         reach AS (
           SELECT u AS a, w AS b FROM edges
           UNION
           SELECT r.a, e.w FROM reach r JOIN edges e ON r.b = e.u
         ),
         lab AS (SELECT a AS vec_id, least(min(b), a) AS lbl FROM reach GROUP BY a)
         SELECT g.vec_id, CAST(g.cluster AS INT) AS cluster,
           coalesce(l.lbl, g.vec_id) AS rep_id,
           coalesce(l.lbl, g.vec_id) = g.vec_id AS keep
         FROM asg g LEFT JOIN lab l USING (vec_id)""",
    // IVF-cell replication: the dedup_semantic seeding/assignment CTEs
    // with rk <= 2 (top-2 cells, ties dt DESC then cluster ASC — the
    // NearestCentroids insertion order), distinct within-cell pairs,
    // exact sequential-fold cosine >= 0.4 with the score emitted
    "dedup_embedding_ivf" ->
      (ivfScoredPairsSql + """
         SELECT ia AS id_a, ib AS id_b, cs AS cos_sim
         FROM sc WHERE cs >= 0.4"""),
    // same scored candidates, symmetrized + per-node (cos desc,
    // nbr asc) rank — the whole kNN graph hash-checked
    "sim_knn_graph" ->
      (ivfScoredPairsSql + """,
         sym AS (SELECT ia AS node, ib AS nbr, cs FROM sc
               UNION ALL SELECT ib, ia, cs FROM sc),
         rk AS (SELECT node, nbr, cs, row_number() OVER
                (PARTITION BY node ORDER BY cs DESC, nbr ASC) AS rank
               FROM sym)
         SELECT node, nbr, cs AS cos_sim, CAST(rank AS BIGINT) AS rank
         FROM rk WHERE rank <= 5"""),
    "text_oov" ->
      """WITH train AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         voc AS (SELECT t AS token FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
                FROM train) x
               WHERE t <> '' GROUP BY 1 HAVING count(*) >= 2),
         ev AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
               FROM documents WHERE doc_id % 2 <> 0),
         e2 AS (SELECT doc_id, t FROM ev WHERE t <> '')
         SELECT e2.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
         FROM e2 LEFT JOIN voc ON e2.t = voc.token GROUP BY 1""",
    // auto(0.4) resolves to the IVF geometry (chooseGeometry): the
    // oracle is the same seeded-cell replication as dedup_embedding_ivf
    // projecting the row's (id_a, id_b) shape
    "dedup_embedding" ->
      """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         seeds AS (SELECT cluster, cvec FROM (
             SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster,
               nvec AS cvec FROM v) sq
           WHERE sq.cluster <
             (SELECT greatest(8, CAST(ceil(count(*) / 25.0) AS BIGINT))
              FROM v)),
         dots AS (SELECT v.vec_id, s.cluster,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> v.nvec[i] * s.cvec[i])),
             (a,b) -> a+b) AS dt
           FROM v CROSS JOIN seeds s),
         best AS (SELECT vec_id, cluster, dt,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY dt DESC, cluster ASC) AS rk FROM dots),
         asg AS (SELECT vec_id, cluster FROM best WHERE rk <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
           FROM asg a JOIN asg b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         sc AS (SELECT c.ia, c.ib,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> va.nvec[i] * vb.nvec[i])),
             (x,y) -> x+y) AS cs
           FROM cand c JOIN v va ON va.vec_id = c.ia
           JOIN v vb ON vb.vec_id = c.ib)
         SELECT ia AS id_a, ib AS id_b
         FROM sc WHERE cs >= 0.4""",
    // Full replication of the hyperplane-LSH pipeline: splitmix64 plane
    // weights in HUGEINT mod-2^64 (64×64→64 multiply via 32-bit halves;
    // HUGEINT→DOUBLE truncates, so signed values route through BIGINT
    // for round-to-nearest parity), sequential-fold normalize and dot
    // products for bit-identical IEEE sums, bucket cells, intra-cell
    // candidate pairs, exact cosine ≥ 0.4 verification — the operator
    // must EQUAL this independent DuckDB implementation exactly.
    "dedup_embedding_lsh" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         pj AS (
           SELECT t.t*4 + p.p AS plane, j.j AS j
           FROM (SELECT unnest(range(12)) AS t) t
           CROSS JOIN (SELECT unnest(range(4)) AS p) p
           CROSS JOIN (SELECT unnest(range(64)) AS j) j
         ),
         m0 AS (SELECT plane, j,
           (CAST(plane AS HUGEINT)*1000003 + j + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM pj CROSS JOIN c),
         ma AS (SELECT plane, j, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT plane, j,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT plane, j, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT plane, j,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT plane, j, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         w AS (SELECT plane, j,
           CAST(CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - m64 ELSE x6 END AS BIGINT) AS DOUBLE)
             / CAST(9223372036854775807 AS DOUBLE) * CAST(2.0 AS DOUBLE)
             - CAST(1.0 AS DOUBLE) AS wj FROM m3),
         pws AS (SELECT plane, list(wj ORDER BY j) AS ws FROM w GROUP BY plane),
         nv AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings
         ), nrm AS (
           SELECT vec_id, ed,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n
           FROM nv
         ), v AS (
           SELECT vec_id, CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm
         ), dots AS (
           SELECT vec_id, plane,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), i -> nvec[i] * ws[i])), (a,b) -> a+b) AS dt
           FROM v CROSS JOIN pws
         ), cells AS (
           SELECT vec_id, plane // 4 AS t,
             SUM(CASE WHEN dt >= 0 THEN 1 << CAST(3 - (plane % 4) AS INT) ELSE 0 END) AS bucket
           FROM dots GROUP BY vec_id, plane // 4
         ), cand AS (
           SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
           FROM cells a JOIN cells b ON a.t = b.t AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
         )
         SELECT cd.ia AS id_a, cd.ib AS id_b
         FROM cand cd
         JOIN v va ON va.vec_id = cd.ia
         JOIN v vb ON vb.vec_id = cd.ib
         WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> va.nvec[i] * vb.nvec[i])), (a,b) -> a+b)
           >= 0.4""",
    // Deterministic bigram-profile language ID: distinct 2-grams,
    // per-language overlap ratio (single IEEE division of integer
    // counts), argmax with (score, lang) struct ordering — ties break
    // to the lexicographically larger language, like Spark's greatest.
    "text_langid" ->
      """WITH g AS (
           SELECT doc_id,
             CASE WHEN length(s0) < 2 THEN [s0]
                  ELSE list_distinct(list_transform(range(1, length(s0)), i -> s0[i:i+1]))
             END AS grams
           FROM (SELECT doc_id, trim(lower(text)) AS s0 FROM documents)
         ), sc AS (
           SELECT doc_id,
             CAST(len(list_intersect(grams, ['en','er','ch','de','ei','te','in','nd','ie','ge','st','ne','be','es','un','re','an','he','au','ng'])) AS DOUBLE)
               / CAST(greatest(len(grams), 1) AS DOUBLE) AS s_de,
             CAST(len(list_intersect(grams, ['th','he','in','er','an','re','on','at','en','nd','ti','es','or','te','of','ed','is','it','al','ar'])) AS DOUBLE)
               / CAST(greatest(len(grams), 1) AS DOUBLE) AS s_en,
             CAST(len(list_intersect(grams, ['de','es','en','el','la','os','on','as','er','ra','ad','ar','re','al','an','nt','ue','ci','co','se'])) AS DOUBLE)
               / CAST(greatest(len(grams), 1) AS DOUBLE) AS s_es,
             CAST(len(list_intersect(grams, ['es','le','de','en','re','nt','on','er','te','el','an','se','et','la','ai','it','me','ou','em','ie'])) AS DOUBLE)
               / CAST(greatest(len(grams), 1) AS DOUBLE) AS s_fr
           FROM g
         )
         SELECT doc_id,
           CASE WHEN gs > 0 THEN
             (CASE WHEN s_fr = gs THEN 'fr' WHEN s_es = gs THEN 'es'
                   WHEN s_en = gs THEN 'en' ELSE 'de' END)
           ELSE 'und' END AS pred_lang,
           gs AS lang_score
         FROM (SELECT doc_id, s_de, s_en, s_es, s_fr,
                 greatest(s_de, s_en, s_es, s_fr) AS gs FROM sc)""",
    "sim_topk_brute" ->
      """SELECT qid AS query_id, CAST(rk AS INT) AS rank, nid AS neighbor_id FROM (
           SELECT q.vec_id qid, c.vec_id nid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) rk
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 8) WHERE rk <= 5""",
    // exact integer power iteration replayed round by round: every
    // sum is HUGEINT (= the engine's long fold / decimal(38,0)), the
    // norm folds the squared doubles in dim order, and both engines
    // round half-away-from-zero — bit-equality, no tolerance
    "sim_pca" -> pcaOracleSql(
      "SELECT mu.dim, CAST(m AS DOUBLE) / 1000000.0 AS mu, " +
        "CAST(q AS DOUBLE) / 1000000000.0 AS loading " +
        "FROM mu JOIN v3 USING (dim)"),
    "sim_pca_project" -> pcaOracleSql(
      "SELECT c.vec_id, CAST(sum(cv * q) AS DOUBLE) / " +
        "1000000000000000.0 AS pc1 " +
        "FROM c JOIN v3 USING (dim) GROUP BY c.vec_id"),
    "sim_pca_residual" -> pcaOracleSql(
      """SELECT c.vec_id, c.dim,
           round(CAST(CAST(cv AS HUGEINT) * 1000000000000000000 -
             CAST(dd.d AS HUGEINT) * CAST(v.q AS HUGEINT) AS DOUBLE)
             / 1e24, 12) AS residual
         FROM c
         JOIN (SELECT vec_id, sum(cv * q) AS d
               FROM c JOIN v3 USING (dim) GROUP BY vec_id) dd
           USING (vec_id)
         JOIN v3 v USING (dim)"""),
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text""",
    // closed-form canonical from the construction arithmetic — zero
    // shared parsing machinery with the operator under test
    "dedup_url" ->
      """WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HtTp' END) || '://' ||
           (CASE WHEN doc_id % 3 = 0 THEN 'www.site' ELSE 'WWW.Site' END) ||
           CAST(doc_id % 40 AS VARCHAR) || '.example.COM' ||
           (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
           '/p/' || CAST(doc_id % 25 AS VARCHAR) ||
           (CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2&utm_source=feed'
                 ELSE '?b=2&utm_campaign=x&a=1' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR)
                 ELSE '' END) AS url,
           'http://www.site' || CAST(doc_id % 40 AS VARCHAR) ||
           '.example.com/p/' || CAST(doc_id % 25 AS VARCHAR) ||
           '?a=1&b=2' AS canonical_url
         FROM documents)
         SELECT doc_id, url, canonical_url,
           (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep
         FROM u""",
    // the whitespace-normalized polynomial rolling hash (base 1000003,
    // wrap mod 2^64) is replicated with HUGEINT arithmetic; unicode()
    // codepoints equal Java's UTF-16 units for this BMP-only corpus
    "text_fingerprint" ->
      """WITH norm AS (
           SELECT doc_id,
             array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ') AS s
           FROM documents
         ), h AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(string_split_regex(s, ''),
                   c -> CAST(unicode(c) AS HUGEINT))),
               (acc, c) -> (acc * 1000003 + c) %
                 CAST(18446744073709551616 AS HUGEINT)) AS uh
           FROM norm
         )
         SELECT doc_id,
           CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT)
             ELSE uh END AS BIGINT) AS fingerprint
         FROM h""",
    // the frame-sampler stub slices deterministic byte ranges, so the
    // oracle replicates the slicing arithmetic over the UTF-8 lengths
    "multimodal_frames" ->
      """WITH m AS (
           SELECT doc_id, octet_length(encode(text)) AS len FROM documents
         ), f AS (
           SELECT doc_id, len, greatest(1, len // 4) AS step FROM m
         ), x AS (
           SELECT doc_id, len, step,
             unnest(range(0, least(4, len))) AS i FROM f
         )
         SELECT doc_id AS media_id, CAST(i AS INT) AS frame_index,
           CAST(least(len, i*step + step) - i*step AS BIGINT) AS frame_bytes
         FROM x""",
    // brute-force exact-Jaccard oracle: the LSH pipeline's verification
    // makes precision exact and the banding parameters make recall 1
    // on this corpus (asserted against brute force in AnalyticsSpec),
    // so the approximate operator must EQUAL the quadratic ground truth
    "dedup_minhash" ->
      """WITH sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE trim(text) <> ''))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5""",
    "dedup_jaccard_prefix" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> ''))) AS w
           FROM documents WHERE doc_id < 1000),
         sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                   FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
           CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jaccard
         FROM pairs
         JOIN sz na ON na.doc_id = id_a
         JOIN sz nb ON nb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) >= 0.6""",
    // brute-force all-pairs banded by the length filter; the Spark
    // side must find EXACTLY these pairs through its gram prefixes
    "dedup_editdist" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 48) AS s
           FROM documents
           WHERE doc_id < 400 AND length(substr(text, 1, 48)) >= 12)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE abs(length(a.s) - length(b.s)) <= 3
           AND levenshtein(a.s, b.s) <= 3""",
    // row-based reformulation (round 10): the original per-pair
    // list_intersect over 5000 ~1000-element lists segfaulted/OOM'd
    // DuckDB at sf0.1; exploding shingles to rows and counting
    // intersections with a grouped shingle self-join is the same math
    // (pairs sharing no shingle have J = 0 < τ, so the join is
    // complete), still structurally independent of the engine, and
    // hash-aggregation-shaped instead of allocator-hostile
    "dedup_ngram_jaccard" ->
      """WITH base AS (SELECT doc_id, trim(lower(text)) AS s0
              FROM documents WHERE trim(text) <> ''),
         sh AS (
           SELECT DISTINCT doc_id, g FROM (
             SELECT doc_id, unnest(list_transform(range(1, length(s0) - 3),
                 i -> s0[i:i+4])) AS g
             FROM base WHERE length(s0) >= 5
             UNION ALL
             SELECT doc_id, s0 AS g FROM base WHERE length(s0) < 5)),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
              count(*) AS c
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
         SELECT ia AS id_a, ib AS id_b
         FROM inter
         JOIN sz sa ON sa.doc_id = ia
         JOIN sz sb ON sb.doc_id = ib
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8""",
    "text_vocab" ->
      """SELECT w AS token, count(*) AS freq
         FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
               FROM documents)
         WHERE w <> '' GROUP BY w HAVING count(*) >= 5""",
    "text_top_tokens" ->
      """WITH c AS (SELECT lang, w AS token, count(*) AS freq
           FROM (SELECT lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                 FROM documents)
           WHERE w <> '' GROUP BY 1, 2)
         SELECT lang, token, freq,
           CAST(rk AS BIGINT) AS rk
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY lang ORDER BY freq DESC, token ASC) AS rk
               FROM c)
         WHERE rk <= 5""",
    // splitmix64(doc_id + 7) replicated (same chain as dedup_embedding
    // plane weights); bucket = bits 12..23 of the unsigned hash,
    // keep bucket < floor(0.25 * 4096)
    "sim_topk_pq" ->
      """WITH nv AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
           FROM embeddings),
         nrm AS (SELECT vec_id, ed,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ed, x -> x*x)), (a,b) -> a+b)) AS n FROM nv),
         v AS (SELECT vec_id,
           CASE WHEN n > 0 THEN list_transform(ed, x -> x/n) ELSE ed END AS nvec
           FROM nrm),
         seeds AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
             nvec AS cvec
           FROM (SELECT vec_id, nvec FROM v ORDER BY vec_id ASC LIMIT 16)),
         grid AS (SELECT gj.j, cid, cvec FROM seeds,
           unnest(range(1, 9)) AS gj(j)),
         dists AS (SELECT v.vec_id, g.j, g.cid,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             [ (v.nvec[(g.j-1)*8 + i] - g.cvec[(g.j-1)*8 + i]) *
               (v.nvec[(g.j-1)*8 + i] - g.cvec[(g.j-1)*8 + i])
               FOR i IN range(1, 9) ]),
             (a, b) -> a + b) AS d
           FROM v CROSS JOIN grid g),
         codes AS (SELECT vec_id AS neighbor_id, j, cid AS code FROM (
             SELECT vec_id, j, cid, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY d ASC, cid ASC) AS rk
             FROM dists) WHERE rk = 1),
         qd AS (SELECT vec_id AS query_id, j, cid, d FROM dists
                WHERE vec_id < 8),
         adc AS (SELECT q.query_id, c.neighbor_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(q.d ORDER BY q.j)), (a, b) -> a + b) AS adc_dist
           FROM codes c JOIN qd q ON q.j = c.j AND q.cid = c.code
             AND q.query_id <> c.neighbor_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rk FROM adc)
         SELECT query_id, CAST(rk AS INT) AS rank, neighbor_id, adc_dist
         FROM r WHERE rk <= 5""",
    "text_bpe_train" -> {
      val out = (1 to 3).map(k =>
        s"SELECT CAST($k AS BIGINT) AS round, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_count FROM m$k")
        .mkString(" UNION ALL ")
      s"""WITH seqs0 AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS l
           FROM documents),
         ${bpeUnrollBlocks(3)}
         $out"""
    },
    // same unrolled train rounds; the final select counts the
    // round-3 corpus instead of listing the merges
    "text_bpe_apply" ->
      s"""WITH seqs0 AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS l
           FROM documents),
         ${bpeUnrollBlocks(3)},
         toks AS (SELECT unnest(l) AS token FROM seqs3)
         SELECT token, CAST(count(*) AS BIGINT) AS cnt
         FROM toks WHERE token <> '' GROUP BY 1""",
    // same unrolled rounds; per-doc token sequences joined on chr(31)
    "text_bpe_segment" ->
      s"""WITH seqs0 AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS l
           FROM documents),
         ${bpeUnrollBlocks(3)},
         f AS (SELECT doc_id, list_filter(l, x -> x <> '') AS l
               FROM seqs3)
         SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
           array_to_string(l, chr(31)) AS tokens
         FROM f""",
    // fertility replay: the same unrolled merge rounds, whitespace
    // word counts + char lengths joined per doc, per-language sums,
    // two 6-dp-rounded ratios
    "text_fertility" ->
      s"""WITH seqs0 AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS l
           FROM documents),
         ${bpeUnrollBlocks(3)},
         f AS (SELECT doc_id,
             CAST(len(list_filter(l, x -> x <> '')) AS BIGINT) AS nt
           FROM seqs3),
         base AS (SELECT doc_id, lang,
             CAST(len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS BIGINT) AS w,
             CAST(length(text) AS BIGINT) AS ch
           FROM documents),
         agg AS (SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS n_words,
             CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(ch) AS BIGINT) AS n_chars
           FROM f JOIN base USING (doc_id) GROUP BY lang
           HAVING sum(w) > 0 AND sum(nt) > 0)
         SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
           round(CAST(n_bpe_tokens AS DOUBLE)
             / CAST(n_words AS DOUBLE), 6) AS fertility,
           round(CAST(n_chars AS DOUBLE)
             / CAST(n_bpe_tokens AS DOUBLE), 6) AS chars_per_token
         FROM agg""",
    // brute-force all-pairs containment over the bounded corpus — the
    // strongest oracle an index-pruned exact join can carry
    "dedup_containment" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 800
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:10], ' ')
           FROM documents WHERE doc_id < 800 AND doc_id % 20 = 0),
         tt AS (SELECT doc_id,
           list_filter(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
             x -> x <> '') AS toks
           FROM corpus),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           CAST(len(a.toks) AS DOUBLE) AS containment
           FROM tt a JOIN tt b ON a.doc_id <> b.doc_id)
         SELECT id_a, id_b, containment FROM p
         WHERE containment >= CAST(0.8 AS DOUBLE)""",
    // lead() over the identical (block, key, id) sort + the same
    // size-arithmetic Jaccard; i.u. = intersection count, union =
    // na + nb - ni so neither engine's list-union semantics matter
    "dedup_sorted_nbr" ->
      """WITH corpus AS (
           SELECT doc_id, text, lang FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' v2', lang FROM documents
           WHERE doc_id % 10 = 0),
         base AS (SELECT lang AS b, doc_id AS id,
           substr(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' '), 1, 32) AS k,
           list_filter(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')), t -> t <> '') AS toks
           FROM corpus),
         led AS (SELECT b, id, k, toks,
           lead(id, 1) OVER (PARTITION BY b ORDER BY k, id) AS id1,
           lead(toks, 1) OVER (PARTITION BY b ORDER BY k, id) AS toks1,
           lead(id, 2) OVER (PARTITION BY b ORDER BY k, id) AS id2,
           lead(toks, 2) OVER (PARTITION BY b ORDER BY k, id) AS toks2
           FROM base),
         pairs AS (
           SELECT id, id1 AS nid, toks, toks1 AS ntoks FROM led WHERE id1 IS NOT NULL
           UNION ALL
           SELECT id, id2, toks, toks2 FROM led WHERE id2 IS NOT NULL),
         jac AS (SELECT id, nid,
           CASE WHEN len(toks) + len(ntoks) - len(list_intersect(toks, ntoks)) > 0
             THEN CAST(len(list_intersect(toks, ntoks)) AS DOUBLE) /
             CAST(len(toks) + len(ntoks) - len(list_intersect(toks, ntoks)) AS DOUBLE)
           END AS jaccard
           FROM pairs)
         SELECT least(id, nid) AS id_a, greatest(id, nid) AS id_b, jaccard
         FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)""",
    "sample_bootstrap" -> {
      val ts = graft.analytics.Sampling.poissonThresholds
      val kCase = ts.zipWithIndex
        .map { case (t, i) => s"WHEN u52 < $t THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${ts.length} END")
      s"""WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         base AS (SELECT event_id, value, gs.r
                  FROM events CROSS JOIN generate_series(0, 2) AS gs(r)),
         m0 AS (SELECT value, r,
           (CAST(event_id AS HUGEINT) + r * 2654435769 + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM base CROSS JOIN c),
         ma AS (SELECT value, r, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT value, r,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT value, r, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT value, r,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT value, r, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         kk AS (SELECT value, r, $kCase AS k
                FROM (SELECT value, r, x6 // 4096 AS u52 FROM m3))
         SELECT CAST(r AS BIGINT) AS replicate,
           count(*) AS n_orig,
           CAST(sum(k) AS BIGINT) AS n_resampled,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * k) AS DOUBLE) AS sum_value
         FROM kk GROUP BY 1"""
    },
    "sample_hash" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT doc_id FROM m3 WHERE (x6 // 4096) % 4096 < 1024""",
    // two chained splitmix64 applications: h = sm64(doc_id + 7) gives
    // the home bucket (top 6 bits = // 2^58) and rep election
    // (min doc_id per bucket); draw i rehashes (h + i) to the target
    // bucket; self-collisions drop
    "sample_negatives" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, xor(x5, x5 // 2147483648) AS h FROM m2),
         reps AS (SELECT h // 288230376151711744 AS bkt, min(doc_id) AS rep
                  FROM m3 GROUP BY 1),
         d AS (SELECT doc_id, h, i
               FROM m3 CROSS JOIN (SELECT range AS i FROM range(0, 4)) r),
         n0 AS (SELECT doc_id, i,
           (h + i + CAST(11400714819323198485 AS HUGEINT)) % m64 AS y1, m64
           FROM d CROSS JOIN c),
         na AS (SELECT doc_id, i, xor(y1, y1 // 1073741824) AS y2, m64 FROM n0),
         n1 AS (SELECT doc_id, i,
           (y2 % 4294967296 * 484763065 +
            ((y2 % 4294967296 * 3210233709 + (y2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS y3, m64 FROM na),
         nb AS (SELECT doc_id, i, xor(y3, y3 // 134217728) AS y4, m64 FROM n1),
         n2 AS (SELECT doc_id, i,
           (y4 % 4294967296 * 321982955 +
            ((y4 % 4294967296 * 2496678331 + (y4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS y5, m64 FROM nb),
         n3 AS (SELECT doc_id, i, xor(y5, y5 // 2147483648) AS y6 FROM n2)
         SELECT n3.doc_id, CAST(n3.i AS BIGINT) AS draw, reps.rep AS neg_id
         FROM n3 JOIN reps ON n3.y6 // 288230376151711744 = reps.bkt
         WHERE reps.rep <> n3.doc_id""",
    // same splitmix64 chain on user_id + 7; bucket bits 12..23,
    // cumulative cuts round(.8·4096) = 3277, round(.9·4096) = 3686
    "sample_split_group" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT event_id, user_id,
           (CAST(user_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM events CROSS JOIN c),
         ma AS (SELECT event_id, user_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT event_id, user_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT event_id, user_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT event_id, user_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT event_id, user_id, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         b AS (SELECT event_id, user_id, (x6 // 4096) % 4096 AS bk FROM m3)
         SELECT event_id, user_id,
           CASE WHEN bk < 3277 THEN 'train'
                WHEN bk < 3686 THEN 'val'
                ELSE 'test' END AS split
         FROM b""",
    // same splitmix64(doc_id + 7) chain; u at 53-bit resolution,
    // key = ln(u) / max(n_chars, 1), top-200 by (key DESC, doc_id)
    "sample_weighted" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id, n_chars,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, n_chars, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, n_chars,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, n_chars, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, n_chars,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, n_chars, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         keyed AS (SELECT doc_id,
           ln((CAST(x6 // 2048 AS DOUBLE) + 0.5) / 9007199254740992.0)
             / greatest(CAST(n_chars AS DOUBLE), CAST(1.0 AS DOUBLE)) AS samp_key
           FROM m3)
         SELECT doc_id, samp_key FROM keyed
         ORDER BY samp_key DESC, doc_id ASC LIMIT 200""",
    // per-lang cut = floor(min(1, (N·sqrt(c)/Σsqrt)/c)·4096) with the
    // Σ as a sorted-lang sequential fold (list_reduce ≡ the driver's
    // foldLeft, bit-identical IEEE; sqrt is correctly rounded in both
    // engines), then the sample_hash splitmix64 bucket filter
    // target-proportion mixing replay: budget = min(count/p) over the
    // named strata, cut = floor(least(1, (p·B)/c)·4096) in the same
    // IEEE op order, then the sample_hash splitmix64 bucket filter
    "sample_mixture" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         sel AS (SELECT * FROM (VALUES
             ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
             ('fr', CAST(0.2 AS DOUBLE)), ('zh', CAST(0.1 AS DOUBLE)))
           t(lang, p)),
         cnt AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS cn
           FROM documents d JOIN sel USING (lang) GROUP BY d.lang),
         bud AS (SELECT min(CAST(cn AS DOUBLE) / p) AS b
           FROM cnt JOIN sel USING (lang)),
         cut AS (SELECT lang,
           CAST(floor(least(CAST(1.0 AS DOUBLE),
             (p * bud.b) / CAST(cn AS DOUBLE)) * CAST(4096.0 AS DOUBLE))
             AS BIGINT) AS cutv
           FROM cnt JOIN sel USING (lang) CROSS JOIN bud),
         m0 AS (SELECT doc_id, lang,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, lang, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, lang,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, lang, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, lang,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, lang, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT m3.doc_id, m3.lang
         FROM m3 JOIN cut USING (lang)
         WHERE (x6 // 4096) % 4096 < cutv""",
    // same structure with token sums: cn = sum of per-doc whitespace
    // token counts; per-doc n_tokens rides the hash chain to the output
    "sample_token_mixture" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         sel AS (SELECT * FROM (VALUES
             ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
             ('fr', CAST(0.2 AS DOUBLE)), ('zh', CAST(0.1 AS DOUBLE)))
           t(lang, p)),
         toks AS (SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         cnt AS (SELECT d.lang, CAST(sum(d.n_tokens) AS BIGINT) AS cn
           FROM toks d JOIN sel USING (lang) GROUP BY d.lang),
         bud AS (SELECT min(CAST(cn AS DOUBLE) / p) AS b
           FROM cnt JOIN sel USING (lang)),
         cut AS (SELECT lang,
           CAST(floor(least(CAST(1.0 AS DOUBLE),
             (p * bud.b) / CAST(cn AS DOUBLE)) * CAST(4096.0 AS DOUBLE))
             AS BIGINT) AS cutv
           FROM cnt JOIN sel USING (lang) CROSS JOIN bud),
         m0 AS (SELECT doc_id, lang, n_tokens,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM toks CROSS JOIN c),
         ma AS (SELECT doc_id, lang, n_tokens, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, lang, n_tokens,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, lang, n_tokens, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, lang, n_tokens,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, lang, n_tokens, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT m3.doc_id, m3.lang, m3.n_tokens
         FROM m3 JOIN cut USING (lang)
         WHERE (x6 // 4096) % 4096 < cutv""",
    "sample_curriculum" ->
      """SELECT doc_id, n_tokens,
         CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS phase
         FROM (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents)""",
    "sample_mixture_kl" ->
      """WITH tgt AS (SELECT * FROM (VALUES
           ('en', CAST(0.5 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
           ('es', CAST(0.15 AS DOUBLE)), ('zh', CAST(0.1 AS DOUBLE)),
           ('de', CAST(0.05 AS DOUBLE))) t(lang, target)),
         c AS (SELECT d.lang, tgt.target,
             CAST(sum(len(regexp_split_to_array(trim(d.text), '\s+'))) AS BIGINT) AS tokens
           FROM documents d JOIN tgt USING (lang) GROUP BY 1, 2),
         s AS (SELECT lang, target, tokens,
             CAST(tokens AS DOUBLE) /
               CAST(CAST(sum(tokens) OVER () AS BIGINT) AS DOUBLE) AS sh
           FROM c)
         SELECT lang, tokens, round(sh, 6) AS share, target,
           round(sh * ln(sh / target), 6) AS kl_term
         FROM s""",
    // UniMax waterfilling replay: ascending (count, stratum) order,
    // prefix cap sums, the closed-form capped-prefix test, one share
    // division — all arithmetic on exact-integer doubles
    "sample_unimax" ->
      """WITH tk AS (SELECT lang AS stratum,
           CAST(sum(len(list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x <> ''))) AS BIGINT) AS n_tokens
         FROM documents WHERE lang IS NOT NULL GROUP BY 1),
       o AS (SELECT stratum, n_tokens,
           CAST(n_tokens AS DOUBLE) * CAST(4.0 AS DOUBLE) AS cap,
           row_number() OVER (ORDER BY n_tokens, stratum) AS i,
           count(*) OVER () AS l,
           coalesce(sum(CAST(n_tokens AS DOUBLE) * CAST(4.0 AS DOUBLE))
             OVER (ORDER BY n_tokens, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             CAST(0 AS DOUBLE)) AS prevcap
         FROM tk),
       f AS (SELECT *,
           (prevcap + cap * CAST(l - i + 1 AS DOUBLE)
             < CAST(200000 AS DOUBLE)) AS capped
         FROM o),
       g AS (SELECT *,
           sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
           coalesce(sum(CASE WHEN capped THEN cap END) OVER (),
             CAST(0 AS DOUBLE)) AS cappedsum
         FROM f),
       q AS (SELECT stratum, n_tokens, capped,
           CASE WHEN capped THEN cap
             ELSE CASE WHEN l > k
               THEN (CAST(200000 AS DOUBLE) - cappedsum)
                 / CAST(l - k AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END END AS quota
         FROM g)
       SELECT stratum, n_tokens, capped, quota,
         quota / CAST(n_tokens AS DOUBLE) AS epochs
       FROM q""",
    // DoReMi EG replay: grid completion with λ=0 gaps, per-domain
    // cumulative sums over steps, per-step max-stabilized softmax,
    // per-domain 6-dp averages
    "sample_doremi" ->
      """WITH docs0 AS (SELECT lang AS domain, doc_id // 100 AS step,
           CAST(len(list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x <> '')) AS BIGINT) AS tk
         FROM documents WHERE lang IS NOT NULL),
       l AS (SELECT domain, step,
           avg(CAST(tk AS DOUBLE) / CAST(100.0 AS DOUBLE)) AS loss
         FROM docs0 GROUP BY 1, 2),
       doms AS (SELECT DISTINCT domain FROM l),
       steps AS (SELECT DISTINCT step FROM l),
       grid AS (SELECT domain, step,
           greatest(coalesce(loss, CAST(0 AS DOUBLE)),
             CAST(0 AS DOUBLE)) AS lam
         FROM doms CROSS JOIN steps LEFT JOIN l USING (domain, step)),
       g AS (SELECT domain, step, lam,
           CAST(0.5 AS DOUBLE) * sum(lam) OVER (PARTITION BY domain
             ORDER BY step
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gg
         FROM grid),
       sm AS (SELECT *, max(gg) OVER (PARTITION BY step) AS m FROM g),
       a AS (SELECT domain, step, lam,
           exp(gg - m) / sum(exp(gg - m)) OVER (PARTITION BY step)
             AS alpha
         FROM sm)
       SELECT domain, CAST(count(*) AS BIGINT) AS n_steps,
         round(avg(lam), 6) AS mean_excess,
         round(avg(alpha), 6) AS weight
       FROM a GROUP BY domain""",
    "text_zipf" ->
      """WITH v AS (SELECT w AS token, count(*) AS freq
           FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                 FROM documents)
           WHERE w <> '' GROUP BY w HAVING count(*) >= 2),
         top AS (SELECT token, freq FROM v
           ORDER BY freq DESC, token LIMIT 4096),
         pts AS (SELECT
             log10(CAST(row_number() OVER (ORDER BY freq DESC, token) AS DOUBLE)) AS x,
             log10(CAST(freq AS DOUBLE)) AS y
           FROM top),
         sums AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(count(*) AS DOUBLE) AS n,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x ORDER BY x)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(y ORDER BY x)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x * y ORDER BY x)), (a, v) -> a + v) AS sxy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(x * x ORDER BY x)), (a, v) -> a + v) AS sxx
           FROM pts),
         fit AS (SELECT n_types, n, sx, sy,
             (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope_raw
           FROM sums)
         SELECT n_types,
           CASE WHEN round(slope_raw, 6) = 0 THEN 0.0
             ELSE round(slope_raw, 6) END AS slope,
           CASE WHEN round((sy - slope_raw * sx) / n, 6) = 0 THEN 0.0
             ELSE round((sy - slope_raw * sx) / n, 6) END AS intercept
         FROM fit""",
    // Heaps replay: bucketed (bucket, token) counts, first-occurrence
    // MIN per type, checkpoint prefix sums, 6-dp log-log OLS
    "text_heaps" ->
      """WITH occ AS (SELECT doc_id // 64 AS b,
           unnest(list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x <> '')) AS tok
         FROM documents),
       cnt AS (SELECT b, tok, CAST(count(*) AS BIGINT) AS c
         FROM occ GROUP BY 1, 2),
       nv AS (SELECT fb, CAST(count(*) AS BIGINT) AS nv
         FROM (SELECT tok, min(b) AS fb FROM cnt GROUP BY tok)
         GROUP BY fb),
       nt AS (SELECT b, CAST(sum(c) AS BIGINT) AS nt
         FROM cnt GROUP BY b),
       j AS (SELECT nt.b, nt.nt, coalesce(nv.nv, 0) AS nv
         FROM nt LEFT JOIN nv ON nv.fb = nt.b),
       p AS (SELECT
           sum(nt) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
           sum(nv) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
         FROM j),
       pts AS (SELECT ct, cv,
           log10(CAST(ct AS DOUBLE)) AS x,
           log10(CAST(cv AS DOUBLE)) AS y
         FROM p),
       sums AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(ct) AS BIGINT) AS n_tokens,
           CAST(max(cv) AS BIGINT) AS n_types,
           CAST(count(*) AS DOUBLE) AS n,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x ORDER BY x)), (a, v) -> a + v) AS sx,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(y ORDER BY x)), (a, v) -> a + v) AS sy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x * y ORDER BY x)), (a, v) -> a + v) AS sxy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x * x ORDER BY x)), (a, v) -> a + v) AS sxx
         FROM pts),
       fit AS (SELECT n_points, n_tokens, n_types, n, sx, sy,
           (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope_raw
         FROM sums)
       SELECT n_points, n_tokens, n_types,
         CASE WHEN round(slope_raw, 6) = 0 THEN 0.0
           ELSE round(slope_raw, 6) END AS beta,
         CASE WHEN round((sy - slope_raw * sx) / n, 6) = 0 THEN 0.0
           ELSE round((sy - slope_raw * sx) / n, 6) END AS log10_k
       FROM fit""",
    "sample_temperature" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS cn
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(sum(cn) AS BIGINT) AS total FROM cnt),
         sw AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(sqrt(CAST(cn AS DOUBLE)) ORDER BY lang)),
             (a,b) -> a+b) AS s FROM cnt),
         cut AS (SELECT lang,
           CAST(floor(least(CAST(1.0 AS DOUBLE),
             (CAST(tot.total AS DOUBLE) * sqrt(CAST(cn AS DOUBLE)) / sw.s)
               / CAST(cn AS DOUBLE)) * CAST(4096.0 AS DOUBLE)) AS BIGINT)
             AS cutv
           FROM cnt CROSS JOIN tot CROSS JOIN sw),
         m0 AS (SELECT doc_id, lang,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, lang, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, lang,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, lang, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, lang,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, lang, xor(x5, x5 // 2147483648) AS x6 FROM m2)
         SELECT m3.doc_id, m3.lang
         FROM m3 JOIN cut USING (lang)
         WHERE (x6 // 4096) % 4096 < cutv""",
    // same hash; rank over the SIGNED 64-bit value (Spark's long
    // ordering), ties broken by doc_id
    "sample_interleave" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         sgn AS (SELECT doc_id,
           CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - m64 ELSE x6 END AS BIGINT) AS s FROM m3)
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY s ASC, doc_id ASC) - 1 AS BIGINT) AS shuffle_rank
         FROM sgn""",
    // interleave rank (splitmix64 chain) → stream = rank % 8 → linear
    // recursion replicating the greedy packer: a pack closes when the
    // next document would exceed the 512-token budget
    "sample_pack" ->
      """WITH RECURSIVE c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         sgn AS (SELECT doc_id,
           CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - m64 ELSE x6 END AS BIGINT) AS s FROM m3),
         rnk AS (SELECT doc_id,
           row_number() OVER (ORDER BY s ASC, doc_id ASC) - 1 AS rk FROM sgn),
         tok AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
           FROM documents),
         st AS (SELECT r.rk % 8 AS stream,
           row_number() OVER (PARTITION BY r.rk % 8 ORDER BY r.rk) - 1 AS i,
           r.doc_id, tk.t
           FROM rnk r JOIN tok tk USING (doc_id)),
         rec AS (
           SELECT stream, i, doc_id, t,
             CAST(0 AS BIGINT) AS pack, 0 AS pos, t AS acc
           FROM st WHERE i = 0
           UNION ALL
           SELECT s.stream, s.i, s.doc_id, s.t,
             CASE WHEN r.acc + s.t > 512 THEN r.pack + 1 ELSE r.pack END,
             CASE WHEN r.acc + s.t > 512 THEN 0 ELSE r.pos + 1 END,
             CASE WHEN r.acc + s.t > 512 THEN s.t ELSE r.acc + s.t END
           FROM rec r JOIN st s ON s.stream = r.stream AND s.i = r.i + 1
         )
         SELECT doc_id, stream * 4294967296 + pack AS pack_id,
           CAST(pos AS INT) AS pack_pos
         FROM rec""",
    // NFC + lower + control-chars→space + whitespace collapse + trim;
    // [\x00-\x1f\x7f] is exactly Java's \p{Cntrl}
    "text_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
           '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
         CAST(length(trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
           '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
         FROM documents""",
    // full replication of the hashed linear classifier: FNV-1a per
    // distinct feature (unigrams + adjacent bigrams, in order), weight
    // = signed(splitmix64(h + 42)) / 2^63 via 32-bit-half multiplies,
    // margin = sequential left-fold mean (list_reduce ≡ the engine's
    // accumulation loop, bit-identical IEEE)
    "text_classifier" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), fe AS (
           SELECT doc_id, list_concat(t,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS f
           FROM tok
         ), dfeat AS (
           SELECT DISTINCT unnest(f) AS w FROM fe
         ), wh AS (
           SELECT w, list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(list_filter(string_split_regex(w, ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, ch) -> (xor(acc, ch) * 1099511628211) %
               CAST(18446744073709551616 AS HUGEINT)) AS uh
           FROM dfeat
         ), m0 AS (SELECT w,
           (uh + 42 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM wh CROSS JOIN c),
         ma AS (SELECT w, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT w,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT w, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT w,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT w, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         wt AS (SELECT w,
           CAST(CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - m64 ELSE x6 END AS BIGINT) AS DOUBLE)
             / CAST(9223372036854775808 AS DOUBLE) AS wgt FROM m3),
         ex AS (SELECT doc_id, unnest(f) AS w, unnest(range(len(f))) AS i FROM fe),
         lw AS (SELECT doc_id, list(wgt ORDER BY i) AS ws
                FROM ex JOIN wt USING (w) GROUP BY doc_id),
         sm AS (SELECT doc_id, len(ws) AS nf,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE), ws),
                    (a, b) -> a + b) AS s FROM lw)
         SELECT doc_id, CAST(nf AS BIGINT) AS n_features,
           s / nf AS margin, s / nf > 0 AS keep FROM sm""",
    // identical injected input; patterns restricted to the Java-regex ∩
    // RE2 common subset, replacement order email → ip → phone
    "text_pii" ->
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com at 10.' || CAST(doc_id % 256 AS VARCHAR)
             || '.0.1 or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d[\d\- ]{5,13}\d', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t,
             '\+\d[\d\- ]{5,13}\d')) AS BIGINT) AS n_phones
         FROM d""",
    // duplicate-word fraction + most frequent word bigram (overlapping
    // occurrences; ties break to the lexicographically largest gram,
    // Spark's max-of-(count, gram)-struct) and its character share
    "text_repetition" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), st AS (
           SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
             length(array_to_string(t, ' ')) AS jc FROM tok
         ), bg AS (
           SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok)
         ), ct AS (
           SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
         ), tp AS (
           SELECT doc_id, bigram AS top_bigram, c AS top_c,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY c DESC, bigram DESC) AS rn
           FROM ct
         )
         SELECT s.doc_id,
           (s.n - s.nd) / CAST(s.n AS DOUBLE) AS frac_dup_words,
           coalesce(tp.top_bigram, '') AS top_bigram,
           coalesce(CAST(tp.top_c * length(tp.top_bigram) AS DOUBLE)
             / CAST(s.jc AS DOUBLE), CAST(0 AS DOUBLE)) AS frac_chars_top_bigram
         FROM st s LEFT JOIN tp ON tp.doc_id = s.doc_id AND tp.rn = 1""",
    // 8-token distinct gram sets (the dedup_minhash shingle pattern at
    // n=8); the eval set is the 20-token prefix of every 50th doc
    "text_decontaminate" ->
      """WITH sh AS (
           SELECT doc_id,
             CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 6),
                    i -> array_to_string(t[i:i+7], ' ')))
             END AS s
           FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE trim(text) <> '')
         ), evt AS (
           SELECT array_to_string(t[1:20], ' ') AS etext
           FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t
                 FROM documents WHERE doc_id % 50 = 0)
         ), ev AS (
           SELECT DISTINCT unnest(
             CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 6),
                    i -> array_to_string(t[i:i+7], ' ')))
             END) AS gram
           FROM (SELECT regexp_split_to_array(trim(lower(etext)), '\s+') AS t
                 FROM evt WHERE trim(etext) <> '')
         ), tr AS (
           SELECT doc_id, unnest(s) AS gram FROM sh
         ), hits AS (
           SELECT tr.doc_id, count(*) AS h FROM tr JOIN ev USING (gram)
           GROUP BY tr.doc_id
         )
         SELECT d.doc_id, coalesce(h.h, 0) AS n_contaminated_grams,
           coalesce(h.h, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN hits h USING (doc_id)""",
    // splitmix64(doc_id + 7) chain (same as sample_interleave), ranked
    // within each lang by the SIGNED hash, quota 20 per lang
    "sample_stratified" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         m0 AS (SELECT doc_id,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM documents CROSS JOIN c),
         ma AS (SELECT doc_id, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, xor(x5, x5 // 2147483648) AS x6, m64 FROM m2),
         sgn AS (SELECT doc_id,
           CAST(CASE WHEN x6 >= CAST(9223372036854775808 AS HUGEINT)
             THEN x6 - m64 ELSE x6 END AS BIGINT) AS s FROM m3)
         SELECT doc_id, lang FROM (
           SELECT d.doc_id, d.lang,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY g.s ASC, d.doc_id ASC) AS rk
           FROM documents d JOIN sgn g USING (doc_id))
         WHERE rk <= 20""",
    // 10-token segmentation replicated; keep = first (doc_id, seg_idx)
    // occurrence of the segment corpus-wide (sha-256 grouping in the
    // winnowing replay: k=4 word grams FNV-hashed in HUGEINT, signed
    // BIGINT compare domain, w=8 window minima via the join-back form
    // (the engine's one-pass struct-argmin is tie-equivalent for the
    // distinct (doc, h) posting set), df ≤ 64 cap, pairs ≥ 2 shared
    "dedup_winnow" ->
      s"""WITH t AS (SELECT doc_id, list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'),
             x -> x <> '') AS toks FROM documents),
       g0 AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           array_to_string(toks[i:i+3], ' ') AS gram,
           CAST(len(toks) - 3 AS BIGINT) AS m
         FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
           LATERAL unnest(range(1, len(toks) - 2)) AS r(i)),
       hh AS (SELECT doc_id, i, m,
           CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT)
             ELSE uh END AS BIGINT) AS h
         FROM (SELECT doc_id, i, m, ${fnvFoldSql("gram")} AS uh FROM g0)),
       wins AS (SELECT doc_id, i, h, CAST(s AS BIGINT) AS s
         FROM hh, LATERAL unnest(range(greatest(1, i - 7),
           least(i, greatest(1, m - 7)) + 1)) AS r(s)),
       mins AS (SELECT doc_id, s, min(h) AS mh FROM wins GROUP BY 1, 2),
       fps AS (SELECT DISTINCT doc_id, mh AS h FROM mins),
       dfreq AS (SELECT h FROM fps GROUP BY h HAVING count(*) <= 64),
       keep AS (SELECT fps.doc_id, fps.h FROM fps JOIN dfreq USING (h)),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
       FROM p GROUP BY 1, 2 HAVING count(*) >= 2""",
    // winnowing span replay: the same CTEs with positions kept — the
    // rightmost-min tie via the join-back max(i) (≡ the engine's
    // one-pass min(struct(h, −i)) argmin)
    "dedup_winnow_spans" ->
      s"""WITH t AS (SELECT doc_id, list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'),
             x -> x <> '') AS toks FROM documents),
       g0 AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           array_to_string(toks[i:i+3], ' ') AS gram,
           CAST(len(toks) - 3 AS BIGINT) AS m
         FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
           LATERAL unnest(range(1, len(toks) - 2)) AS r(i)),
       hh AS (SELECT doc_id, i, m,
           CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT)
             ELSE uh END AS BIGINT) AS h
         FROM (SELECT doc_id, i, m, ${fnvFoldSql("gram")} AS uh FROM g0)),
       wins AS (SELECT doc_id, i, h, CAST(s AS BIGINT) AS s
         FROM hh, LATERAL unnest(range(greatest(1, i - 7),
           least(i, greatest(1, m - 7)) + 1)) AS r(s)),
       mins AS (SELECT doc_id, s, min(h) AS mh FROM wins GROUP BY 1, 2),
       sel AS (SELECT w.doc_id, w.s, m.mh, max(w.i) AS pos
         FROM wins w JOIN mins m
           ON w.doc_id = m.doc_id AND w.s = m.s AND w.h = m.mh
         GROUP BY 1, 2, 3),
       fps AS (SELECT DISTINCT doc_id, pos, mh AS h FROM sel),
       dfreq AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM fps)
         GROUP BY h HAVING count(*) <= 64),
       keep AS (SELECT fps.doc_id, fps.pos, fps.h
         FROM fps JOIN dfreq USING (h))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b, a.h AS h
       FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id""",
    // incremental winnowing triage replay: the dedup_stream_triage
    // mutation winnowed and matched against the full corpus's
    // df-capped postings (cap computed on the HISTORY alone — the
    // batch-decomposability contract)
    "dedup_winnow_stream" ->
      s"""WITH bat AS (SELECT doc_id + 1000000 AS doc_id,
             array_to_string(t[1:len(t)-1], ' ') AS text
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                 FROM documents WHERE doc_id % 20 = 0)
           WHERE len(t) >= 5),
       ht AS (SELECT doc_id, list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'),
             x -> x <> '') AS toks FROM documents),
       hg AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           array_to_string(toks[i:i+3], ' ') AS gram,
           CAST(len(toks) - 3 AS BIGINT) AS m
         FROM (SELECT doc_id, toks FROM ht WHERE len(toks) >= 4),
           LATERAL unnest(range(1, len(toks) - 2)) AS r(i)),
       hh2 AS (SELECT doc_id, i, m,
           CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT)
             ELSE uh END AS BIGINT) AS h
         FROM (SELECT doc_id, i, m, ${fnvFoldSql("gram")} AS uh FROM hg)),
       hw AS (SELECT doc_id, i, h, CAST(s AS BIGINT) AS s
         FROM hh2, LATERAL unnest(range(greatest(1, i - 7),
           least(i, greatest(1, m - 7)) + 1)) AS r(s)),
       hm AS (SELECT doc_id, s, min(h) AS mh FROM hw GROUP BY 1, 2),
       hfps AS (SELECT DISTINCT doc_id AS hist_id, mh AS h FROM hm),
       hdf AS (SELECT h FROM hfps GROUP BY h HAVING count(*) <= 64),
       hkeep AS (SELECT hist_id, h FROM hfps JOIN hdf USING (h)),
       bt AS (SELECT doc_id, list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'),
             x -> x <> '') AS toks FROM bat),
       bg AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           array_to_string(toks[i:i+3], ' ') AS gram,
           CAST(len(toks) - 3 AS BIGINT) AS m
         FROM (SELECT doc_id, toks FROM bt WHERE len(toks) >= 4),
           LATERAL unnest(range(1, len(toks) - 2)) AS r(i)),
       bh2 AS (SELECT doc_id, i, m,
           CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             THEN uh - CAST(18446744073709551616 AS HUGEINT)
             ELSE uh END AS BIGINT) AS h
         FROM (SELECT doc_id, i, m, ${fnvFoldSql("gram")} AS uh FROM bg)),
       bw AS (SELECT doc_id, i, h, CAST(s AS BIGINT) AS s
         FROM bh2, LATERAL unnest(range(greatest(1, i - 7),
           least(i, greatest(1, m - 7)) + 1)) AS r(s)),
       bm AS (SELECT doc_id, s, min(h) AS mh FROM bw GROUP BY 1, 2),
       bfps AS (SELECT DISTINCT doc_id, mh AS h FROM bm)
       SELECT b.doc_id, k.hist_id, CAST(count(*) AS BIGINT) AS n_shared
       FROM bfps b JOIN hkeep k USING (h)
       GROUP BY 1, 2 HAVING count(*) >= 2""",
    // engine ≡ direct segment-text grouping here)
    "dedup_segments" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), segs AS (
           SELECT doc_id, CAST(i AS INT) AS seg_idx,
             array_to_string(t[(i*10+1):(i*10+10)], ' ') AS seg
           FROM (SELECT doc_id, t,
                   unnest(range(CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i
                 FROM tok)
         )
         SELECT doc_id, seg_idx,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
         FROM segs""",
    // sha-256 grouping in the engine ≡ direct text grouping here;
    // batch = documents ∪ id-shifted copies of every 5th doc,
    // history = every 3rd doc (the gate's constructed-dup scenario)
    "dedup_incremental" ->
      """WITH hist AS (
           SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0
         ), nw AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 5 = 0
         ), fb AS (
           SELECT text, min(doc_id) AS first_id FROM nw GROUP BY text
         )
         SELECT n.doc_id,
           CASE WHEN h.text IS NOT NULL THEN 'dup_history'
                WHEN n.doc_id <> f.first_id THEN 'dup_batch'
                ELSE 'kept' END AS status
         FROM nw n LEFT JOIN hist h USING (text) JOIN fb f USING (text)""",
    "text_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
         FROM documents""",
    "text_quality" ->
      """SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g'))) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / CAST(length(text) AS DOUBLE) AS digit_ratio,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'], x)))
           / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stopword_ratio,
         length(text) / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS mean_token_len
         FROM documents""",
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         substr(sha256(text), 1, 16) AS sha256_prefix
         FROM documents""",
    // NB train replay: label-conditional token counts, totals row,
    // then the exact ((c+1)/(N+1·V)) division/ln order
    "text_nb_train" ->
      """WITH occ AS (SELECT lang,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
         FROM documents),
       oq AS (SELECT * FROM occ WHERE tok <> ''),
       cnt AS (SELECT tok,
           CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_pos,
           CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS c_neg
         FROM oq GROUP BY tok),
       tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_neg) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS v FROM cnt)
       SELECT tok, c_pos, c_neg,
         ln(((CAST(c_pos AS DOUBLE) + 1.0)
             / (CAST(n_pos AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))) /
            ((CAST(c_neg AS DOUBLE) + 1.0)
             / (CAST(n_neg AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))))
           AS log_odds
       FROM cnt CROSS JOIN tot""",
    // NB score replay: the same model CTE, the class prior, and the
    // idx-ordered sequential fold per document (list_reduce ≡ the
    // array_sort+aggregate fold, bit-identical IEEE)
    "text_nb_score" ->
      """WITH occ AS (SELECT doc_id,
           CAST(generate_subscripts(tarr, 1) - 1 AS BIGINT) AS idx,
           unnest(tarr) AS tok
         FROM (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS tarr
           FROM documents)),
       oq AS (SELECT doc_id, idx, tok FROM occ WHERE tok <> ''),
       tocc AS (SELECT d.lang,
           unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS tok
         FROM documents d),
       cnt AS (SELECT tok,
           CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_pos,
           CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS c_neg
         FROM tocc WHERE tok <> '' GROUP BY tok),
       tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_neg) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS v FROM cnt),
       model AS (SELECT tok,
           ln(((CAST(c_pos AS DOUBLE) + 1.0)
               / (CAST(n_pos AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))) /
              ((CAST(c_neg AS DOUBLE) + 1.0)
               / (CAST(n_neg AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))))
             AS lo
         FROM cnt CROSS JOIN tot),
       prior AS (SELECT
           ln(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
             / CAST(count(*) FILTER (WHERE lang <> 'en') AS DOUBLE)) AS pr
         FROM documents),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(lo ORDER BY idx)), (a, x) -> a + x) AS so
         FROM oq JOIN model USING (tok) GROUP BY doc_id)
       SELECT doc_id, n_tokens, (pr + so) AS score,
         ((pr + so) > 0) AS pred_pos
       FROM agg CROSS JOIN prior""",
    // JSD replication: per-stratum relative frequencies, the pair×vocab
    // grid via LEFT joins, the operator's exact term tree (0-count
    // terms contribute literal 0), token-ordered list_reduce fold
    "text_divergence" ->
      """WITH occ AS (SELECT lang AS stratum, tok
           FROM (SELECT lang, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> '')) AS tok
             FROM documents)),
       cnt AS (SELECT stratum, tok, CAST(count(*) AS BIGINT) AS c
         FROM occ GROUP BY 1, 2),
       tot AS (SELECT stratum, CAST(sum(c) AS BIGINT) AS n
         FROM cnt GROUP BY 1),
       rel AS (SELECT stratum, tok,
           CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
         FROM cnt JOIN tot USING (stratum)),
       pairs AS (SELECT a.stratum AS sa, b.stratum AS sb
         FROM tot a CROSS JOIN tot b WHERE a.stratum < b.stratum),
       toks AS (SELECT DISTINCT tok FROM cnt),
       grid AS (SELECT sa, sb, g.tok,
           coalesce(ra.p, CAST(0 AS DOUBLE)) AS p,
           coalesce(rb.p, CAST(0 AS DOUBLE)) AS q
         FROM pairs CROSS JOIN toks g
           LEFT JOIN rel ra ON ra.stratum = sa AND ra.tok = g.tok
           LEFT JOIN rel rb ON rb.stratum = sb AND rb.tok = g.tok),
       term AS (SELECT sa, sb, tok,
           (CASE WHEN p > 0 THEN CAST(0.5 AS DOUBLE)
               * (p * ln(p / (CAST(0.5 AS DOUBLE) * (p + q))))
             ELSE CAST(0 AS DOUBLE) END)
           + (CASE WHEN q > 0 THEN CAST(0.5 AS DOUBLE)
               * (q * ln(q / (CAST(0.5 AS DOUBLE) * (p + q))))
             ELSE CAST(0 AS DOUBLE) END) AS t,
           (p > 0 AND q > 0) AS common
         FROM grid)
       SELECT sa AS stratum_a, sb AS stratum_b,
         CAST(sum(CASE WHEN common THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(t ORDER BY tok)), (a, x) -> a + x), 9) AS jsd
       FROM term GROUP BY 1, 2""",
    // SBO model replication: the three n-gram count CTEs over the en
    // slice, each score one division of BIGINT counts with the literal
    // ×0.4 backoff products in the operator's association order
    "text_sbo_train" ->
      """WITH t AS (SELECT list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x <> '') AS toks
           FROM documents WHERE lang = 'en'),
       c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt1
         FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       tot AS (SELECT CAST(sum(cnt1) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS vsz FROM c1),
       c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt2
         FROM (SELECT toks[i] AS a, toks[i + 1] AS b
           FROM (SELECT toks FROM t WHERE len(toks) >= 2),
             LATERAL unnest(range(1, len(toks))) AS r(i))
         GROUP BY a, b),
       c3 AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS cnt3
         FROM (SELECT toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
           FROM (SELECT toks FROM t WHERE len(toks) >= 3),
             LATERAL unnest(range(1, len(toks) - 1)) AS r(i))
         GROUP BY u, v, w)
       SELECT CAST(3 AS BIGINT) AS ord, u, v, w,
           CAST(cnt3 AS DOUBLE) / CAST(cnt2 AS DOUBLE) AS score
         FROM c3 JOIN c2 ON c3.u = c2.a AND c3.v = c2.b
       UNION ALL
       SELECT CAST(2 AS BIGINT), NULL, a, b,
           CAST(0.4 AS DOUBLE)
             * (CAST(cnt2 AS DOUBLE) / CAST(cnt1 AS DOUBLE))
         FROM c2 JOIN c1 ON c2.a = c1.w
       UNION ALL
       SELECT CAST(1 AS BIGINT), NULL, NULL, w,
           CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
             * ((CAST(cnt1 AS DOUBLE) + 1.0) / CAST(n + vsz AS DOUBLE)))
         FROM c1 CROSS JOIN tot
       UNION ALL
       SELECT CAST(0 AS BIGINT), NULL, NULL, NULL,
           CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) / CAST(n + vsz AS DOUBLE)))
         FROM tot""",
    // SBO score replay: the same model CTEs, trigram occurrences over
    // ALL docs with their position, three LEFT joins + coalesce down
    // the backoff chain, idx-ordered list_reduce fold (≡ the
    // array_sort+aggregate fold, bit-identical IEEE)
    "text_sbo_score" ->
      """WITH t AS (SELECT list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x <> '') AS toks
           FROM documents WHERE lang = 'en'),
       c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt1
         FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       tot AS (SELECT CAST(sum(cnt1) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS vsz FROM c1),
       c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt2
         FROM (SELECT toks[i] AS a, toks[i + 1] AS b
           FROM (SELECT toks FROM t WHERE len(toks) >= 2),
             LATERAL unnest(range(1, len(toks))) AS r(i))
         GROUP BY a, b),
       c3 AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS cnt3
         FROM (SELECT toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
           FROM (SELECT toks FROM t WHERE len(toks) >= 3),
             LATERAL unnest(range(1, len(toks) - 1)) AS r(i))
         GROUP BY u, v, w),
       m3 AS (SELECT c3.u, c3.v, c3.w,
           CAST(cnt3 AS DOUBLE) / CAST(cnt2 AS DOUBLE) AS s3
         FROM c3 JOIN c2 ON c3.u = c2.a AND c3.v = c2.b),
       m2 AS (SELECT a AS v, b AS w, CAST(0.4 AS DOUBLE)
             * (CAST(cnt2 AS DOUBLE) / CAST(cnt1 AS DOUBLE)) AS s2
         FROM c2 JOIN c1 ON c2.a = c1.w),
       m1 AS (SELECT w, CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
             * ((CAST(cnt1 AS DOUBLE) + 1.0) / CAST(n + vsz AS DOUBLE)))
             AS s1
         FROM c1 CROSS JOIN tot),
       m0 AS (SELECT CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) / CAST(n + vsz AS DOUBLE))) AS s0
         FROM tot),
       tri AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
           toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
         FROM (SELECT doc_id, list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> '') AS toks
             FROM documents) d,
           LATERAL unnest(range(1, len(toks) - 1)) AS r(i)
         WHERE len(toks) >= 3),
       contrib AS (SELECT tri.doc_id, tri.idx,
           -ln(coalesce(s3, s2, s1, s0)) AS nl
         FROM tri
           LEFT JOIN m3 ON tri.u = m3.u AND tri.v = m3.v AND tri.w = m3.w
           LEFT JOIN m2 ON tri.v = m2.v AND tri.w = m2.w
           LEFT JOIN m1 ON tri.w = m1.w
           CROSS JOIN m0)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(nl ORDER BY idx)), (a, x) -> a + x) / count(*)
           AS mean_neg_logprob_sbo
       FROM contrib GROUP BY doc_id""",
    // closed-form clean text from the page-construction arithmetic —
    // zero shared parsing machinery with the operator under test: the
    // kept fragments joined by single spaces, entities in their
    // decoded forms (&amp;lt; correctly as &lt;)
    "text_strip_html" ->
      """SELECT doc_id,
         'd' || CAST(doc_id AS VARCHAR) || ' Doc ' || CAST(doc_id AS VARCHAR)
           || ' ' || text || ' AT&T <tag> "q''s" &lt;' AS clean_text,
         CAST(length('d' || CAST(doc_id AS VARCHAR) || ' Doc '
           || CAST(doc_id AS VARCHAR) || ' ' || text
           || ' AT&T <tag> "q''s" &lt;') AS BIGINT) AS n_chars_clean
         FROM documents""",
    // Gopher rules replay: every signal is an integer count over the
    // row's own tokens/lines followed by one double division, and
    // every rule is a comparison on that — bit-exact in both engines.
    // list_intersect/array_intersect both return DISTINCT elements,
    // so the stop-hit count agrees.
    "text_gopher" ->
      """WITH s AS (SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           string_split(text, chr(10)) AS lines
         FROM documents),
       sig AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_word_len,
           CAST(len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
           CAST(len(list_filter(lines,
               l -> regexp_matches(l, '^\s*[•\-\*]'))) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS bullet_frac,
           CAST(len(list_filter(lines,
               l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS ellipsis_frac,
           CAST(len(list_filter(toks,
               x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS alpha_frac,
           CAST(len(list_intersect(
               list_distinct(list_transform(toks, x -> lower(x))),
               ['the','be','to','of','and','that','have','with']))
             AS BIGINT) AS stop_hits
         FROM s)
       SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
         (n_words >= 50 AND n_words <= 100000) AS pass_words,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_word_len,
         (symbol_ratio <= 0.1) AS pass_symbol,
         (bullet_frac <= 0.9) AS pass_bullet,
         (ellipsis_frac <= 0.3) AS pass_ellipsis,
         (alpha_frac >= 0.8) AS pass_alpha,
         (stop_hits >= 2) AS pass_stop,
         ((n_words >= 50 AND n_words <= 100000)
           AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
           AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
           AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
           AND stop_hits >= 2) AS keep
       FROM sig""",
    // URL-gate replay: the same constructed mix, the same host regex
    // (RE2 ≡ Java on these patterns), integer counts + one division
    "url_filter" ->
      """WITH u AS (SELECT doc_id,
           CASE WHEN doc_id % 17 = 0
                THEN 'http://10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
                  || '/raw'
                WHEN doc_id % 13 = 0
                THEN 'https://a.b.c.d.e.f.example.com/deep/'
                  || CAST(doc_id % 9 AS VARCHAR)
                WHEN doc_id % 11 = 0
                THEN 'https://site' || CAST(doc_id AS VARCHAR)
                  || '777888999.example.com/x'
                WHEN doc_id % 7 = 0
                THEN 'https://ok.example.com/free-casino-poker/'
                  || CAST(doc_id % 9 AS VARCHAR)
                WHEN doc_id % 5 = 0
                THEN 'https://ok.example.com/page?q=' || repeat('x', 3000)
                ELSE 'https://www.example.com/articles/'
                  || CAST(doc_id % 50 AS VARCHAR)
           END AS url
         FROM documents),
       h AS (SELECT doc_id, url,
           lower(regexp_replace(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(\[[^\]]*\]|[^/?#:]*)',
             1), '^\[|\]$', '', 'g')) AS host
         FROM u),
       sig AS (SELECT doc_id, url, host,
           CAST(length(url) AS BIGINT) AS url_len,
           CAST(len(regexp_extract_all(host, '\.')) AS BIGINT) AS host_dots,
           CAST(len(regexp_extract_all(host, '[0-9]')) AS DOUBLE) /
             CAST(greatest(length(host), 1) AS DOUBLE) AS host_digit_frac,
           regexp_matches(host, '^[0-9]+(\.[0-9]+){3}$') AS is_ip_host,
           (contains(lower(url), 'casino') OR contains(lower(url), 'poker'))
             AS has_block_word
         FROM h)
       SELECT doc_id, url, host, url_len, host_dots, host_digit_frac,
         is_ip_host, has_block_word,
         (url_len <= 2048) AS pass_len,
         (host_dots <= 4) AS pass_dots,
         (host_digit_frac <= 0.4) AS pass_digits,
         NOT is_ip_host AS pass_ip,
         NOT has_block_word AS pass_blocklist,
         (url_len <= 2048 AND host_dots <= 4 AND host_digit_frac <= 0.4
           AND NOT is_ip_host AND NOT has_block_word) AS keep
       FROM sig""",
    // stratified-NTILE machinery replay: the window form IS the
    // semantics (the engine's bin decomposition must be invisible)
    "sample_tiles" ->
      """WITH s AS (SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents)
       SELECT doc_id, lang, n_tokens,
         CAST(ntile(4) OVER (PARTITION BY lang
           ORDER BY CAST(n_tokens AS DOUBLE), doc_id) AS BIGINT) AS tile
       FROM s""",
    // C4 rules replay: the same line predicates (RE2 ≡ Java regex on
    // single lines), the newline re-join, and the page verdicts
    "text_c4" ->
      """WITH s AS (SELECT doc_id, text,
           string_split(text, chr(10)) AS lines
         FROM documents),
       k AS (SELECT doc_id, text, lines,
           list_filter(lines, l ->
             regexp_matches(l, '[.!?"]\s*$')
             AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
               x -> x <> '')) >= 5
             AND NOT contains(lower(l), 'javascript')
             AND NOT (contains(lower(l), 'terms of use')
               OR contains(lower(l), 'privacy policy')
               OR contains(lower(l), 'cookie policy')
               OR contains(lower(l), 'uses cookies')
               OR contains(lower(l), 'use of cookies')
               OR contains(lower(l), 'use cookies'))) AS kept
         FROM s),
       sig AS (SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{') AS has_brace,
           false AS has_badword
         FROM k),
       sig2 AS (SELECT *,
           CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT)
             AS n_sentences
         FROM sig)
       SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
         has_brace, has_badword, clean_text,
         (n_sentences >= 5) AS pass_sentences,
         NOT has_lorem AS pass_lorem,
         NOT has_brace AS pass_brace,
         NOT has_badword AS pass_badword,
         (n_sentences >= 5 AND NOT has_lorem AND NOT has_brace
           AND NOT has_badword) AS keep
       FROM sig2""",
    // FineWeb line-shape replay: the same line split, the C4
    // terminal-punct regex, per-distinct-line (c−1)·len duplicate
    // mass via nested list HOFs, single double divisions
    "text_fineweb" ->
      """WITH s AS (SELECT doc_id,
           string_split(text, chr(10)) AS lines
         FROM documents),
       sig AS (SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines, l ->
             regexp_matches(l, '[.!?"]\s*$'))) AS BIGINT) AS punct,
           CAST(len(list_filter(lines, l ->
             length(l) < 30)) AS BIGINT) AS short,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(lines, l -> CAST(length(l) AS BIGINT))),
             (a, b) -> a + b) AS tot_chars,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_distinct(lines), d ->
               (CAST(len(list_filter(lines, l -> l = d)) AS BIGINT) - 1)
                 * CAST(length(d) AS BIGINT))),
             (a, b) -> a + b) AS dup_chars
         FROM s),
       frac AS (SELECT doc_id, n_lines,
           CAST(punct AS DOUBLE) / CAST(n_lines AS DOUBLE)
             AS punct_line_frac,
           CAST(short AS DOUBLE) / CAST(n_lines AS DOUBLE)
             AS short_line_frac,
           CASE WHEN tot_chars = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(dup_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE)
           END AS dup_line_char_frac
         FROM sig)
       SELECT doc_id, n_lines, punct_line_frac, short_line_frac,
         dup_line_char_frac,
         (punct_line_frac > 0.12) AS pass_punct,
         (dup_line_char_frac < 0.1) AS pass_dup,
         (short_line_frac < 0.67) AS pass_short,
         (punct_line_frac > 0.12 AND dup_line_char_frac < 0.1
           AND short_line_frac < 0.67) AS keep
       FROM frac""",
    // fractional-epoch up-sampling replay: floor/frac in the same
    // IEEE order, the splitmix64(doc_id + 7) bucket gate for the
    // fractional copy, then range() unnest for the copy index
    "sample_epochs" ->
      """WITH c AS (SELECT CAST(18446744073709551616 AS HUGEINT) AS m64),
         eps AS (SELECT * FROM (VALUES
             ('en', CAST(1.0 AS DOUBLE)), ('de', CAST(2.3 AS DOUBLE)),
             ('fr', CAST(0.5 AS DOUBLE)), ('zh', CAST(0.0 AS DOUBLE)))
           t(lang, e)),
         base AS (SELECT doc_id, d.lang,
             CAST(floor(e) AS BIGINT) AS whole,
             CAST(floor((e - floor(e)) * 4096.0) AS BIGINT) AS cutv
           FROM documents d JOIN eps USING (lang)),
         m0 AS (SELECT doc_id, lang, whole, cutv,
           (CAST(doc_id AS HUGEINT) + 7 + CAST(11400714819323198485 AS HUGEINT)) % m64 AS x1, m64
           FROM base CROSS JOIN c),
         ma AS (SELECT doc_id, lang, whole, cutv, xor(x1, x1 // 1073741824) AS x2, m64 FROM m0),
         m1 AS (SELECT doc_id, lang, whole, cutv,
           (x2 % 4294967296 * 484763065 +
            ((x2 % 4294967296 * 3210233709 + (x2 // 4294967296) * 484763065) % 4294967296)
            * 4294967296) % m64 AS x3, m64 FROM ma),
         mb AS (SELECT doc_id, lang, whole, cutv, xor(x3, x3 // 134217728) AS x4, m64 FROM m1),
         m2 AS (SELECT doc_id, lang, whole, cutv,
           (x4 % 4294967296 * 321982955 +
            ((x4 % 4294967296 * 2496678331 + (x4 // 4294967296) * 321982955) % 4294967296)
            * 4294967296) % m64 AS x5, m64 FROM mb),
         m3 AS (SELECT doc_id, lang, whole, cutv, xor(x5, x5 // 2147483648) AS x6 FROM m2),
         reps AS (SELECT doc_id, lang,
             whole + CASE WHEN (x6 // 4096) % 4096 < cutv
               THEN 1 ELSE 0 END AS nreps
           FROM m3)
         SELECT doc_id, lang, CAST(unnest(range(nreps)) AS BIGINT) AS epoch
         FROM reps WHERE nreps > 0"""
  )

  /** Streaming twins share their batch siblings' oracles verbatim —
    * stream == batch is exactly the law each gate row proves. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "text_sbo_stream" -> oraclesBase("text_sbo_score"),
    "text_divergence_stream" -> oraclesBase("text_divergence"),
    "dedup_url_stream" -> oraclesBase("dedup_url"),
    "text_quality_stream" -> oraclesBase("text_quality"),
    "sample_hash_stream" -> oraclesBase("sample_hash"),
    "text_pii_stream" -> oraclesBase("text_pii"),
    "text_fingerprint_stream" -> oraclesBase("text_fingerprint"),
    "text_langid_stream" -> oraclesBase("text_langid"),
    "text_tokens_stream" -> oraclesBase("text_tokens"),
    "text_normalize_stream" -> oraclesBase("text_normalize"),
    "text_chunk_stream" -> oraclesBase("text_chunk"),
    "text_classifier_stream" -> oraclesBase("text_classifier"),
    "text_entropy_stream" -> oraclesBase("text_entropy"),
    "text_hashing_stream" -> oraclesBase("text_hashing"),
    "sample_mixture_kl_stream" -> oraclesBase("sample_mixture_kl"),
    "text_zipf_stream" -> oraclesBase("text_zipf"),
    "text_heaps_stream" -> oraclesBase("text_heaps"),
    "sample_unimax_stream" -> oraclesBase("sample_unimax"),
    "sample_doremi_stream" -> oraclesBase("sample_doremi"),
    "text_gopher_stream" -> oraclesBase("text_gopher"),
    "text_nb_stream" -> oraclesBase("text_nb_score"),
    "text_c4_stream" -> oraclesBase("text_c4"),
    "text_fineweb_stream" -> oraclesBase("text_fineweb"),
    "url_filter_stream" -> oraclesBase("url_filter"),
    // CCNet buckets: the full SBO train+score replay as a CTE, lang
    // joined back, ntile(3) per language over (score, doc_id) — tile
    // order is safe cross-engine because every score value is
    // bit-identical (the text_sbo_score row proves it)
    "text_ccnet_buckets" -> {
      val sbo = oraclesBase("text_sbo_score")
      s"""WITH sc AS ($sbo),
       j AS (SELECT sc.doc_id, d.lang, sc.n_trigrams,
           sc.mean_neg_logprob_sbo
         FROM sc JOIN documents d USING (doc_id)),
       tl AS (SELECT *, ntile(3) OVER (PARTITION BY lang
           ORDER BY mean_neg_logprob_sbo, doc_id) AS t FROM j)
       SELECT doc_id, lang, n_trigrams, mean_neg_logprob_sbo,
         CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket
       FROM tl"""
    },
    "sample_epochs_stream" -> oraclesBase("sample_epochs"),
    "dedup_exact_stream" -> oraclesBase("dedup_exact"),
    "text_strip_html_stream" -> oraclesBase("text_strip_html"))
}
