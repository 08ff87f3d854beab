package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fences.fence
import HashFunctions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, fingerprinting. All are
  * row-local column expressions — they run inside the scan's codegen
  * stage with zero shuffles, which is what lets them stream over 100 TB.
  */
object Text {

  /** Whitespace tokens of trimmed text. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword-ish token count: runs of letters, runs of digits,
    * and single other non-space characters each count as one token —
    * the usual cheap proxy for tokenizer counts.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Token/char counting: (whitespace tokens, bpe-ish tokens, chars). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(wsTokens(col(textCol))).cast("long").as("n_ws_tokens"),
      bpeishTokenCount(col(textCol)).cast("long").as("n_bpeish_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "on", "for", "with", "as", "at", "by")

  /** Heuristic quality features + a composite score. Every ratio is a
    * single IEEE division of integer counts — bit-identical across
    * engines, so the whole frame is oracle-checkable.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol) +: qualityMetrics(col(textCol)).map {
      case (n, c) => c.as(n) }: _*)

  /** Column-level core of [[qualityScore]] (name → expression), shared
    * with the `text.quality` pipeline processor so both surfaces
    * compute bit-identical features. Row-local, codegen'd.
    */
  def qualityMetrics(t: Column): Seq[(String, Column)] = {
    val nChars = length(t).cast("double")
    val nTokens = size(wsTokens(t)).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\.,;:!\\?'\"]", ""))).cast("double")
    val digits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    val stop = size(filter(wsTokens(lower(t)),
      x => x.isin(stopwords.map(lit(_)): _*))).cast("double")
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nTokens.cast("long"),
      "punct_ratio" -> (punct / nChars),
      "digit_ratio" -> (digits / nChars),
      "stopword_ratio" -> (stop / nTokens),
      "mean_token_len" -> (nChars / nTokens))
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", table A1 —
    * public paper): the canonical heuristic filter set a pretraining
    * pipeline applies before any model-based scoring. Per document:
    * the raw signals, one boolean per rule, and the conjunction
    * `keep`. Distinct from [[qualityScore]] (free-form signals): this
    * is the NAMED rule set with the paper's thresholds as defaults.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [minMeanWordLen, maxMeanWordLen]; symbol-to-word ratio ('#' or
    * '...') ≤ maxSymbolRatio; lines starting with a bullet ≤
    * maxBulletFrac; lines ending with an ellipsis ≤ maxEllipsisFrac;
    * fraction of words with ≥1 alphabetic char ≥ minAlphaFrac; ≥
    * minStopHits distinct members of the paper's stop-word list.
    *
    * Row-local (one pass over the row's own tokens/lines — no corpus
    * state, no shuffle; streams safely). Ratio arithmetic is integer
    * counts then a single double division, so the DuckDB oracle
    * replays it bit-exactly.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000,
                  minMeanWordLen: Double = 3.0,
                  maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Long = 2): DataFrame = {
    // tokenize/line-split ONCE in their own projection: the higher-
    // order signal functions don't participate in codegen CSE, so an
    // inline formulation re-splits the document per signal (measured
    // 5× slower at sf0.1). Multi-referenced non-cheap aliases are
    // exactly what CollapseProject refuses to inline, so the arrays
    // stay materialized.
    val staged = df.select(col(idCol), col(textCol).as("_gt"))
      .withColumn("_gtoks", wsTokens(col("_gt")))
      .withColumn("_glines", split(col("_gt"), "\n"))
    val sigCols = gopherSignals(col("_gt"), col("_gtoks"), col("_glines"))
    val sig = staged.select(
      col(idCol) +: sigCols.map { case (n, c) => c.as(n) }: _*)
    val verdicts = gopherVerdicts(n => col(n), minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletFrac,
      maxEllipsisFrac, minAlphaFrac, minStopHits)
    sig.select(col(idCol) +: sigCols.map(nc => col(nc._1)) ++:
      verdicts.map { case (n, c) => c.as(n) }: _*)
  }

  /** The paper's stop-word containment list (table A1). */
  private[analytics] val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Raw Gopher signals (name → expression) over PRE-MATERIALIZED
    * token/line arrays — shared with the `text.gopher` pipeline
    * processor so both surfaces compute bit-identical signals. Callers
    * must alias `toks`/`lines` in their own projection first (see
    * [[gopherRules]] for why).
    */
  def gopherSignals(t: Column, toks: Column,
                    lines: Column): Seq[(String, Column)] = {
    val nWords = size(toks).cast("long")
    val nWordsD = nWords.cast("double")
    val charSum = aggregate(
      transform(toks, x => length(x).cast("long")),
      lit(0L), (a, b) => a + b)
    val symbols = (regexp_count(t, lit("#")) +
      regexp_count(t, lit("\\.\\.\\."))).cast("long")
    val nLines = size(lines).cast("double")
    // literal bullet/ellipsis chars (not \ u escapes): the pattern
    // must parse identically in Java regex and the oracle's RE2
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> (charSum.cast("double") / nWordsD),
      "symbol_ratio" -> (symbols.cast("double") / nWordsD),
      "bullet_frac" -> (size(filter(lines,
        l => l.rlike("^\\s*[•\\-\\*]"))).cast("double") / nLines),
      "ellipsis_frac" -> (size(filter(lines,
        l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / nLines),
      "alpha_frac" -> (size(filter(toks,
        x => x.rlike("[A-Za-z]"))).cast("double") / nWordsD),
      "stop_hits" -> size(array_intersect(
        array_distinct(transform(toks, lower(_))),
        array(gopherStops.map(lit(_)): _*))).cast("long"))
  }

  /** Per-rule verdicts + `keep` from the named signals. `sig` maps a
    * signal name from [[gopherSignals]] to the column carrying it
    * (cheap references — verdicts never recompute a signal).
    */
  def gopherVerdicts(sig: String => Column, minWords: Long,
                     maxWords: Long, minMeanWordLen: Double,
                     maxMeanWordLen: Double, maxSymbolRatio: Double,
                     maxBulletFrac: Double, maxEllipsisFrac: Double,
                     minAlphaFrac: Double,
                     minStopHits: Long): Seq[(String, Column)] = {
    val passWords = sig("n_words") >= lit(minWords) &&
      sig("n_words") <= lit(maxWords)
    val passWl = sig("mean_word_len") >= lit(minMeanWordLen) &&
      sig("mean_word_len") <= lit(maxMeanWordLen)
    val passSym = sig("symbol_ratio") <= lit(maxSymbolRatio)
    val passBullet = sig("bullet_frac") <= lit(maxBulletFrac)
    val passEllipsis = sig("ellipsis_frac") <= lit(maxEllipsisFrac)
    val passAlpha = sig("alpha_frac") >= lit(minAlphaFrac)
    val passStop = sig("stop_hits") >= lit(minStopHits)
    Seq(
      "pass_words" -> passWords,
      "pass_word_len" -> passWl,
      "pass_symbol" -> passSym,
      "pass_bullet" -> passBullet,
      "pass_ellipsis" -> passEllipsis,
      "pass_alpha" -> passAlpha,
      "pass_stop" -> passStop,
      "keep" -> (passWords && passWl && passSym && passBullet &&
        passEllipsis && passAlpha && passStop))
  }

  /** C4 cleanup rules (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer" §2.2,
    * and the released `c4_utils` defaults — public paper + code): the
    * OTHER canonical pretraining filter set next to [[gopherRules]],
    * and line-first where Gopher is page-first. A line is RETAINED
    * when it ends in terminal punctuation (. ! ? "), carries ≥
    * `minLineWords` words (the released code's 5; the paper's prose
    * says 3), and mentions neither javascript nor a cookie/policy
    * notice; a page is KEPT when its retained text has ≥
    * `minSentences` sentence marks, and the original page contains no
    * "lorem ipsum", no curly brace, and no `badWords` entry (the
    * paper applies a public blocklist; it is a parameter here,
    * default empty). Output per document: signals, one boolean per
    * page rule, the conjunction `keep`, and `clean_text` (the
    * retained lines re-joined with newlines — what C4 actually
    * trains on; empty when nothing survives).
    *
    * Row-local (one pass over the row's own lines — no corpus state,
    * no shuffle; streams safely). Counts are integers and every
    * string test is a fixed regex/containment, so the DuckDB oracle
    * replays all of it bit-exactly.
    */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
              minSentences: Long = 5, minLineWords: Long = 5,
              badWords: Seq[String] = Nil): DataFrame = {
    // line-split ONCE, kept-lines ONCE, clean text ONCE, in their own
    // projections (the gopherRules staging discipline: HOF signals
    // don't CSE, so an inline formulation re-splits the document — or
    // re-runs the line predicate — per signal)
    val staged = df.select(col(idCol), col(textCol).as("_ct"))
      .withColumn("_clines", split(col("_ct"), "\n"))
      .withColumn("_ckept",
        filter(col("_clines"), l => c4LineKeep(l, minLineWords)))
      .withColumn("_cclean", array_join(col("_ckept"), "\n"))
    val sigCols = c4Signals(col("_ct"), col("_clines"), col("_ckept"),
      col("_cclean"), badWords)
    val sig = staged.select(
      col(idCol) +: sigCols.map { case (n, c) => c.as(n) }: _*)
    val verdicts = c4Verdicts(n => col(n), minSentences)
    sig.select(col(idCol) +: sigCols.map(nc => col(nc._1)) ++:
      verdicts.map { case (n, c) => c.as(n) }: _*)
  }

  /** The released `c4_utils` policy-substring list: lines mentioning
    * any of these are boilerplate notices, not content. */
  private[analytics] val c4PolicySubstrings = Seq(
    "terms of use", "privacy policy", "cookie policy", "uses cookies",
    "use of cookies", "use cookies")

  /** The C4 line-retention predicate over one line `l` — shared by
    * the signals, the cleaner, and the `text.c4` processor. */
  def c4LineKeep(l: Column, minLineWords: Long): Column = {
    val words = size(filter(split(trim(l), "\\s+"), x => x =!= ""))
    val lo = lower(l)
    l.rlike("[.!?\"]\\s*$") &&
      words >= lit(minLineWords) &&
      !lo.contains("javascript") &&
      !c4PolicySubstrings.map(p => lo.contains(p): Column)
        .reduce(_ || _)
  }

  /** Retained lines re-joined with newlines (C4's output text). */
  def c4CleanText(lines: Column, minLineWords: Long = 5): Column =
    array_join(filter(lines, l => c4LineKeep(l, minLineWords)), "\n")

  /** Raw C4 signals (name → expression) over PRE-MATERIALIZED line /
    * kept-line arrays + cleaned text — shared with the `text.c4`
    * pipeline processor so both surfaces compute bit-identical
    * signals. Callers must alias `lines`/`kept`/`clean` in their own
    * projection first (see [[c4Rules]] for why — the line predicate
    * then runs exactly once per document).
    */
  def c4Signals(t: Column, lines: Column, kept: Column,
                clean: Column,
                badWords: Seq[String]): Seq[(String, Column)] = {
    val lo = lower(t)
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept_lines" -> size(kept).cast("long"),
      "n_sentences" -> regexp_count(clean, lit("[.!?]")).cast("long"),
      "has_lorem" -> lo.contains("lorem ipsum"),
      "has_brace" -> t.contains("{"),
      "has_badword" ->
        (if (badWords.isEmpty) lit(false)
         else badWords.map(w => lo.contains(w.toLowerCase): Column)
           .reduce(_ || _)),
      "clean_text" -> clean)
  }

  /** Per-rule verdicts + `keep` from the named signals (cheap
    * references — verdicts never recompute a signal). */
  def c4Verdicts(sig: String => Column,
                 minSentences: Long): Seq[(String, Column)] = {
    val passSentences = sig("n_sentences") >= lit(minSentences)
    val passLorem = !sig("has_lorem")
    val passBrace = !sig("has_brace")
    val passBadword = !sig("has_badword")
    Seq(
      "pass_sentences" -> passSentences,
      "pass_lorem" -> passLorem,
      "pass_brace" -> passBrace,
      "pass_badword" -> passBadword,
      "keep" -> (passSentences && passLorem && passBrace && passBadword))
  }

  /** FineWeb quality heuristics (Penedo et al. 2024, "The FineWeb
    * Datasets: Decanting the Web for the Finest Text Data at Scale"
    * §3.6 — public paper): the three line-shape filters FineWeb adds
    * AFTER its C4/Gopher passes, derived by eyeballing what survived
    * them. A page is REMOVED when the fraction of lines ending in
    * terminal punctuation (C4's `. ! ? "` set) is ≤ `minPunctLineFrac`
    * (0.12), when the fraction of characters sitting in duplicated
    * lines is ≥ `maxDupLineCharFrac` (0.1), or when the fraction of
    * lines shorter than `shortLineChars` (30) characters is ≥
    * `maxShortLineFrac` (0.67). Output per document: the raw
    * fractions, one boolean per rule, and the conjunction `keep`.
    *
    * Duplicated-line mass counts every occurrence BEYOND the first:
    * for each distinct line value with `c` occurrences of length
    * `len`, it contributes `(c−1)·len` characters, over a
    * denominator of all line characters (newlines excluded both
    * sides) — the Gopher "characters in duplicate lines" convention.
    *
    * Row-local (one pass over the row's own lines — no corpus state,
    * no shuffle; streams safely). The duplicate scan is the row's
    * distinct-lines × lines product — bounded by the document's own
    * line count, never corpus-sized. Counts are integers and each
    * fraction a single double division, so the DuckDB oracle replays
    * everything bit-exactly.
    */
  def finewebRules(df: DataFrame, idCol: String, textCol: String,
                   minPunctLineFrac: Double = 0.12,
                   maxDupLineCharFrac: Double = 0.1,
                   maxShortLineFrac: Double = 0.67,
                   shortLineChars: Int = 30): DataFrame = {
    // line-split ONCE in its own projection (the gopherRules staging
    // discipline: the three HOF signals below each walk the array, so
    // an inline split would re-run per signal; a multi-referenced
    // non-cheap alias is exactly what CollapseProject refuses to
    // inline, so the array stays materialized)
    val staged = df.select(col(idCol), col(textCol).as("_ft"))
      .withColumn("_flines", split(col("_ft"), "\n"))
    val sigCols = finewebSignals(col("_flines"), shortLineChars)
    val sig = staged.select(
      col(idCol) +: sigCols.map { case (n, c) => c.as(n) }: _*)
    val verdicts = finewebVerdicts(n => col(n), minPunctLineFrac,
      maxDupLineCharFrac, maxShortLineFrac)
    sig.select(col(idCol) +: sigCols.map(nc => col(nc._1)) ++:
      verdicts.map { case (n, c) => c.as(n) }: _*)
  }

  /** Raw FineWeb signals (name → expression) over a PRE-MATERIALIZED
    * line array — shared with the `text.fineweb` pipeline processor
    * so both surfaces compute bit-identical fractions. Callers must
    * alias `lines` in their own projection first (see
    * [[finewebRules]] for why).
    */
  def finewebSignals(lines: Column,
                     shortLineChars: Int): Seq[(String, Column)] = {
    val nLines = size(lines).cast("long")
    val nLinesD = nLines.cast("double")
    val punct = size(filter(lines, l => l.rlike("[.!?\"]\\s*$")))
      .cast("long")
    val short = size(filter(lines,
      l => length(l) < lit(shortLineChars))).cast("long")
    val totChars = aggregate(
      transform(lines, l => length(l).cast("long")),
      lit(0L), (a, b) => a + b)
    val dupChars = aggregate(
      transform(array_distinct(lines), d =>
        (size(filter(lines, l => l === d)).cast("long") - lit(1L)) *
          length(d).cast("long")),
      lit(0L), (a, b) => a + b)
    Seq(
      "n_lines" -> nLines,
      "punct_line_frac" -> (punct.cast("double") / nLinesD),
      "short_line_frac" -> (short.cast("double") / nLinesD),
      "dup_line_char_frac" -> when(totChars === 0L, lit(0.0))
        .otherwise(dupChars.cast("double") / totChars.cast("double")))
  }

  /** Per-rule verdicts + `keep` from the named signals (cheap
    * references — verdicts never recompute a signal). Thresholds are
    * the paper's removal conditions, negated into keeps. */
  def finewebVerdicts(sig: String => Column, minPunctLineFrac: Double,
                      maxDupLineCharFrac: Double,
                      maxShortLineFrac: Double): Seq[(String, Column)] = {
    val passPunct = sig("punct_line_frac") > lit(minPunctLineFrac)
    val passDup = sig("dup_line_char_frac") < lit(maxDupLineCharFrac)
    val passShort = sig("short_line_frac") < lit(maxShortLineFrac)
    Seq(
      "pass_punct" -> passPunct,
      "pass_dup" -> passDup,
      "pass_short" -> passShort,
      "keep" -> (passPunct && passDup && passShort))
  }

  /** Tiny built-in character-trigram profiles (public-knowledge top
    * trigrams per language) for heuristic language ID. The score of a
    * language is the fraction of the document's trigrams found in its
    * profile; argmax wins, 'und' when nothing matches.
    */
  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en",
      "nd", "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "te", "in", "nd", "ie",
      "ge", "st", "ne", "be", "es", "un", "re", "an", "he", "au", "ng"),
    "fr" -> Seq("es", "le", "de", "en", "re", "nt", "on", "er", "te",
      "el", "an", "se", "et", "la", "ai", "it", "me", "ou", "em", "ie"),
    "es" -> Seq("de", "es", "en", "el", "la", "os", "on", "as", "er",
      "ra", "ad", "ar", "re", "al", "an", "nt", "ue", "ci", "co", "se"))

  /** Language-ID: bigram-profile overlap scoring. Deterministic and
    * cheap; a real pipeline would swap in fastText — the operator shape
    * (text → (lang, score)) is what the engine provides.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val best = langBest(col(textCol))
    df.select(col(idCol),
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
        .as("pred_lang"),
      best.getField("score").as("lang_score"))
  }

  /** Column-level core of [[langId]] (struct(score, lang) of the best
    * profile; struct compare orders by score then lang), shared with
    * the `text.langid` pipeline processor.
    */
  def langBest(text: Column): Column = {
    val grams = Dedup.charNgrams(text, 2)
    val scores = profiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      struct(
        (size(array_intersect(grams, array(prof.map(lit(_)): _*))).cast("double") /
          greatest(size(grams), lit(1)).cast("double")).as("score"),
        lit(lang).as("lang"))
    }
    greatest(scores: _*)
  }

  /** Document fingerprint: polynomial rolling hash over the
    * whitespace-normalized lowercase text (content-defined identity,
    * stable under formatting noise).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintOf(col(textCol)).as("fingerprint"))

  /** Column-level core of [[fingerprint]], shared with the
    * `text.fingerprint` pipeline processor. */
  def fingerprintOf(t: Column): Column =
    rolling_fingerprint(concat_ws(" ", split(lower(trim(t)), "\\s+")))

  /** Canonical text normalization — the first stage of every training-
    * data pipeline: Unicode NFC (composed/decomposed spellings unify),
    * lowercase, control characters to spaces, whitespace runs collapsed
    * to single spaces, trimmed. Row-local, fully codegen'd, zero
    * shuffle — it streams at scan speed over 100 TB.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(nfc_normalize(text)), "[\\p{Cntrl}]", " "),
      "\\s+", " "))

  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      normalizeText(col(textCol)).as("norm_text"),
      length(normalizeText(col(textCol))).cast("long").as("n_chars_norm"))

  /** HTML → text extraction (the WET stage of a web-corpus pipeline):
    * script/style blocks and comments are REMOVED with their content,
    * remaining tags are replaced by spaces (so adjacent block text
    * does not fuse), the common character entities are decoded, and
    * whitespace runs collapse. Decode order is part of the contract:
    * entities decode AFTER tag stripping (so `&lt;tag&gt;` survives
    * as literal text, never re-parsed as markup) and `&amp;` decodes
    * LAST (so `&amp;lt;` yields `&lt;`, not `<` — no double decode).
    * Row-local regex inside the scan's codegen stage; streams at scan
    * speed. Real extractors add DOM heuristics (boilerplate removal
    * is [[Text.repetition]]'s and the dedup family's job downstream);
    * the operator shape (html → clean text) is what the engine
    * provides.
    */
  def stripHtmlText(h: Column): Column = {
    val noScript = regexp_replace(h, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // amp decodes LAST
    val ent1 = regexp_replace(noTags, "&lt;", "<")
    val ent2 = regexp_replace(ent1, "&gt;", ">")
    val ent3 = regexp_replace(ent2, "&quot;", "\"")
    val ent4 = regexp_replace(ent3, "&#39;", "'")
    val ent5 = regexp_replace(ent4, "&nbsp;", " ")
    val ent6 = regexp_replace(ent5, "&amp;", "&")
    trim(regexp_replace(ent6, "\\s+", " "))
  }

  def stripHtml(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      stripHtmlText(col(textCol)).as("clean_text"),
      length(stripHtmlText(col(textCol))).cast("long").as("n_chars_clean"))

  // PII patterns deliberately restricted to constructs with identical
  // semantics in Java regex and RE2 (the oracle's engine): character
  // classes, bounded repetition, greedy quantifiers, ASCII \b. Phones
  // require a leading '+' so a plain digit run is never swallowed.
  private[analytics] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[analytics] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[analytics] val PhoneRe = "\\+\\d[\\d\\- ]{5,13}\\d"

  /** PII redaction: emails, IPv4 addresses, and +-prefixed phone
    * numbers replaced with typed placeholders, plus per-category match
    * counts from the original text. Row-local regex work inside the
    * scan's codegen stage — the 100 TB cost is the scan itself.
    * Redaction order (email → ip → phone) is part of the contract:
    * later patterns see the earlier placeholders, never the raw match.
    */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol) +: (("clean_text" -> piiClean(t)) +: piiCounts(t))
      .map { case (n, c) => c.as(n) }: _*)
  }

  /** Column-level redaction core of [[piiRedact]], shared with the
    * `text.pii` pipeline processor. */
  def piiClean(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-category match counts over the ORIGINAL text (name →
    * expression), shared with the `text.pii` pipeline processor. */
  def piiCounts(t: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"),
    "n_ips" -> size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long"),
    "n_phones" -> size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long"))

  /** Gopher-style repetition features (Rae et al. 2021, §A1.1): the
    * duplicate-word fraction (row-local) and the share of characters
    * covered by the single most frequent word bigram. Occurrences
    * count with overlap (the sliding window); the top bigram ties
    * break to the lexicographically LARGEST gram (max of a
    * (count, gram) struct — replicated by the oracle's ORDER BY).
    *
    * Scale shape: the bigram mode needs a per-(doc, gram) count — two
    * hash aggregations keyed by doc id, shuffling one row per distinct
    * (doc, bigram), never the documents. Everything else is row-local.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(lower(trim(col(textCol))))
    // fenced (r18): base feeds the per-doc stats AND the bigram explode
    // — unfenced, the tokenize pass replayed twice
    val base = fence(df.select(col(idCol), toks.as("toks")))
    val stats = base.select(col(idCol),
      size(col("toks")).as("n"),
      size(array_distinct(col("toks"))).as("nd"),
      length(concat_ws(" ", col("toks"))).as("n_join_chars"))
    val nm1 = greatest(size(col("toks")) - 1, lit(0))
    val bigrams = base.select(col(idCol),
      explode(zip_with(
        slice(col("toks"), lit(1), nm1),
        slice(col("toks"), lit(2), nm1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val top = bigrams
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(struct(col("c"), col("bigram"))).as("m"))
      .select(col(idCol), col("m.c").as("top_c"), col("m.bigram").as("top_bigram"))
    stats.join(top, Seq(idCol), "left").select(col(idCol),
      ((col("n") - col("nd")).cast("double") / col("n").cast("double"))
        .as("frac_dup_words"),
      coalesce(col("top_bigram"), lit("")).as("top_bigram"),
      coalesce(
        (col("top_c") * length(col("top_bigram"))).cast("double") /
          col("n_join_chars").cast("double"),
        lit(0.0)).as("frac_chars_top_bigram"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * `n`-token gram with the evaluation set (the standard 8-13-gram
    * overlap check run before every serious pretraining job). Gram
    * sets are per-document DISTINCT ([[graft.analytics.Shingles]]), so
    * the hit count is the number of distinct contaminated grams.
    *
    * Scale shape: the eval set is small by definition — its distinct
    * gram set is broadcast, so the corpus side is one scan + one
    * row-local shingle pass + a broadcast semi-join-shaped inner join;
    * the only aggregation is per-doc hit counting keyed by id. The
    * corpus never shuffles its text.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hits"), lit(0L)).as("n_contaminated_grams"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Model-based quality classification: a linear classifier over
    * hashed unigram+bigram features ([[LinearTextScore]]), weights
    * derived deterministically from the seed. `margin` is the mean
    * feature weight; `keep` is the sign — the sigmoid a real classifier
    * would apply is monotone in the margin, so thresholding the margin
    * IS thresholding the probability. Row-local, zero shuffle; the
    * struct result is materialized once via a temp column (a
    * multi-referenced non-cheap expression survives CollapseProject).
    */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      seed: Long = 42L): DataFrame =
    df.withColumn("_sc",
        linear_text_score(wsTokens(lower(trim(col(textCol)))), seed))
      .select(col(idCol),
        col("_sc.n_features").as("n_features"),
        col("_sc.margin").as("margin"),
        (col("_sc.margin") > 0).as("keep"))

  /** TRAINED Naive-Bayes quality classifier, train side — the
    * CCNet/GPT-3-style "reference vs crawl" filter as a real trained
    * model rather than [[classifierScore]]'s seed-derived weights:
    * per-token add-α log-odds
    *
    *   log_odds(t) = ln( ((c₊+α)/(N₊+αV)) / ((c₋+α)/(N₋+αV)) )
    *
    * from one grouped count over token occurrences (c₊/c₋ = label-
    * conditional occurrence counts, N = totals, V = vocab size).
    * `labelCol` is boolean (true = the reference class). Output
    * (tok, c_pos, c_neg, log_odds) — a parquet-able model table.
    *
    * Scale shape: occurrences shuffle once to DISTINCT tokens with
    * map-side combine; the totals row is a broadcast scalar. Every
    * arithmetic step is fixed-order IEEE over integer counts
    * ([[HashFunctions.java_ln]] for the bit-replicable ln), so the
    * DuckDB oracle replays the model exactly.
    */
  def nbTrain(df: DataFrame, idCol: String, textCol: String,
              labelCol: String, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha=$alpha")
    val occ = df.select(col(labelCol).cast("boolean").as("_lab"),
        explode(wsTokens(lower(trim(col(textCol))))).as("tok"))
      .filter(col("tok") =!= "")
    // fenced (r18): the model-sized count table feeds the totals row
    // AND the final projection — unfenced, the occurrence explode +
    // aggregation replayed twice
    val counts = fence(occ.groupBy(col("tok")).agg(
      sum(when(col("_lab"), lit(1L)).otherwise(lit(0L)))
        .cast("long").as("c_pos"),
      sum(when(!col("_lab"), lit(1L)).otherwise(lit(0L)))
        .cast("long").as("c_neg")))
    val tot = counts.agg(
      sum(col("c_pos")).cast("long").as("n_pos"),
      sum(col("c_neg")).cast("long").as("n_neg"),
      count(lit(1)).cast("long").as("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("tok"), col("c_pos"), col("c_neg"),
        java_ln(
          ((col("c_pos").cast("double") + lit(alpha)) /
            (col("n_pos").cast("double") +
              lit(alpha) * col("v").cast("double"))) /
          ((col("c_neg").cast("double") + lit(alpha)) /
            (col("n_neg").cast("double") +
              lit(alpha) * col("v").cast("double"))))
          .as("log_odds"))
  }

  /** The class prior ln(D₊/D₋) as a one-row frame (`prior`), computed
    * from the same boolean label — broadcast into [[nbScore]]. */
  def nbPrior(df: DataFrame, labelCol: String): DataFrame =
    df.agg(java_ln(
      sum(when(col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
        .cast("double") /
      sum(when(!col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
        .cast("double")).as("prior"))

  /** Naive-Bayes score side: per document, prior + the idx-ordered
    * IEEE fold of its occurrences' log-odds (the [[unigramLogProb]]
    * fold idiom — bit-replicable); `pred_pos` thresholds at 0.
    * Occurrences of tokens NOT in the model are IGNORED (the standard
    * OOV treatment for NB text models — the smoothed default odds
    * belong to the training corpus, not unseen data); a document with
    * zero in-vocabulary tokens is omitted from the output.
    *
    * Scale shape: the model is vocabulary-sized — broadcast; the
    * document stream explodes row-locally and aggregates per doc with
    * map-side combine. No corpus-side shuffle beyond the per-doc
    * fold's own aggregation.
    */
  def nbScore(df: DataFrame, idCol: String, textCol: String,
              model: DataFrame, prior: DataFrame): DataFrame = {
    val occ = df.select(col(idCol).as("_id"),
        posexplode(wsTokens(lower(trim(col(textCol))))).as(Seq("idx", "tok")))
      .filter(col("tok") =!= "")
    occ.join(broadcast(model.select(col("tok"), col("log_odds"))), "tok")
      .select(col("_id"),
        struct(col("idx"), col("log_odds")).as("contrib"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        aggregate(array_sort(collect_list(col("contrib"))), lit(0.0),
          (acc, x) => acc + x.getField("log_odds")).as("sum_odds"))
      .crossJoin(broadcast(prior))
      .select(col("_id").as(idCol), col("n_tokens"),
        (col("prior") + col("sum_odds")).as("score"),
        ((col("prior") + col("sum_odds")) > 0).as("pred_pos"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023,
    * arXiv:2302.03169, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by the log
    * importance ratio of hashed bag-of-unigrams models fit on a
    * TARGET corpus (the domain you want more of) vs the RAW corpus:
    *
    *   log w(d) = Σ_{token t ∈ d} [ ln p̂_tgt(b(t)) − ln p̂_raw(b(t)) ]
    *
    * with bucket b = fnv1a(token) mod `buckets` (a power of two, so
    * signed bitwise-AND equals unsigned mod) and add-one smoothing
    * p̂(b) = (count_b + 1)/(N + buckets). Keeping the top fraction by
    * weight (the paper adds Gumbel noise for sampled selection)
    * shifts the raw corpus toward the target domain. Output:
    * (doc_id, n_tokens, log_weight) for every raw doc with ≥ 1 token.
    *
    * Scale shape: the raw corpus tokenizes ONCE — the corpus-level
    * bucket histogram derives from the per-doc (doc, bucket) count
    * aggregate, so both consumers share one canonical exchange
    * (ReuseExchange; the `n > 0` gate pins the count through pruning —
    * the [[Retrieval.tfidf]] discipline). Both histograms are
    * `buckets`-row aggregates that broadcast; the per-doc score is a
    * sequential fold in bucket order, so the IEEE sum is replicated
    * bit-exactly by the DuckDB oracle ([[HashFunctions.java_ln]]).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two (signed AND == unsigned mod)")
    val mask = lit((buckets - 1).toLong)
    def bucketed(df: DataFrame) =
      df.select(col(idCol).as("doc_id"),
          explode(wsTokens(lower(trim(col(textCol))))).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"), fnv1a_hash(col("tok")).bitwiseAND(mask).as("b"))

    // ONE tokenize pass over raw: corpus histogram reuses this exchange
    val docCounts = bucketed(raw).groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("long").as("n"))
    val rawHist = docCounts.filter(col("n") > 0)
      .groupBy(col("b")).agg(sum(col("n")).as("c"))
    val tgtHist = bucketed(target).groupBy(col("b"))
      .agg(count(lit(1)).cast("long").as("c"))

    val spark = raw.sparkSession
    val allB = spark.range(buckets).select(col("id").as("b"))
    val sm = lit(buckets.toDouble)
    val lam = allB
      .join(rawHist.withColumnRenamed("c", "rc"), Seq("b"), "left")
      .join(tgtHist.withColumnRenamed("c", "tc"), Seq("b"), "left")
      .crossJoin(broadcast(rawHist.agg(sum(col("c")).as("rn"))))
      .crossJoin(broadcast(tgtHist.agg(sum(col("c")).as("tn"))))
      .select(col("b"),
        (java_ln((coalesce(col("tc"), lit(0L)).cast("double") + lit(1.0)) /
           (coalesce(col("tn"), lit(0L)).cast("double") + sm)) -
         java_ln((coalesce(col("rc"), lit(0L)).cast("double") + lit(1.0)) /
           (coalesce(col("rn"), lit(0L)).cast("double") + sm))).as("lam"))

    docCounts.join(broadcast(lam), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("b"),
            (col("n").cast("double") * col("lam")).as("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("log_weight"))
  }

  /** The resampling half of DSIR: select `n` documents WITHOUT
    * replacement with probability ∝ exp(log_weight / temperature),
    * via the Gumbel top-k trick (Vieira 2014; Kool et al. 2019):
    * perturb each score with an independent Gumbel draw and take the
    * top n — exactly equivalent to sequential softmax sampling
    * without replacement, but embarrassingly parallel. The Gumbel
    * draw is DETERMINISTIC here: u = splitmix64(id + seed) mapped to
    * (0,1) at 53-bit resolution, g = −ln(−ln u) — the mix is
    * re-derivable from (seed) alone on any engine, which is what lets
    * the selection carry a bit-exact oracle (java_ln == glibc ln).
    *
    * Scale shape: row-local perturbation inside the scan; the global
    * top-n is a TakeOrdered (per-partition heaps, no full sort);
    * ties (impossible with real hashes) break by doc_id.
    *
    * Input: the [[dsirWeights]] output (or anything with an id and a
    * log-weight column). Output: the selected rows with their
    * perturbed key, ranked.
    */
  def dsirSelect(weights: DataFrame, idCol: String, weightCol: String,
                 n: Int, temperature: Double = 1.0,
                 seed: Long = 0L): DataFrame = {
    require(n > 0 && temperature > 0)
    // u in (0,1): top 53 bits of the mixed hash over 2^53, +0.5 ulp so
    // u is never exactly 0 or 1 (both would make the double ln blow up)
    val u = (shiftrightunsigned(splitmix64_hash(col(idCol) + lit(seed)), 11)
      .cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val gumbel = -java_ln(-java_ln(u))
    weights
      .withColumn("sel_key",
        col(weightCol).cast("double") / lit(temperature) + gumbel)
      .orderBy(col("sel_key").desc, col(idCol).asc)
      .limit(n)
      .withColumn("sel_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sel_key").desc, col(idCol).asc)).cast("long"))
  }

  /** CCNet-style language-model quality proxy (Wenzek et al. 2020 use
    * a KenLM; the zero-dependency stand-in is the corpus' own unigram
    * model): per-doc mean negative log probability of its tokens
    * under the corpus unigram distribution, p̂(t) = c_t / N. Low =
    * ordinary fluent text; high = rare-token soup (gibberish, wrong
    * language for the corpus, boilerplate codes). No smoothing needed
    * — every scored token is in the corpus by construction. Output:
    * (doc_id, n_tokens, mean_neg_logprob); swap the corpus counts for
    * a reference-corpus count table and this IS the cross-corpus
    * CCNet filter.
    *
    * Scale shape: corpus counts are a vocab-row aggregate with
    * map-side combine (the corpus tokenizes twice — two parallel
    * scans beat shuffling the full (doc, pos, token) occurrence
    * stream to share one, the bm25-stats-branch trade); the
    * occurrence-side join lets AQE broadcast the counts when the
    * vocabulary is small; the per-doc score is a position-ordered
    * sequential fold (bit-replicable, java_ln).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fenced ([[Fences]], r18): occ feeds the count aggregate AND the
    // score join — unfenced, the tokenize+posexplode replayed twice
    val occ = fence(df.select(col(idCol).as("doc_id"),
        posexplode(wsTokens(lower(trim(col(textCol))))).as(Seq("idx", "tok")))
      .filter(col("tok") =!= ""))
    val counts = occ.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
    val total = counts.agg(sum(col("c")).cast("long").as("n_corpus"))
    occ.join(counts, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), struct(col("idx"),
        (-java_ln(col("c").cast("double") / col("n_corpus").cast("double")))
          .as("nl")).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        (aggregate(array_sort(collect_list(col("contrib"))), lit(0.0),
          (acc, x) => acc + x.getField("nl")) /
          count(lit(1)).cast("double")).as("mean_neg_logprob"))
  }

  /** Bigram-LM perplexity proxy with add-one smoothing: per-document
    * mean of −ln P(wᵢ | wᵢ₋₁), P = (c(prev,w)+1)/(c(prev)+V) — the
    * next step up from [[unigramLogProb]] as a fluency signal (word
    * salad scores high even when its unigrams are common). Documents
    * with fewer than two tokens have no bigrams and are omitted.
    *
    * Scale shape: bigram pairing is row-local (token array
    * materialized in the projection BELOW the Generate — the posexplode
    * projection barrier keeps the split un-inlined); the (prev, w) and
    * context-count aggregations shuffle DISTINCT pairs with map-side
    * combine, never occurrences; AQE broadcasts both count tables at
    * real vocabulary sizes; the per-doc score is an idx-ordered
    * sequential fold (bit-replicable, [[HashFunctions.java_ln]]).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(wsTokens(lower(trim(col(textCol)))), x => x =!= "")
    val vocab = df.select(explode(toks).as("tok"))
      .agg(count_distinct(col("tok")).cast("long").as("v"))
    val t1 = df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
    // fenced (r18): big feeds the bigram-count aggregate AND the score
    // join; cb feeds the context rollup AND the join — unfenced, the
    // tokenize+bigram assembly replayed per reference
    val big = fence(t1
      .select(col("doc_id"), col("toks"),
        posexplode(expr("sequence(1, size(toks) - 1)")))
      .select(col("doc_id"), col("col").cast("long").as("idx"),
        element_at(col("toks"), col("col")).as("prev"),
        element_at(col("toks"), col("col") + 1).as("w")))
    val cb = fence(big.groupBy(col("prev"), col("w"))
      .agg(count(lit(1)).cast("long").as("cb")))
    val cc = cb.groupBy(col("prev")).agg(sum(col("cb")).cast("long").as("cc"))
    big.join(cb, Seq("prev", "w")).join(cc, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), struct(col("idx"),
        (-java_ln((col("cb").cast("double") + lit(1.0)) /
          (col("cc") + col("v")).cast("double"))).as("nl")).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        (aggregate(array_sort(collect_list(col("contrib"))), lit(0.0),
          (acc, x) => acc + x.getField("nl")) /
          count(lit(1)).cast("double")).as("mean_neg_logprob2"))
  }

  /** Per-document Shannon token entropy (nats): −Σ p·ln p over the
    * token distribution — low entropy flags repetitive/gibberish text,
    * complementing the Gopher repetition features as a quality signal.
    *
    * Scale shape: one explode + a (doc, token) hash aggregation (the
    * repetition-features shape — the exchange carries distinct pairs),
    * then a per-doc sequential fold in token order so the IEEE sum is
    * deterministic and oracle-matchable ([[HashFunctions.java_ln]] for
    * the correctly-rounded ln).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(lower(trim(col(textCol))))
    val counts = df.select(col(idCol), explode(toks).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol)).agg(
      sum(col("c")).cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("n_distinct"),
      aggregate(
        array_sort(collect_list(struct(col("token"), col("c")))),
        struct(lit(0.0).as("h"), sum(col("c")).cast("double").as("n")),
        (acc, x) => struct(
          (acc.getField("h") -
            (x.getField("c").cast("double") / acc.getField("n")) *
              HashFunctions.java_ln(
                x.getField("c").cast("double") / acc.getField("n"))).as("h"),
          acc.getField("n").as("n")),
        acc => acc.getField("h")).as("entropy"))
  }

  /** Overlapping token-window chunking — the context-window prep step
    * for RAG indexing and long-document training: each document yields
    * ⌈n/stride⌉ chunks of `chunkTokens` whitespace tokens starting every
    * `chunkTokens - overlap` tokens (the final chunks are shorter).
    *
    * Scale shape: row-local — tokenize once in the projection BELOW the
    * Generate (posexplode is a projection barrier, so the split is not
    * inlined per chunk), explode only the start offsets, slice the
    * materialized token array per chunk. No shuffle; chunk output is
    * ~(1 + overlap/stride)× the corpus size, streamed straight to the
    * sink.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 100, overlap: Int = 20): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol), wsTokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).as("_n"))
      .select(col(idCol), col("_toks"), col("_n"),
        posexplode(sequence(lit(0), col("_n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), col("_n") - col("_start")).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Corpus composition profile: per-group (language × source) document
    * counts, token totals, and character-length distribution (mean +
    * exact continuous median). The first report every curation pipeline
    * produces — it drives mix rebalancing and length filtering.
    *
    * Scale shape: one scan with row-local token/length columns, then a
    * single hash aggregation keyed by the group columns — partial
    * aggregation collapses each partition before the shuffle, so the
    * exchange carries one row per (partition, group). `percentile` is
    * exact (sorts per-group value multisets); at 100 TB swap for
    * `percentile_approx` if the group value sets outgrow executors —
    * the profile contract is the same.
    */
  def corpusProfile(df: DataFrame, textCol: String,
                    groupCols: Seq[String]): DataFrame = {
    val t = col(textCol)
    val base = df.select(
      groupCols.map(col) :+
        size(wsTokens(t)).cast("long").as("_ntok") :+
        length(t).cast("long").as("_nchars"): _*)
    base.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      sum(col("_ntok")).as("n_tokens"),
      (sum(col("_nchars")).cast("double") /
        count(lit(1)).cast("double")).as("mean_chars"),
      percentile(col("_nchars"), lit(0.5)).as("median_chars"))
  }

  /** Collocation extraction by pointwise mutual information:
    * PMI(a,b) = ln(N_bi · c(a,b) / (c(a) · c(b))) over adjacent
    * lowercase token pairs with bigram count ≥ `minCount` — the
    * standard signal for multi-word vocabulary entries (Church & Hanks
    * 1990). Unigram counts use the same token stream; N_bi is the
    * total bigram count.
    *
    * Scale shape: two explode + hash-aggregate passes (unigrams,
    * bigrams) with map-side partial aggregation; the filtered bigram
    * table joins the (much smaller) unigram counts twice — both
    * broadcast when the vocabulary is bounded, shuffle-hash otherwise.
    * PMI itself is row-local arithmetic through the correctly-rounded
    * [[HashFunctions.java_ln]].
    */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5): DataFrame = {
    val toks = wsTokens(lower(trim(col(textCol))))
    val base = df.select(toks.as("toks"))
    val nm1 = greatest(size(col("toks")) - 1, lit(0))
    // fenced (r18): the bigram table feeds the N_bi total AND the PMI
    // join, the unigram table joins once per bigram side — unfenced,
    // each reference re-ran its explode+aggregate corpus pass (base's
    // two parallel scans stay the documented trade)
    val bigrams = fence(base.select(explode(zip_with(
        slice(col("toks"), lit(1), nm1),
        slice(col("toks"), lit(2), nm1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bi"))
      .select(col("bi.w1").as("w1"), col("bi.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("long").as("c_ab")))
    val unigrams = fence(base.select(explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c")))
    val nBi = bigrams.agg(sum(col("c_ab")).cast("long").as("n_bi"))
    bigrams.filter(col("c_ab") >= minCount)
      .join(unigrams.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(unigrams.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c_ab"),
        HashFunctions.java_ln(
          (col("n_bi").cast("double") * col("c_ab").cast("double")) /
            (col("c_a").cast("double") * col("c_b").cast("double"))).as("pmi"))
  }

  /** Corpus vocabulary statistics: global frequency of lowercase
    * whitespace tokens at or above `minCount` — the input to BPE/vocab
    * training and frequency-based filtering. One explode + one
    * hash aggregation; partial (map-side) aggregation collapses each
    * partition's counts before the shuffle, so the exchange carries
    * distinct (token, partial_count) pairs, not token instances.
    */
  def vocab(df: DataFrame, textCol: String, minCount: Long = 2): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)

  /** Per-group token leaderboard: the k most frequent tokens within
    * each group (e.g. per language / per source), deterministic via
    * the (freq desc, token asc) total order — the corpus-profiling
    * view a mixture designer reads before weighting sources.
    *
    * Scale shape: one (group, token) count aggregation with map-side
    * combine, then a rank window that Spark 4 plans with
    * `WindowGroupLimit(Partial)` BELOW the exchange (SPARK-37099, the
    * same shape the ANN top-k rows guard) — each map task forwards at
    * most k rows per group, so the exchange carries ~k·|groups| rows
    * no matter the vocabulary size.
    */
  def topTokensPerGroup(df: DataFrame, groupCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    val counts = df
      .select(col(groupCol), explode(wsTokens(lower(trim(col(textCol))))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("freq").desc, col("token").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Byte-pair-encoding merge TRAINING (Sennrich et al., ACL 2016;
    * Gage 1994) over whitespace-symbol sequences: each round counts
    * every adjacent symbol pair across the corpus, adopts the most
    * frequent as a merge (ties: count desc, then pair lexicographic),
    * and rewrites every sequence with the pair fused ("a b" becomes
    * one symbol). Returns the learned merge table
    * (round, sym_a, sym_b, pair_count) — the artifact a tokenizer
    * trainer ships.
    *
    * Two deliberate deviations from reference BPE, both documented:
    * symbols are whitespace tokens (word-level merges — run it on
    * pre-split characters for the classic subword form), and
    * self-pairs (x, x) are excluded from adoption so the rewrite is a
    * row-local unambiguous filter+transform (left-greedy overlap
    * resolution for runs needs a sequential scan per sequence; with
    * a ≠ b adjacent matches can never overlap).
    *
    * Scale shape per round: ONE (pair) shuffle with map-side combine
    * for the counts, a 1-row bounded driver collect for the argmax
    * (same class as the IVF seeds), and a row-local HOF rewrite — the
    * corpus is scanned once per round with no join anywhere.
    * Production trainers batch many non-conflicting merges per pass;
    * the per-round machinery is identical.
    */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds")
    val spark = df.sparkSession
    import spark.implicits._
    var seqs = df.select(col(idCol).as("_id"),
      wsTokens(lower(trim(col(textCol)))).as("_toks"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // every round's rewrite is persisted before the next references
    // it: without the cache fence, CollapseProject inlines round r−1's
    // whole transform into round r's lambdas PER ELEMENT (the
    // documented nested-HOF trap — measured super-quadratic at sf0.1).
    // The caches are released before returning; the merge table
    // itself is driver data.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    for (round <- 1 to rounds) {
      val pairs = seqs.select(posexplode(col("_toks")).as(Seq("_i", "_a")),
          col("_toks"))
        .filter(col("_i") < size(col("_toks")) - 1)
        .select(col("_a"), element_at(col("_toks"), col("_i") + 2).as("_b"))
        .filter(col("_a") =!= col("_b"))
        .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_c"))
      val top = pairs.orderBy(col("_c").desc, col("_a").asc, col("_b").asc)
        .limit(1).collect()
      if (top.isEmpty) {
        cached.foreach(_.unpersist(false))
        return merges.toSeq.toDF("round", "sym_a", "sym_b", "pair_count")
      }
      val (a, b, c) = (top(0).getString(0), top(0).getString(1),
        top(0).getLong(2))
      merges += ((round, a, b, c))
      val la = lit(a); val lb = lit(b)
      val t = col("_toks")
      val n = size(t)
      // drop index j when it is the SECOND half of a match; fuse at i
      // (sequence(1, 0) would count DOWN — guard the empty case)
      val idxs = when(n >= 1, sequence(lit(1), n))
        .otherwise(array().cast("array<int>"))
      val keepIdx = filter(idxs, j =>
        !(j > 1 && element_at(t, j - 1) === la && element_at(t, j) === lb))
      val rewritten = transform(keepIdx, i =>
        when(i < n && element_at(t, i) === la &&
            element_at(t, i + 1) === lb,
          concat(la, lit(" "), lb))
          .otherwise(element_at(t, i)))
      seqs = seqs.select(col("_id"), rewritten.as("_toks")).persist(storage)
      cached += seqs
    }
    cached.foreach(_.unpersist(false))
    merges.toSeq.toDF("round", "sym_a", "sym_b", "pair_count")
  }

  /** Per-document out-of-vocabulary rate against a TRAINING corpus
    * vocabulary ([[vocab]], count ≥ minCount): the coverage check run
    * before committing a tokenizer/vocab to a new data drop — a
    * source whose OOV rate spikes needs vocab work, not more
    * training. Token INSTANCES are measured (not distinct types):
    * rate = oov instances / all instances per doc.
    *
    * Scale shape: the vocab is a token-keyed aggregate of the train
    * corpus; the eval side explodes once and LEFT-joins the vocab on
    * the token key (broadcast when the vocab collapses). Counts
    * exact; one IEEE division.
    */
  def oovRate(train: DataFrame, eval_ : DataFrame, idCol: String,
              textCol: String, minCount: Long = 2): DataFrame = {
    val v = vocab(train, textCol, minCount).select(col("token"),
      lit(true).as("_inv"))
    eval_.select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .join(v, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Per-document n-gram novelty against the id-ordered corpus: the
    * fraction of a document's DISTINCT word n-grams whose FIRST
    * occurrence (minimum doc id) is this document. High novelty =
    * fresh content; near-zero = recombination of earlier material —
    * the longitudinal cousin of [[decontaminate]] (which screens
    * against a fixed eval set, while this screens each doc against
    * everything before it). Documents shorter than n tokens carry no
    * grams and are omitted.
    *
    * Scale shape: one distinct-(doc, gram) explode, one gram-keyed
    * min aggregate (the global first-occurrence table — map-side
    * combined), one join back, one per-doc rollup. Counts exact; the
    * ratio is one IEEE division.
    */
  def novelty(df: DataFrame, idCol: String, textCol: String,
              n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 16, s"n=$n")
    val toks = wsTokens(lower(trim(col(textCol))))
    // fenced ([[Fences]], r18): the exploded gram table feeds the
    // first-occurrence aggregate AND the join back — unfenced, the
    // tokenize+n-gram-assembly explode replayed twice
    val grams = fence(df.select(col(idCol).as("_id"), toks.as("_t"))
      .filter(size(col("_t")) >= n)
      .select(col("_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("_t")) - lit(n)),
          i => concat_ws(" ", (0 until n).map(j =>
            element_at(col("_t"), (i + lit(j + 1)).cast("int"))): _*))))
        .as("_g")))
    val first = grams.groupBy(col("_g")).agg(min(col("_id")).as("_owner"))
    grams.join(first, "_g")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_owner") === col("_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .select(col("_id").as("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** Apply an ordered merge list from [[bpeTrain]] to a corpus and
    * return the resulting token vocabulary with counts (merged
    * symbols keep their space-joined spelling, so "fast sort" is one
    * token after the (fast, sort) merge). This is the ENCODE side of
    * BPE: train once on a sample, apply everywhere — the apply pass
    * is what runs at 100 TB, and it is embarrassingly row-local (one
    * rewrite per merge, no shuffles until the final vocab count).
    *
    * Same per-merge semantics as training (drop the second half of
    * each match, fuse at the first; a token can join only one match
    * per round) and the same per-round persist fences — the nested-
    * HOF inlining trap applies to ANY iterated rewrite, not just the
    * training loop.
    */
  def bpeApply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (seqs, cached) = bpeRewrite(df, idCol, textCol, merges)
    val out = seqs
      .select(explode(col("_toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // eager, like pageRank, but the result stays distributed (an
    // open-vocabulary token table is far too large for the driver):
    // the spill lets the per-round persist fences release here
    Fences.spill(out, "bpeApply", "graft-bpe", cached)
  }

  /** The per-merge rewrite loop shared by [[bpeApply]] (vocab counts)
    * and [[bpeSegment]] (per-document token sequences): returns the
    * rewritten (_id, _toks) frame plus the per-round persist fences
    * the caller must release after materializing its result. */
  private def bpeRewrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)])
      : (DataFrame, Seq[DataFrame]) = {
    require(merges.nonEmpty && merges.size <= 64, s"merges=${merges.size}")
    // coalesce a null text to the empty sequence: otherwise a missing
    // field flows through as a null array — size(null) = -1 under the
    // legacy sizeOfNull, so bpeSegment would emit n_tokens = -1 while
    // bpeApply's explode silently drops the doc. Empty-array makes
    // both consistent (n_tokens = 0 / no vocab contribution).
    var seqs = df.select(col(idCol).as("_id"),
      coalesce(wsTokens(lower(trim(col(textCol)))),
        array().cast("array<string>")).as("_toks"))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    for ((a, b) <- merges) {
      val la = lit(a); val lb = lit(b)
      val t = col("_toks")
      val n = size(t)
      val idxs = when(n >= 1, sequence(lit(1), n))
        .otherwise(array().cast("array<int>"))
      val keepIdx = filter(idxs, j =>
        !(j > 1 && element_at(t, j - 1) === la && element_at(t, j) === lb))
      val rewritten = transform(keepIdx, i =>
        when(i < n && element_at(t, i) === la &&
            element_at(t, i + 1) === lb,
          concat(la, lit(" "), lb))
          .otherwise(element_at(t, i)))
      seqs = seqs.select(col("_id"), rewritten.as("_toks")).persist(storage)
      cached += seqs
    }
    (seqs, cached.toSeq)
  }

  /** Per-document BPE segmentation — the ENCODE side as a per-record
    * operator: each document's token sequence after the ordered merge
    * list, returned as (doc_id, n_tokens, tokens) with tokens joined
    * on U+001F (merged symbols keep their space-joined spelling, so
    * the separator cannot be a space). The pipeline-stage sibling of
    * [[bpeApply]]'s corpus vocabulary: row-local per merge, no
    * shuffle at all — the tokenizer pass of a 100 TB pretraining
    * pipeline.
    */
  def bpeSegment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (seqs, cached) = bpeRewrite(df, idCol, textCol, merges)
    val kept = filter(col("_toks"), t => t =!= "")
    val out = seqs.select(col("_id").as("doc_id"),
      size(kept).cast("long").as("n_tokens"),
      array_join(kept, "\u001f").as("tokens"))
    // the spill is corpus-sized (it IS the tokenized output); in a
    // real pipeline point the checkpoint dir at the output location
    // rather than paying a second copy
    Fences.spill(out, "bpeSegment", "graft-bpe", cached)
  }

  /** Tokenizer fertility profile (Ács 2019, "Exploring BERT's
    * Vocabulary"; Rust et al. 2021, "How Good is Your Tokenizer?" —
    * public papers): per-language tokens-per-word and
    * chars-per-token ratios of a trained merge table — the number a
    * multilingual team reads before committing to a tokenizer (a
    * language with high fertility pays more sequence length per word
    * of content, so it effectively sees less context). Output one row
    * per language: (lang, n_docs, n_words, n_bpe_tokens, n_chars,
    * fertility = tokens/words, chars_per_token), ratios 6-dp rounded;
    * groups with zero words or zero tokens are dropped rather than
    * emitting division artifacts. With this engine's word-pair merge
    * table, fertility ≤ 1 (merges join words); a subword tokenizer's
    * is ≥ 1 — the metric reads the same either way.
    *
    * Scale shape: [[bpeSegment]]'s per-round rewrite (batch-only, its
    * contract) followed by one doc-keyed join of two scan-linear
    * frames and a map-side-combined per-language aggregate.
    */
  def bpeFertility(df: DataFrame, idCol: String, textCol: String,
                   langCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val seg = bpeSegment(df, idCol, textCol, merges)
      .select(col("doc_id"), col("n_tokens"))
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      col(langCol).cast("string").as("lang"),
      size(filter(wsTokens(lower(trim(col(textCol)))),
        x => x =!= "")).cast("long").as("_w"),
      length(col(textCol)).cast("long").as("_ch"))
    seg.join(base, "doc_id")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("_w")).cast("long").as("n_words"),
        sum(col("n_tokens")).cast("long").as("n_bpe_tokens"),
        sum(col("_ch")).cast("long").as("n_chars"))
      .filter(col("n_words") > 0 && col("n_bpe_tokens") > 0)
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"))
  }

  /** Per-document script composition: counts of Latin letters,
    * digits, Cyrillic, CJK, whitespace and everything else, with the
    * Latin fraction and the dominant script label — the
    * script-mixing screen of multilingual corpus cleaning (mixed-
    * script spam, mislabeled languages, mojibake all show up here
    * before any language model runs). Complements [[langId]]: langId
    * classifies WITHIN a script, this catches the wrong-script drop.
    *
    * Row-local `regexp_count` projections — codegen'd, zero shuffle;
    * char counts are UTF-16 units, matching codepoints for BMP text
    * (the corpus contract shared with [[fingerprint]]).
    */
  def scriptProfile(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val t = col(textCol)
    val n = length(t)
    def cnt(re: String) = regexp_count(t, lit(re))
    val latin = cnt("[A-Za-z]")
    val digit = cnt("[0-9]")
    val cyr = cnt("[Ѐ-ӿ]")
    val cjk = cnt("[一-鿿]")
    val ws = cnt("[ \\t\\n\\x0B\\f\\r]")
    val scored = df.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_chars"),
      latin.cast("long").as("n_latin"), digit.cast("long").as("n_digit"),
      cyr.cast("long").as("n_cyrillic"), cjk.cast("long").as("n_cjk"),
      ws.cast("long").as("n_space"))
    scored
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") -
          col("n_cyrillic") - col("n_cjk") - col("n_space"))
      .withColumn("latin_frac",
        when(col("n_chars") > 0,
          col("n_latin").cast("double") / col("n_chars").cast("double")))
      // dominant non-space class; ties break by the fixed label order
      // (the struct max reads (count, label))
      .withColumn("dominant_script",
        greatest(
          struct(col("n_latin").as("_c"), lit("latin").as("_l")),
          struct(col("n_digit").as("_c"), lit("digit").as("_l")),
          struct(col("n_cyrillic").as("_c"), lit("cyrillic").as("_l")),
          struct(col("n_cjk").as("_c"), lit("cjk").as("_l")),
          struct(col("n_other").as("_c"), lit("other").as("_l")))
          .getField("_l"))
  }

  /** The signed hashing trick (Weinberger et al., ICML 2009):
    * fixed-dimension sparse bag-of-words features with no vocabulary
    * pass — bucket = fnv1a(token) & (dim−1), sign = ±1 from the
    * splitmix64 remix's top bit (the unbiased-inner-product variant:
    * hash-collision contributions cancel in expectation). One row per
    * NON-ZERO (doc, bucket) with the signed count — the
    * train-anywhere featurizer whose dimension is a constant, not a
    * corpus property.
    *
    * Exactness: buckets, signs and counts are pure integer hashing —
    * bit-stable under any partitioning and replayable by the oracle's
    * fnv1a + splitmix64 HUGEINT chain.
    *
    * Scale shape: one tokenize pass + one (doc, bucket) keyed count
    * (map-side combined) — never a vocabulary table, never a join;
    * the output is bounded by docs × dim but in practice docs × their
    * distinct-token count.
    */
  def hashingTrick(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 1024): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      "dim must be a power of two (signed AND == unsigned mod)")
    val mask = lit((dim - 1).toLong)
    val toks = df.select(col(idCol).as("doc_id"),
        explode(wsTokens(lower(trim(col(textCol))))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("_h", fnv1a_hash(col("tok")))
    toks
      .select(col("doc_id"), col("_h").bitwiseAND(mask).as("bucket"),
        // splitmix remix: sign bit independent of the bucket bits
        when(splitmix64_hash(col("_h")) >= 0, lit(1L))
          .otherwise(lit(-1L)).as("_sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("_sgn")).as("feature"),
        count(lit(1)).as("n_tokens"))
      .filter(col("feature") =!= 0L)
  }

  /** Zipf's-law fit of the corpus vocabulary: OLS of log10(freq) on
    * log10(rank) over the topN most frequent tokens — the corpus-health
    * number a curation pipeline watches (natural text sits near slope
    * −1; template/boilerplate spam flattens the head, gibberish
    * steepens the tail). One output row: (n_types, slope, intercept),
    * doubles rounded to 6 dp so the verdict is partition-order stable.
    *
    * Scale shape: one token count aggregation (map-side combined),
    * then `orderBy.limit(topN)` — Spark plans TakeOrderedAndProject,
    * a per-partition partial top-k, so the head selection never
    * global-sorts the vocabulary — and the rank window runs over the
    * ≤ topN surviving rows (bounded, single task by construction).
    * The regression is a rank-ordered sequential OLS fold
    * ([[HashFunctions.ols_fit6]], bounded by topN), bit-replicable
    * by the DuckDB oracle.
    */
  def zipfFit(df: DataFrame, textCol: String, minCount: Long = 2,
              topN: Int = 4096): DataFrame =
    zipfFitFromCounts(vocab(df, textCol, minCount), topN)

  /** The rank/regression tail of [[zipfFit]] over a pre-aggregated
    * (token, freq) frame — shared by the batch operator and the
    * streaming vocabulary sink, whose committed state IS such a frame
    * (apply the minCount filter before calling when the state was
    * accumulated unfiltered).
    */
  def zipfFitFromCounts(counts: DataFrame, topN: Int = 4096): DataFrame = {
    require(topN >= 16, s"topN=$topN")
    val head = counts
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topN)
    val pts = head
      .withColumn("_rank", row_number().over(
        Window.orderBy(col("freq").desc, col("token").asc)))
      .select(log10(col("_rank").cast("double")).as("x"),
        log10(col("freq").cast("double")).as("y"))
    // deterministic rank-ordered OLS fold (ols_fit6): the native
    // regr_slope/regr_intercept fold order is partition-dependent
    pts.agg(
        count(lit(1)).as("n_types"),
        ols_fit6(collect_list(struct(col("x"), col("y")))).as("_fit"))
      .select(col("n_types"),
        col("_fit.slope").as("slope"),
        col("_fit.intercept").as("intercept"))
  }

  /** Heaps' law fit (Heaps 1978; Herdan 1960): V(n) = K·n^β —
    * vocabulary size as a power of corpus size, [[zipfFit]]'s
    * companion growth curve. Natural text sits near β ≈ 0.5; β
    * drifting toward 1 means the corpus keeps minting new types
    * (OCR noise, random identifiers), β near 0 means it stopped
    * growing (template spam). The fit also answers the planning
    * question "how big will the vocabulary be at 10× the data".
    *
    * Documents are consumed in `idCol` order, checkpointed every
    * `bucketWidth` ids: checkpoint b sees the cumulative token count
    * and cumulative distinct-type count of all docs with
    * `id div bucketWidth ≤ b`, and the OLS of log10(V) on log10(n)
    * over those checkpoints gives (β, log10 K), rounded to 6 dp so
    * the verdict is partition-order stable. One output row:
    * (n_points, n_tokens, n_types, beta, log10_k).
    *
    * Scale shape: one (bucket, token) count aggregation (map-side
    * combined), a token-keyed min-bucket aggregation for first
    * occurrences — a type's first bucket is a MIN, which is also why
    * the streaming twin merges — then per-bucket prefix sums over
    * CHECKPOINT rows only (corpus_size / bucketWidth rows — size
    * bucketWidth to keep that bounded; the window never sees tokens
    * or documents). The regression is a bucket-ordered sequential OLS
    * fold ([[HashFunctions.ols_fit6]], bounded by the checkpoint
    * count), bit-replicable by the DuckDB oracle.
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
               bucketWidth: Long = 64): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth=$bucketWidth")
    heapsFitFromCounts(stratumTokenCounts(
      df.withColumn("_hb",
        expr(s"cast($idCol as bigint) div $bucketWidth")),
      "_hb", textCol))
  }

  /** The checkpoint/regression tail of [[heapsFit]] over a
    * pre-aggregated (stratum = bucket, tok, c) frame — shared by the
    * batch operator and the streaming stratum-count sink, whose
    * committed state IS such a frame (sum-merge keeps per-bucket
    * counts exact and first buckets are MINs over it, so batch and
    * stream cannot drift).
    */
  def heapsFitFromCounts(counts: DataFrame): DataFrame = {
    val c = counts.select(col("stratum").cast("long").as("b"),
      col("tok"), col("c"))
    // a type's first checkpoint = min bucket it occurs in
    val newTypes = c.groupBy(col("tok"))
      .agg(min(col("b")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).cast("long").as("nv"))
    val tokCnt = c.groupBy(col("b"))
      .agg(sum(col("c")).cast("long").as("nt"))
    // every first-occurrence bucket carries tokens, so tokCnt drives
    val joined = tokCnt.join(newTypes, col("b") === col("fb"), "left")
      .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = joined
      .withColumn("ct", sum(col("nt")).over(w))
      .withColumn("cv", sum(col("nv")).over(w))
      .select(col("ct"), col("cv"),
        log10(col("ct").cast("double")).as("x"),
        log10(col("cv").cast("double")).as("y"))
    // deterministic bucket-ordered OLS fold (ols_fit6; x = log10 of the
    // strictly-increasing cumulative token count, so ascending x IS
    // bucket order): the native regr_* fold order is partition-dependent
    pts.agg(
        count(lit(1)).as("n_points"),
        max(col("ct")).as("n_tokens"),
        max(col("cv")).as("n_types"),
        ols_fit6(collect_list(struct(col("x"), col("y")))).as("_fit"))
      .select(col("n_points"), col("n_tokens"), col("n_types"),
        col("_fit.slope").as("beta"),
        col("_fit.intercept").as("log10_k"))
  }

  /** Pairwise Jensen–Shannon divergence between corpus slices'
    * unigram distributions (Lin 1991): for every unordered stratum
    * pair (a,b), JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m) with
    * m = ½(p+q), zero-count terms contributing 0 — the symmetric,
    * bounded (≤ ln 2) domain-shift measure mixture design reads
    * before picking sampling weights (a JSD near ln 2 means the
    * slices share almost no vocabulary mass; near 0 means
    * up-weighting one is indistinguishable from the other). Output:
    * (stratum_a, stratum_b, n_common, jsd) per pair, a < b.
    *
    * Determinism: p and q are single divisions of exact counts, m and
    * each term a fixed-association expression tree over them
    * ([[HashFunctions.java_ln]]), and the per-pair sum a token-ordered
    * sequential fold — bit-replicable.
    *
    * Scale shape: one shuffle of DISTINCT (stratum, token) counts
    * (map-side combined), one vocabulary-keyed groupBy pivoting each
    * token's per-stratum mass into a map, and a BROADCAST of the
    * stratum-pair grid (k strata → k(k−1)/2 pairs; the operator is
    * for slice-level profiling, k is domains, not documents). The
    * expanded term table is vocab × pairs rows — the fold then
    * reduces to k(k−1)/2 output rows with map-side partials.
    */
  def jsDivergence(df: DataFrame, stratumCol: String,
                   textCol: String): DataFrame =
    jsDivergenceFromCounts(stratumTokenCounts(df, stratumCol, textCol))

  /** The (stratum, tok, c) occurrence-count aggregate [[jsDivergence]]
    * reads — shared with the streaming stratum-count state sink, whose
    * committed state IS such a frame (sum-merged across batches), so
    * the batch and streaming divergence cannot drift.
    *
    * Null strata are dropped here, explicitly: downstream they would
    * become a null `map_from_entries` key (a runtime failure) on one
    * path and be silently excluded from the `sa < sb` pair grid on the
    * other — an operator that half-sees a slice is worse than one
    * that documents it profiles only labelled slices.
    */
  def stratumTokenCounts(df: DataFrame, stratumCol: String,
                         textCol: String): DataFrame =
    df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        explode(sboToks(textCol)).as("tok"))
      .groupBy(col("stratum"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))

  /** [[jsDivergence]]'s pair/fold tail over a pre-aggregated
    * (stratum, tok, c) frame.
    *
    * Fold contract (the kmvSetOps-style published bound): the final
    * per-pair reduction materializes the PAIR'S UNION VOCABULARY as
    * one sorted array in one task — that is what buys the
    * deterministic token-ordered IEEE fold the DuckDB oracle replays
    * bit-for-bit. It is driver-free and bounded by the corpus's
    * distinct-token count (measured 0.8× wall at the 100× probe), but
    * it is NOT constant-size state like the sketch merges: a pair
    * task holds O(|vocab|) structs. `maxFoldVocab` trips loudly
    * before planning the fold when the (already fenced) count frame's
    * vocabulary exceeds the bound — raise it deliberately, or prune
    * rare tokens first (a minCount filter on the counts frame), which
    * is what a 100 TB profile does anyway.
    */
  def jsDivergenceFromCounts(cnt0: DataFrame,
                             maxFoldVocab: Long = 2000000L): DataFrame = {
    // Fence the count table: `cnt` feeds rel AND tot, and tot is
    // itself referenced three times (rel's denominators, both sides
    // of the pair grid) — unfenced, every reference re-runs the
    // upstream corpus scan (the kmvSetOps multi-reference trap). The
    // fence is (stratum, token)-distinct sized; the corpus is
    // scanned once.
    val cnt = fence(cnt0)
    // the fold-contract guard: one map-side-combined distinct count
    // over the just-materialized fence (cheap relative to the fold it
    // protects), so a vocabulary too large for single-task per-pair
    // arrays fails HERE with instructions, not as an executor OOM
    val vocabSize = cnt.select(col("tok")).distinct().count()
    require(vocabSize <= maxFoldVocab,
      s"jsDivergence: vocabulary has $vocabSize distinct tokens > " +
        s"maxFoldVocab=$maxFoldVocab; the per-pair deterministic fold " +
        "materializes the pair's union vocabulary in one task — prune " +
        "rare tokens (minCount filter on the counts frame) or raise " +
        "maxFoldVocab deliberately")
    val tot = cnt.groupBy(col("stratum"))
      .agg(sum(col("c")).cast("long").as("n"))
    val rel = cnt.join(tot, "stratum")
      .select(col("stratum"), col("tok"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
    val byTok = rel.groupBy(col("tok"))
      .agg(map_from_entries(collect_list(struct(col("stratum"), col("p"))))
        .as("ps"))
    val pairs = tot.select(col("stratum").as("sa"))
      .crossJoin(tot.select(col("stratum").as("sb")))
      .filter(col("sa") < col("sb"))
    val half = lit(0.5)
    val grid = byTok.crossJoin(broadcast(pairs))
      .select(col("sa"), col("sb"), col("tok"),
        coalesce(element_at(col("ps"), col("sa")), lit(0.0)).as("p"),
        coalesce(element_at(col("ps"), col("sb")), lit(0.0)).as("q"))
    val m = half * (col("p") + col("q"))
    val term =
      when(col("p") > 0, half * (col("p") * java_ln(col("p") / m)))
        .otherwise(lit(0.0)) +
      when(col("q") > 0, half * (col("q") * java_ln(col("q") / m)))
        .otherwise(lit(0.0))
    grid.select(col("sa"), col("sb"), col("tok"), term.as("t"),
        (col("p") > 0 && col("q") > 0).as("common"))
      .groupBy(col("sa").as("stratum_a"), col("sb").as("stratum_b"))
      .agg(sum(when(col("common"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("n_common"),
        aggregate(array_sort(collect_list(struct(col("tok"), col("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("jsd"))
  }

  // ---- stupid-backoff trigram language model (CCNet-style filter) ----

  /** The (doc → non-empty lowercase whitespace tokens) projection the
    * SBO train and score sides share — ONE tokenisation definition so
    * the two can never drift.
    */
  private def sboToks(textCol: String): Column =
    filter(wsTokens(lower(trim(col(textCol)))), x => x =!= "")

  /** Stupid-backoff trigram LM (Brants et al. 2007, "Large Language
    * Models in Machine Translation" §4): unnormalised scores
    * S(w|u,v) = c₃(u,v,w)/c₂(u,v), backing off ×0.4 per order to
    * S(w|v) = c₂(v,w)/c₁(v) and an add-one-floored unigram
    * S(w) = (c₁(w)+1)/(N+V), so out-of-vocabulary tokens score the
    * floor 1/(N+V) instead of −∞. No Kneser–Ney discounting — the
    * whole point of SBO is that count RATIOS need no normalisation
    * pass, which is what makes it trainable in one distributed sweep
    * over web-scale corpora.
    *
    * Output is the model as ONE frame (write it to parquet, feed it to
    * [[sboScore]] / the `text.sbo` plugin): `ord` ∈ {3,2,1,0} rows —
    * trigram scores, ×0.4 bigram backoffs, ×0.16 floored unigrams, and
    * a single ord=0 OOV-floor row — keyed on (u,v,w) with the unused
    * high-order slots NULL.
    *
    * Scale shape: three map-side-combined count aggregates shuffle
    * DISTINCT n-grams (never occurrences); the score divisions join
    * count tables to each other ON THEIR OWN KEYS (trigram⋈bigram on
    * (u,v), bigram⋈unigram on (v)), so each is one model-sized
    * shuffle; the corpus totals are a broadcast scalar. Model size is
    * O(distinct trigrams) — at 100 TB that is pruned downstream by a
    * count threshold, never by sampling the training sweep.
    */
  def sboTrain(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Fence the count tables: c1 is referenced three times below (tot,
    // the bigram-score denominator join, the unigram slice) and c2
    // twice (trigram denominator, bigram slice) — unfenced, each
    // reference re-derives the aggregation AND its corpus scan (the
    // kmvSetOps multi-reference trap). The fences are model-sized
    // (distinct n-grams), so each costs one build; the corpus is
    // scanned exactly once per order.
    val seqs = df.select(sboToks(textCol).as("toks"))
      .filter(size(col("toks")) >= 1)
    val c1 = fence(seqs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("cnt1")))
    val tot = c1.agg(sum(col("cnt1")).cast("long").as("n"),
      count(lit(1)).cast("long").as("vsz"))
    val c2 = fence(seqs.filter(size(col("toks")) >= 2)
      .select(col("toks"), explode(expr("sequence(1, size(toks) - 1)")).as("i"))
      .select(element_at(col("toks"), col("i")).as("a"),
        element_at(col("toks"), col("i") + 1).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).cast("long").as("cnt2")))
    val c3 = seqs.filter(size(col("toks")) >= 3)
      .select(col("toks"), explode(expr("sequence(1, size(toks) - 2)")).as("i"))
      .select(element_at(col("toks"), col("i")).as("u"),
        element_at(col("toks"), col("i") + 1).as("v"),
        element_at(col("toks"), col("i") + 2).as("w"))
      .groupBy(col("u"), col("v"), col("w"))
      .agg(count(lit(1)).cast("long").as("cnt3"))
    val nullS = lit(null).cast("string")
    // every score is one division of exact integer counts (< 2^53),
    // then literal ×0.4 backoff products in a FIXED association order —
    // bit-replicable by any engine that parses the same literals
    val m3 = c3.join(c2, col("u") === col("a") && col("v") === col("b"))
      .select(lit(3L).as("ord"), col("u"), col("v"), col("w"),
        (col("cnt3").cast("double") / col("cnt2").cast("double")).as("score"))
    val m2 = c2.join(c1, col("a") === col("w"))
      .select(lit(2L).as("ord"), nullS.as("u"), col("a").as("v"),
        col("b").as("w"),
        (lit(0.4) * (col("cnt2").cast("double") / col("cnt1").cast("double")))
          .as("score"))
    val m1 = c1.crossJoin(broadcast(tot))
      .select(lit(1L).as("ord"), nullS.as("u"), nullS.as("v"), col("w"),
        (lit(0.4) * (lit(0.4) * ((col("cnt1") + lit(1L)).cast("double") /
          (col("n") + col("vsz")).cast("double")))).as("score"))
    val m0 = tot.select(lit(0L).as("ord"), nullS.as("u"), nullS.as("v"),
      nullS.as("w"),
      (lit(0.4) * (lit(0.4) * (lit(1.0) /
        (col("n") + col("vsz")).cast("double")))).as("score"))
    m3.unionAll(m2).unionAll(m1).unionAll(m0)
  }

  /** Score documents against a [[sboTrain]] model: per doc, the mean
    * of −ln S over its trigrams in position order (documents with
    * fewer than three tokens have no trigrams and are omitted) — the
    * CCNet quality signal (Wenzek et al. 2020): low mean-neg-logprob ≈
    * fluent under the reference corpus, high ≈ gibberish/boilerplate.
    *
    * Scale shape: trigram pairing is row-local under the posexplode
    * projection barrier; resolution is THREE left equi-joins against
    * ord-sliced model tables, largest first (trigram slice, then the
    * vocabulary-bounded bigram/unigram slices — AQE broadcasts each
    * when it fits, and at real scale the count-thresholded model is
    * built to fit); the per-doc mean is an idx-ordered sequential fold
    * ([[HashFunctions.java_ln]], bit-replicable).
    */
  def sboScore(df: DataFrame, model: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    // Fence the model: it is sliced FOUR times below (one filter per
    // backoff order), and when the caller passes a composed lineage
    // (train ∘ score in one plan, the gate row) each slice would
    // re-derive the whole training sweep — measured 12.6× wall at the
    // 100× probe before the fence, 4 train derivations inside one
    // score. Model-sized, one build; parquet-backed models pay one
    // re-materialization.
    val m = fence(model)
    val m3 = m.filter(col("ord") === 3)
      .select(col("u"), col("v"), col("w"), col("score").as("s3"))
    val m2 = m.filter(col("ord") === 2)
      .select(col("v").as("v2"), col("w").as("w2"), col("score").as("s2"))
    val m1 = m.filter(col("ord") === 1)
      .select(col("w").as("w1"), col("score").as("s1"))
    val m0 = m.filter(col("ord") === 0).select(col("score").as("s0"))
    // a trained model always carries exactly one ord=0 OOV-floor row;
    // without this check an empty or mis-pointed modelTable would
    // crossJoin the whole output to ZERO rows silently — the worst
    // failure mode for a quality filter (everything "passes" by
    // absence). The fence above already materialized m, so this is a
    // scan of the checkpoint, not a re-derivation.
    require(!m0.isEmpty,
      "sboScore: model has no ord=0 floor row — empty or mis-pointed " +
        "modelTable (train with sboTrain / text.sbo_train first)")
    val tri = df.select(col(idCol).as("doc_id"), sboToks(textCol).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        posexplode(expr("sequence(1, size(toks) - 2)")))
      .select(col("doc_id"), col("col").cast("long").as("idx"),
        element_at(col("toks"), col("col")).as("u"),
        element_at(col("toks"), col("col") + 1).as("v"),
        element_at(col("toks"), col("col") + 2).as("w"))
    tri.join(m3, Seq("u", "v", "w"), "left")
      .join(m2, col("v") === col("v2") && col("w") === col("w2"), "left")
      .join(m1, col("w") === col("w1"), "left")
      .crossJoin(broadcast(m0))
      .select(col("doc_id"), struct(col("idx"),
        (-java_ln(coalesce(col("s3"), col("s2"), col("s1"), col("s0"))))
          .as("nl")).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        (aggregate(array_sort(collect_list(col("contrib"))), lit(0.0),
          (acc, x) => acc + x.getField("nl")) /
          count(lit(1)).cast("double")).as("mean_neg_logprob_sbo"))
  }
}
