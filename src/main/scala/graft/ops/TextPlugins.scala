package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analytics.{HashFunctions, Text, Urls}
import graft.model.Cdc
import Plugins._
import Registry.Entry

/** Text curation plugins: row-local annotators and rewrites that
  * stream (quality signals, language and script, PII, normalization,
  * the Gopher/FineWeb/C4/URL rule gates), and batch reshapes over the
  * corpus (repetition, novelty, entropy, contamination, vocabulary
  * fits, trained tokenizer and language models). Most read one text
  * field, `field`, and key their records by the `id` field.
  */
private[ops] object TextPlugins {

  /** A struct of the named columns. */
  private def structOf(cs: Seq[(String, Column)]): Column =
    struct(cs.map { case (n, c) => c.as(n) }: _*)

  /** The tail of the rule gates: each verdict `key` of struct column
    * `v` lands in metadata as `<prefix>.<key>` — on records that have a
    * verdict, so one with no text passes unannotated — and `drop`
    * keeps only the records whose verdict is `keep`. */
  private def verdicts(df: DataFrame, v: String, prefix: String,
                       keys: Seq[String], drop: Boolean): DataFrame = {
    val meta = keys.foldLeft(col(Cdc.Metadata)) { (m, k) =>
      RefCols.metaSet(m, s"$prefix.$k", col(v).getField(k).cast("string"))
    }
    val annotated = df.withColumn(Cdc.Metadata,
      when(col(v).getField("keep").isNotNull, meta).otherwise(col(Cdc.Metadata)))
    (if (drop) annotated.filter(col(v).getField("keep")) else annotated).drop(v)
  }

  /** A trained model's table at `path`: plain `cols`, or the CDC
    * records a `*_train` pipeline's parquet destination wrote (payload
    * JSON or typed struct), so train → apply composes in pure config. */
  private def modelTable(spark: SparkSession, path: String,
                         cols: (String, String)*): DataFrame = {
    val raw = spark.read.parquet(path)
    if (cols.forall { case (n, _) => raw.columns.contains(n) }) raw
    else {
      val typed = raw.schema(Cdc.PayloadAfter).dataType.isInstanceOf[StructType]
      raw.select(cols.map { case (n, t) =>
        (if (typed) col(s"${Cdc.PayloadAfter}.$n")
          else get_json_object(col(Cdc.PayloadAfter), "$." + n)).cast(t).as(n)
      }: _*)
    }
  }

  val entries: Seq[Entry] = Seq(
    Entry("text.metrics", "Length/token/punctuation quality metrics.",
      Seq(opt("field", After)))(s => TextMetrics(s.ref("field"))),
    // the `text_quality` gate row's metrics
    Entry("text.quality", "Quality screen: stopword/punct/length ratios.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      annotate(s.plugin) { df =>
        Text.qualityMetrics(fieldCol(df, field)).map { case (name, c) =>
          s"quality.$name" -> c.cast("string")
        }
      }
    },
    Entry("text.langid", "N-gram language identification.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      // both keys read the best-profile struct: materialize it once per row
      annotate(s.plugin,
          df => Map("_lang_best" -> Text.langBest(fieldCol(df, field)))) { _ =>
        val best = col("_lang_best")
        Seq("lang.pred" ->
          when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und")),
          "lang.score" -> best.getField("score").cast("string"))
      }
    },
    Entry("text.scripts", "Script composition (Latin/CJK/Cyrillic/...).",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      annotate(s.plugin) { df =>
        val t = fieldCol(df, field)
        val n = length(t)
        def cnt(re: String) = regexp_count(t, lit(re))
        val latin = cnt("[A-Za-z]")
        val digit = cnt("[0-9]")
        val cyr = cnt("[Ѐ-ӿ]")
        val cjk = cnt("[一-鿿]")
        val ws = cnt("[ \\t\\n\\x0B\\f\\r]")
        val other = n - latin - digit - cyr - cjk - ws
        val dominant = greatest(
          struct(latin.as("_c"), lit("latin").as("_l")),
          struct(digit.as("_c"), lit("digit").as("_l")),
          struct(cyr.as("_c"), lit("cyrillic").as("_l")),
          struct(cjk.as("_c"), lit("cjk").as("_l")),
          struct(other.as("_c"), lit("other").as("_l"))).getField("_l")
        val frac = when(n > 0,
          latin.cast("double") / n.cast("double")).otherwise(lit(null))
        Seq("script.dominant" -> dominant, "script.latin_frac" -> frac.cast("string"))
      }
    },
    Entry("text.normalize", "Unicode/whitespace/case normalization.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      Processor(s.plugin)(df =>
        writeField(df, field, Text.normalizeText(fieldCol(df, field))))
    },
    // rolling hash over the whitespace-normalized lowercase text: equal
    // fingerprints mean near-identical content
    Entry("text.fingerprint", "Rolling-hash document fingerprint.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      annotate(s.plugin)(df =>
        Seq("fingerprint" -> Text.fingerprintOf(fieldCol(df, field)).cast("string")))
    },
    Entry("text.tokens", "Whitespace + BPE-ish regex token counts.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      annotate(s.plugin) { df =>
        val t = fieldCol(df, field)
        Seq("tokens.ws" -> size(Text.wsTokens(t)).cast("string"),
          "tokens.bpeish" -> Text.bpeishTokenCount(t).cast("string"),
          "tokens.chars" -> length(t).cast("string"))
      }
    },
    Entry("text.chunk", "Fixed-size token chunks with overlap.",
      Seq(opt("field", After), opt("chunkTokens", "100"), opt("overlap", "20")))(
      s => TextChunk(s.ref("field"), s.int("chunkTokens"), s.int("overlap"))),
    // redacts email → ip → phone in place; the counts in metadata are
    // of the original text
    Entry("text.pii", "PII pattern annotation (emails, phones, ids).",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      Processor(s.plugin) { df =>
        val t = fieldCol(df, field)
        val meta = Text.piiCounts(t).foldLeft(col(Cdc.Metadata)) {
          case (m, (name, c)) => RefCols.metaSet(m, s"pii.$name", c.cast("string"))
        }
        writeField(df.withColumn(Cdc.Metadata, meta), field, Text.piiClean(t))
      }
    },
    Entry("text.repetition", "Repeated n-gram / boilerplate ratios.",
      Seq(req("id", Id), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      reshape(s.plugin, "_id")(df =>
        Text.repetition(docs(df, id, field), "_id", "_text"))
    },
    Entry("text.novelty", "Cross-document n-gram novelty score.",
      Seq(req("id", Id), opt("field", After), opt("n", "3"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val n = s.int("n")
      reshape(s.plugin, "doc_id")(df =>
        Text.novelty(docs(df, id, field), "_id", "_text", n))
    },
    Entry("text.entropy", "Character/word entropy per document.",
      Seq(req("id", Id), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      reshape(s.plugin, "_id")(df =>
        Text.tokenEntropy(docs(df, id, field), "_id", "_text"))
    },
    // Gopher (Rae et al. 2021, table A1) with the paper's thresholds as
    // defaults: every real deployment tunes them to its corpus
    Entry("text.gopher",
      "Gopher quality rules (Rae et al. 2021): annotate or filter.",
      Seq(opt("field", After), opt("drop", "false"),
        opt("minWords", "50"), opt("maxWords", "100000"),
        opt("minMeanWordLen", "3.0"), opt("maxMeanWordLen", "10.0"),
        opt("maxSymbolRatio", "0.1"), opt("maxBulletFrac", "0.9"),
        opt("maxEllipsisFrac", "0.3"), opt("minAlphaFrac", "0.8"),
        opt("minStopHits", "2"))) { s =>
      val (field, drop) = (s.ref("field"), s.bool("drop"))
      val (minWords, maxWords) = (s.long("minWords"), s.long("maxWords"))
      val minMeanWordLen = s.double("minMeanWordLen")
      val maxMeanWordLen = s.double("maxMeanWordLen")
      val maxSymbolRatio = s.double("maxSymbolRatio")
      val maxBulletFrac = s.double("maxBulletFrac")
      val maxEllipsisFrac = s.double("maxEllipsisFrac")
      val minAlphaFrac = s.double("minAlphaFrac")
      val minStopHits = s.long("minStopHits")
      Processor(s.plugin) { df =>
        // tokenize and line-split ONCE, signals in their own projection,
        // verdicts as cheap references (HOF signals share no
        // subexpressions; inline they would re-split the text per signal)
        val staged = df
          .withColumn("_gt", fieldCol(df, field).cast("string"))
          .withColumn("_gtoks", Text.wsTokens(col("_gt")))
          .withColumn("_glines", split(col("_gt"), "\n"))
        val withSig = staged.withColumn("_gsig",
            structOf(Text.gopherSignals(col("_gt"), col("_gtoks"), col("_glines"))))
          .drop("_gt", "_gtoks", "_glines")
        val rules = Text.gopherVerdicts(n => col("_gsig").getField(n), minWords,
          maxWords, minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletFrac,
          maxEllipsisFrac, minAlphaFrac, minStopHits)
        verdicts(withSig.withColumn("_g",
            structOf(("n_words" -> col("_gsig").getField("n_words")) +: rules))
          .drop("_gsig"), "_g", "gopher", Seq("keep", "n_words", "pass_words",
          "pass_word_len", "pass_symbol", "pass_bullet", "pass_ellipsis",
          "pass_alpha", "pass_stop"), drop)
      }
    },
    Entry("text.fineweb",
      "FineWeb line-shape heuristics (Penedo et al. 2024): annotate or filter.",
      Seq(opt("field", After), opt("drop", "false"),
        opt("minPunctLineFrac", "0.12"), opt("maxDupLineCharFrac", "0.1"),
        opt("maxShortLineFrac", "0.67"), opt("shortLineChars", "30"))) { s =>
      val (field, drop) = (s.ref("field"), s.bool("drop"))
      val minPunctLineFrac = s.double("minPunctLineFrac")
      val maxDupLineCharFrac = s.double("maxDupLineCharFrac")
      val maxShortLineFrac = s.double("maxShortLineFrac")
      val shortLineChars = s.int("shortLineChars")
      Processor(s.plugin) { df =>
        // line-split ONCE, the text.gopher staging
        val staged = df
          .withColumn("_ft", fieldCol(df, field).cast("string"))
          .withColumn("_flines", split(col("_ft"), "\n"))
        val withSig = staged.withColumn("_fsig",
            structOf(Text.finewebSignals(col("_flines"), shortLineChars)))
          .drop("_ft", "_flines")
        val rules = Text.finewebVerdicts(n => col("_fsig").getField(n),
          minPunctLineFrac, maxDupLineCharFrac, maxShortLineFrac)
        verdicts(withSig.withColumn("_f", structOf(
            ("punct_line_frac" -> col("_fsig").getField("punct_line_frac")) +: rules))
          .drop("_fsig"), "_f", "fineweb",
          Seq("keep", "punct_line_frac", "pass_punct", "pass_dup", "pass_short"), drop)
      }
    },
    Entry("text.strip_html",
      "HTML to text: strip tags/scripts/comments, decode entities.",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      Processor(s.plugin)(df =>
        writeField(df, field, Text.stripHtmlText(fieldCol(df, field))))
    },
    // label = (label field == posValue); point a parquet destination
    // here and feed its path to text.nb's modelTable
    Entry("text.nb_train",
      "Train a Naive-Bayes token model: label-conditional log-odds (batch-only).",
      Seq(req("id", Id), req("label", Lang),
        req("posValue", "en"), opt("field", After), opt("alpha", "1.0"))) { s =>
      val (id, field, label) = (s.ref("id"), s.ref("field"), s.ref("label"))
      val posValue = s.str("posValue")
      val alpha = s.double("alpha")
      s.check(alpha > 0, s"alpha=$alpha")
      reshapeBatch(s.plugin, "corpus-level label-conditional token counts", "tok") { df =>
        Text.nbTrain(flat(df, Seq(id -> "_id", field -> "_text"),
          (fieldCol(df, label) === lit(posValue)).as("_lab")), "_id", "_text", "_lab",
          alpha)
      }
    },
    // `prior` is ln(D₊/D₋) of the training corpus (0 = balanced)
    Entry("text.nb",
      "Score docs against a trained Naive-Bayes model (batch-only).",
      Seq(req("id", Id), req("modelTable", "/data/nb-model"),
        opt("field", After), opt("prior", "0.0"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val table = s.str("modelTable")
      val prior = s.double("prior")
      reshapeBatch(s.plugin, "per-document aggregation over the exploded frame",
          "doc_id") { df =>
        val spark = df.sparkSession
        import spark.implicits._
        Text.nbScore(docs(df, id, field), "_id", "_text",
            modelTable(spark, table, "tok" -> "string", "log_odds" -> "double"),
            Seq(prior).toDF("prior"))
          .withColumnRenamed("_id", "doc_id")
      }
    },
    Entry("text.divergence",
      "Pairwise Jensen-Shannon divergence between stratum slices (batch-only).",
      Seq(req("stratum", Lang), opt("field", After))) { s =>
      val (stratum, field) = (s.ref("stratum"), s.ref("field"))
      reshapeBatch(s.plugin, "corpus-level per-stratum token distributions",
          "pair", "stratum_a", "stratum_b")(df =>
        Text.jsDivergence(flat(df, Seq(stratum -> "_s", field -> "_text")), "_s", "_text"))
    },
    // train on the reference slice (filter upstream), score the crawl
    // with text.sbo: the CCNet fluency filter, count-ratio form
    Entry("text.sbo_train",
      "Train a stupid-backoff trigram LM: count-ratio scores (batch-only).",
      Seq(req("id", Id), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      reshapeBatch(s.plugin, "corpus-level trigram/bigram/unigram counts", "ngram") { df =>
        Text.sboTrain(docs(df, id, field), "_id", "_text")
          .withColumn("ngram", concat_ws("\u0001", col("ord"),
            coalesce(col("u"), lit("")), coalesce(col("v"), lit("")),
            coalesce(col("w"), lit(""))))
      }
    },
    Entry("text.sbo",
      "CCNet-style fluency score vs a trained SBO model (batch-only).",
      Seq(req("id", Id), req("modelTable", "/data/sbo-model"),
        opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val table = s.str("modelTable")
      reshapeBatch(s.plugin,
          "per-document aggregation over the exploded trigram frame", "doc_id") { df =>
        Text.sboScore(docs(df, id, field),
          modelTable(df.sparkSession, table, "ord" -> "long", "u" -> "string",
            "v" -> "string", "w" -> "string", "score" -> "double"), "_id", "_text")
      }
    },
    // partial top-k head selection, never a global vocabulary sort
    Entry("text.zipf",
      "Zipf's-law slope/intercept of the vocabulary head (batch-only).",
      Seq(opt("field", After), opt("minCount", "2"), opt("topN", "4096"))) { s =>
      val field = s.ref("field")
      val (minCount, topN) = (s.long("minCount"), s.int("topN"))
      reshapeBatch(s.plugin, "corpus-level vocabulary aggregation", "_kk")(df =>
        Text.zipfFit(flat(df, Seq(field -> "_text")), "_text", minCount, topN)
          .withColumn("_kk", lit("zipf")))
    },
    Entry("text.heaps",
      "Heaps'-law vocabulary-growth fit V(n)=K*n^beta (batch-only).",
      Seq(req("id", Id), opt("field", After), opt("bucketWidth", "64"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val bucketWidth = s.long("bucketWidth")
      reshapeBatch(s.plugin, "corpus-level vocabulary growth", "_kk")(df =>
        Text.heapsFit(df.select(fieldCol(df, id).cast("long").as("_id"),
            fieldCol(df, field).as("_text")), "_id", "_text", bucketWidth)
          .withColumn("_kk", lit("heaps")))
    },
    // weights derive from the seed; the sigmoid a trained classifier
    // applies is monotone in the margin, so `keep` is the probability gate
    Entry("text.classifier", "Hashed-feature quality classifier score.",
      Seq(opt("field", After), opt("seed", "42"))) { s =>
      val field = s.ref("field")
      val seed = s.long("seed")
      annotate(s.plugin, df => Map("_cls" -> HashFunctions.linear_text_score(
          Text.wsTokens(lower(trim(fieldCol(df, field)))), seed))) { _ =>
        val cls = col("_cls")
        Seq("classifier.n_features" -> cls.getField("n_features").cast("string"),
          "classifier.margin" -> cls.getField("margin").cast("string"),
          "classifier.keep" -> (cls.getField("margin") > 0).cast("string"))
      }
    },
    Entry("text.hashing", "Hashed bag-of-words feature vector.",
      Seq(req("id", Id), opt("field", After), opt("dim", "1024"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val dim = s.int("dim")
      reshape(s.plugin, "_k", "doc_id", "bucket")(df =>
        Text.hashingTrick(flat(df, Seq(id -> "_doc", field -> "_text")), "_doc",
          "_text", dim))
    },
    // the eval set's n-gram set broadcasts; the corpus side is one scan
    Entry("text.decontaminate", "Flag docs sharing n-grams with an eval set.",
      Seq(req("id", Id), req("evalTable", "/data/eval"),
        opt("evalField", "text"), opt("n", "8"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (table, tableField) = (s.str("evalTable"), s.str("evalField"))
      val n = s.int("n")
      reshape(s.plugin, "_id") { df =>
        val evalSet = df.sparkSession.read.parquet(table)
          .select(col(tableField).cast("string").as("_text"))
        Text.decontaminate(docs(df, id, field), evalSet,
          "_id", "_text", n)
      }
    },
    Entry("text.oov", "Out-of-vocabulary rate vs a train corpus (batch-only).",
      Seq(req("id", Id), req("trainTable", "/data/train"),
        opt("trainField", "text"), opt("minCount", "2"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (table, tableField) = (s.str("trainTable"), s.str("trainField"))
      val minCount = s.long("minCount")
      reshapeBatch(s.plugin, "the train vocabulary is aggregated at plan time",
          "doc_id") { df =>
        val train = df.sparkSession.read.parquet(table)
          .select(col(tableField).cast("string").as("_text"))
        Text.oovRate(train, docs(df, id, field), "_id",
          "_text", minCount)
      }
    },
    // Xie et al. 2023: keep the top fraction by weight downstream (or
    // feed Text.dsirSelect) to shift the corpus toward the target
    Entry("text.dsir", "DSIR importance weights toward a target domain (batch-only).",
      Seq(req("id", Id), req("targetTable", "/data/target"),
        opt("targetField", "text"), opt("buckets", "4096"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (table, tableField) = (s.str("targetTable"), s.str("targetField"))
      val buckets = s.int("buckets")
      reshapeBatch(s.plugin,
          "hashed unigram histograms are aggregated at plan time", "doc_id") { df =>
        val target = df.sparkSession.read.parquet(table)
          .select(lit(0L).as("_id"), col(tableField).cast("string").as("_text"))
        Text.dsirWeights(docs(df, id, field), target,
          "_id", "_text", buckets)
      }
    },
    // the merge list is config-sized (≤64 rows, collected once at plan
    // time); tokens join on U+001F
    Entry("text.bpe", "Apply a trained BPE merge list per document (batch-only).",
      Seq(req("id", Id), req("mergesTable", "/data/merges"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val table = s.str("mergesTable")
      reshapeBatch(s.plugin, "per-round persist fences + parquet spill", "doc_id") { df =>
        val merges = modelTable(df.sparkSession, table, "round" -> "int",
            "sym_a" -> "string", "sym_b" -> "string")
          .orderBy(col("round")).collect()
          .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
        Text.bpeSegment(docs(df, id, field), "_id", "_text",
          merges)
      }
    },
    Entry("text.bpe_train", "Train a BPE merge list on the corpus (batch-only).",
      Seq(req("id", Id), opt("rounds", "8"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val rounds = s.int("rounds")
      reshapeBatch(s.plugin, "per-round persist fences", "round")(df =>
        Text.bpeTrain(docs(df, id, field), "_id", "_text",
          rounds))
    },
    // C4 (Raffel et al. 2020 §2.2, c4_utils defaults): the bad-word list
    // is the deployment's choice, empty by default (the rule passes)
    Entry("text.c4",
      "C4 cleanup rules: page verdicts in metadata; drop gates on keep; clean rewrites the text to the retained lines.",
      Seq(opt("field", After), opt("drop", "false"), opt("clean", "false"),
        opt("minSentences", "5"), opt("minLineWords", "5"),
        opt("badWords", ""))) { s =>
      val (field, drop) = (s.ref("field"), s.bool("drop"))
      val (minSentences, minLineWords) = (s.long("minSentences"), s.long("minLineWords"))
      val (badWords, clean) = (s.list("badWords"), s.bool("clean"))
      Processor(s.plugin) { df =>
        // line-split and clean ONCE, the text.gopher staging
        val staged = df
          .withColumn("_ct", fieldCol(df, field).cast("string"))
          .withColumn("_clines", split(col("_ct"), "\n"))
          .withColumn("_ckept",
            filter(col("_clines"), l => Text.c4LineKeep(l, minLineWords)))
          .withColumn("_cclean", array_join(col("_ckept"), "\n"))
        val sigCols = Text.c4Signals(col("_ct"), col("_clines"),
          col("_ckept"), col("_cclean"), badWords)
        val cleaned = if (clean) writeField(staged, field, col("_cclean")) else staged
        val withSig = cleaned.withColumn("_csig", structOf(sigCols))
          .drop("_ct", "_clines", "_ckept", "_cclean")
        val rules = Text.c4Verdicts(n => col("_csig").getField(n), minSentences)
        verdicts(withSig.withColumn("_c", structOf(
            Seq("n_kept_lines" -> col("_csig").getField("n_kept_lines"),
              "n_sentences" -> col("_csig").getField("n_sentences")) ++ rules))
          .drop("_csig"), "_c", "c4", Seq("keep", "n_kept_lines", "n_sentences",
          "pass_sentences", "pass_lorem", "pass_brace", "pass_badword"), drop)
      }
    },
    // the zero-bytes-fetched gate a crawl pipeline runs first; the block
    // list is the deployment's choice, empty by default
    Entry("url.filter",
      "RefinedWeb-style URL gate: host/length/digit/IP/blocklist verdicts in metadata; drop gates on keep.",
      Seq(opt("field", ".Payload.After.url"), opt("drop", "false"),
        opt("maxUrlLen", "2048"), opt("maxHostDots", "4"),
        opt("maxHostDigitFrac", "0.4"),
        opt("blockWords", ""))) { s =>
      val (field, drop) = (s.ref("field"), s.bool("drop"))
      val (maxUrlLen, maxHostDots) = (s.long("maxUrlLen"), s.long("maxHostDots"))
      val maxHostDigitFrac = s.double("maxHostDigitFrac")
      val blockWords = s.list("blockWords")
      Processor(s.plugin) { df =>
        // URL and host staged once, the text.gopher staging
        val staged = df
          .withColumn("_u", fieldCol(df, field).cast("string"))
          .withColumn("_uhost", Urls.hostOf(col("_u")))
        val withSig = staged.withColumn("_usig",
            structOf(Urls.urlSignals(col("_u"), col("_uhost"), blockWords)))
          .drop("_u", "_uhost")
        val rules = Urls.urlVerdicts(n => col("_usig").getField(n), maxUrlLen,
          maxHostDots, maxHostDigitFrac)
        verdicts(withSig.withColumn("_uv",
            structOf(Seq("host" -> col("_usig").getField("host")) ++ rules))
          .drop("_usig"), "_uv", "url", Seq("keep", "host", "pass_len", "pass_dots",
          "pass_digits", "pass_ip", "pass_blocklist"), drop)
      }
    },
    Entry("quality.filter", "Token-count / token-length quality gate.",
      Seq(opt("field", After), opt("minTokens", "1"),
        opt("minMeanTokenLen", "0"), opt("maxMeanTokenLen", "1000000")))(
      s => QualityFilter(s.ref("field"), s.long("minTokens"),
        s.double("minMeanTokenLen"), s.double("maxMeanTokenLen")))
  )
}
