package graft.ops

import graft.model.Ref

/** Config-compatible processor factory: plugin name + string settings →
  * [[Processor]], mirroring the reference's builtin processor registry
  * (`pkg/plugin/processor/builtin/registry.go`). Parameter names and
  * defaults match the reference's exported specs
  * (`.../exampleutil/specs/` JSON files).
  *
  * Each builtin is declared once, as an [[Entry]]: its settings
  * (required, or optional with the default the engine uses) and a
  * `build` that reads them through [[Settings]]. The same entries feed
  * [[factories]], `PLUGINS.md`, `GET /v1/processors/plugins` and gRPC
  * `ListProcessorPlugins` ([[PluginCatalog]]), so the served spec is
  * what runs.
  *
  * Custom processors: the reference's escape hatch is an embedded JS
  * engine (`impl/custom/javascript.go:151`) — carried here as
  * `custom.javascript` ([[JsProcessor]]: the same `process(record)`
  * contract, run in a per-partition Node subprocess). The JVM-native
  * escape hatch is stronger still: [[register]] installs any user
  * `Processor` (or a plain `DataFrame => DataFrame`) under a plugin
  * name, after which YAML provisioning, the builder DSL, conditions,
  * and the schema middleware all treat it exactly like a builtin. A
  * declarative `Column`-level function stays inside codegen, which is
  * strictly faster than any per-record JS bridge; the `sql`
  * processor covers the no-compile case.
  */
object Registry {
  type Factory = Map[String, String] => Processor

  /** One setting of a plugin: for a required one `value` is the
    * example, for an optional one it is the default the engine uses. */
  final case class Setting(name: String, required: Boolean,
                           value: String, doc: String = "")

  final case class Entry(plugin: String, summary: String,
                         settings: Seq[Setting])(val build: Settings => Processor) {
    /** Example settings: required ones verbatim (they double as the
      * YAML snippet), nothing else — defaults are what they are. */
    def example: Map[String, String] =
      settings.filter(_.required).map(s => s.name -> s.value).toMap

    private[ops] lazy val byName: Map[String, Setting] =
      settings.map(s => s.name -> s).toMap
  }

  /** The settings a user gave one processor, read through its entry:
    * a required name must be given, an optional one falls back to the
    * declared default (a given value always wins, even `""`), and a
    * name the entry does not declare is a bug in the entry. */
  final class Settings(entry: Entry, val raw: Map[String, String]) {
    private def declared(name: String): Setting =
      entry.byName.getOrElse(name, throw new IllegalStateException(
        s"${entry.plugin}: reads undeclared setting: $name"))

    /** Only what the user gave — for settings whose absence means
      * something other than a default value. */
    def opt(name: String): Option[String] = { declared(name); raw.get(name) }

    def str(name: String): String = {
      val d = declared(name)
      raw.getOrElse(name,
        if (d.required) throw new IllegalArgumentException(
          s"${entry.plugin}: missing required setting: $name")
        else d.value)
    }

    private def parse[A](name: String, kind: String)(f: String => A): A =
      Settings.parse(entry.plugin, name, kind, str(name))(f)

    def int(name: String): Int = parse(name, "an integer")(_.toInt)
    def millis(name: String): Long = Settings.millis(entry.plugin, name, str(name))
    def long(name: String): Long = parse(name, "an integer")(_.toLong)
    def double(name: String): Double = parse(name, "a number")(_.toDouble)
    def bool(name: String): Boolean = parse(name, "true or false")(_.toBoolean)
    def ref(name: String): Ref = Ref.parse(str(name))

    /** The non-empty trimmed items of a `sep`-separated list. */
    def list(name: String, sep: String = ","): Seq[String] =
      str(name).split(sep).toSeq.map(_.trim).filter(_.nonEmpty)
    def refs(name: String): Seq[Ref] = list(name).map(Ref.parse)

    /** A `name:number` list such as `en:0.8,de:0.2`; the name may
      * itself contain `:`. */
    def weights(name: String): Seq[(String, Double)] = list(name).map { spec =>
      def bad = new IllegalArgumentException(
        s"${entry.plugin}: $name entry must be name:number, got $spec")
      val i = spec.lastIndexOf(':')
      if (i <= 0) throw bad
      (spec.substring(0, i).trim,
        try spec.substring(i + 1).trim.toDouble
        catch { case _: NumberFormatException => throw bad })
    }
  }

  object Settings {
    /** `f(v.trim)`, failing with the plugin, setting and value named. */
    def parse[A](plugin: String, name: String, kind: String, v: String)(
        f: String => A): A =
      try f(v.trim)
      catch {
        case _: IllegalArgumentException => throw new IllegalArgumentException(
          s"""$plugin: setting $name must be $kind, got "$v"""")
      }

    /** A duration given as `<n>ms`, `<n>s` or bare milliseconds, in
      * milliseconds. */
    def millis(plugin: String, name: String, v: String): Long =
      parse(plugin, name, "a duration such as 250ms or 5s", v) {
        case d if d.endsWith("ms") => d.dropRight(2).toLong
        case d if d.endsWith("s") => d.dropRight(1).toLong * 1000
        case d => d.toLong
      }
  }

  /** `raw` read through the entry of `plugin`. */
  def settingsFor(plugin: String, raw: Map[String, String]): Settings =
    new Settings(entries.find(_.plugin == plugin).getOrElse(
      throw new IllegalArgumentException(s"unknown processor plugin: $plugin")), raw)

  private[ops] def req(name: String, example: String, doc: String = "") =
    Setting(name, required = true, example, doc)
  private[ops] def opt(name: String, default: String, doc: String = "") =
    Setting(name, required = false, default, doc)

  // common example field refs (the OpenCDC record path vocabulary)
  private val Id = ".Payload.After.doc_id"
  private val Text = ".Payload.After.text"
  private val Vec = ".Payload.After.embedding"
  private val Src = ".Payload.After.src"
  private val Dst = ".Payload.After.dst"
  private val After = ".Payload.After"
  private val Lang = ".Payload.After.lang"
  private val Tokens = ".Payload.After.n_tokens"
  private val Schema =
    """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}"""

  /** The field an LLM processor reads and the one it writes, which
    * is the input field unless set. */
  private def llmField(in: String, out: String) =
    Seq(opt(in, After), opt(out, "", s"unset: the result replaces $in"))
  /** The engine-uniform spellings that the cohere plugins also accept;
    * the reference spelling wins when both are given. */
  private val llmFieldAliases =
    Seq(opt("field", "", "alias of the input field"),
      opt("result.field", "", "alias of the output field"))
  /** Request batching, retry on 429/5xx, and the API key — read by
    * every LLM processor, each under a second (reference) spelling. */
  private def llmRequest(maxBatch: Int) = {
    def aliased(name: String, alias: String, default: String, doc: String) =
      Seq(opt(name, default, doc), opt(alias, "", s"alias of $name"))
    aliased("batchSize", "maxTextsPerRequest", maxBatch.toString,
      s"records per request, at most $maxBatch") ++
      aliased("backoffRetry.count", "max_retries", "0", "retries of a 429 or 5xx") ++
      aliased("backoffRetry.min", "initial_backoff", "100ms", "first retry delay") ++
      aliased("backoffRetry.max", "max_backoff", "5s", "retry delay cap") ++
      aliased("backoffRetry.factor", "backoff_factor", "2", "retry delay growth") ++
      aliased("apiKey", "api_key", "", "sent as a Bearer token when set")
  }
  private val openaiEmbed =
    Seq(opt("model", "text-embedding-3-small"),
      opt("url", "https://api.openai.com/v1/embeddings")) ++
      Seq("dimensions", "encoding_format", "user").map(opt(_, "", "sent only when set")) ++
      llmField("field", "result.field") ++ llmRequest(96)
  private val ollama =
    Seq(opt("url", "http://localhost:11434"), opt("model", "llama3.2"),
      opt("prompt", "")) ++ llmField("field", "result.field") ++ llmRequest(1)

  val entries: Seq[Entry] = Seq(
    // ---- field / codec ------------------------------------------------
    Entry("field.set", "Set a field to a literal or Go-template value.",
      Seq(req("field", ".Payload.After.department"),
        req("value", "engineering", "literal or {{ .Payload.After.x }} template")))(
      s => FieldSet(s.ref("field"), s.str("value"))),
    Entry("field.rename", "Rename fields (comma-separated from:to pairs).",
      Seq(req("mapping", ".Payload.After.name:fullname")))(
      s => FieldRename(s.list("mapping").map { pair =>
        val Array(from, to) = pair.split(":", 2)
        (Ref.parse(from.trim), to.trim)
      })),
    Entry("field.exclude", "Drop fields from the record.",
      Seq(req("fields", ".Payload.After.ssn")))(
      s => FieldExclude(s.refs("fields"))),
    Entry("field.convert", "Cast a field to string/int/long/float/bool.",
      Seq(req("field", ".Payload.After.age"), req("type", "long")))(
      s => FieldConvert(s.ref("field"), s.str("type"))),
    Entry("json.decode", "Parse a JSON string field into structured data.",
      Seq(req("field", Text), opt("schema", "", "optional DDL schema")))(
      s => JsonDecode(s.ref("field"), s.opt("schema"))),
    Entry("json.encode", "Serialize a structured field to a JSON string.",
      Seq(req("field", After)))(s => JsonEncode(s.ref("field"))),
    Entry("base64.encode", "Base64-encode a field.", Seq(req("field", Text)))(
      s => Base64Encode(s.ref("field"))),
    Entry("base64.decode", "Base64-decode a field.", Seq(req("field", Text)))(
      s => Base64Decode(s.ref("field"))),
    Entry("avro.encode", "Avro-encode the payload against a schema.",
      Seq(req("schema", Schema), opt("schema.id", "1"), opt("field", After),
        opt("schema.strategy", "", "autoRegister infers + registers"),
        opt("schema.autoRegister.subject", "", "required with autoRegister"),
        opt("schema.registry.url", "", "required with autoRegister")))(
      s => s.opt("schema.strategy") match {
        // reference default strategy: infer from payload + register
        case Some("autoRegister") => AvroEncodeAuto(s.ref("field"),
          s.opt("schema.autoRegister.subject").getOrElse(
            throw new IllegalArgumentException(
              "avro.encode autoRegister: missing schema.autoRegister.subject")),
          s.opt("schema.registry.url").getOrElse(
            throw new IllegalArgumentException(
              "avro.encode autoRegister: missing schema.registry.url")))
        case _ => AvroEncode(s.ref("field"), s.str("schema"), s.int("schema.id"))
      }),
    Entry("avro.decode", "Avro-decode the payload against a schema.",
      Seq(req("schema", Schema), opt("field", After)))(
      s => AvroDecode(s.ref("field"), s.str("schema"))),
    Entry("unwrap.debezium", "Unwrap a Debezium envelope into OpenCDC.",
      Seq(opt("field", After)))(s => UnwrapDebezium(s.ref("field"))),
    Entry("unwrap.kafkaconnect", "Unwrap a Kafka Connect envelope.",
      Seq(opt("field", After)))(s => UnwrapKafkaConnect(s.ref("field"))),
    Entry("unwrap.opencdc", "Unwrap a nested OpenCDC record.",
      Seq(opt("field", After)))(s => UnwrapOpencdc(s.ref("field"))),

    // ---- flow ----------------------------------------------------------
    Entry("filter", "Drop records (pair with a per-processor condition).",
      Nil)(_ => FilterProc()),
    Entry("error", "Fail records to the DLQ with a message.",
      Seq(opt("message", "error processor triggered")))(
      s => ErrorProc(s.str("message"))),
    Entry("clone", "Emit N copies of each record.", Seq(req("count", "2")))(
      s => CloneProc(s.int("count"))),
    Entry("split", "One record per element of an array field.",
      Seq(req("field", ".Payload.After.items")))(s => SplitProc(s.ref("field"))),
    Entry("sql", "Arbitrary Spark SQL over the batch (view `records`).",
      Seq(req("query", "SELECT * FROM records"), opt("view", "records")))(
      s => SqlProc(s.str("query"), s.str("view"))),

    // ---- enrichment -----------------------------------------------------
    Entry("webhook.http", "Per-record HTTP call with retry/backoff; " +
      "each `headers.<name>` setting is sent as header `<name>`.",
      Seq(req("request.url", "https://example.com/{{ .Payload.After.doc_id }}"),
        opt("request.method", "GET"), opt("request.body", ""),
        opt("request.contentType", "", "sent as Content-Type when set"),
        opt("response.body", After),
        opt("response.status", "", "field for the HTTP status; unset: not written"),
        opt("backoffRetry.count", "0"), opt("backoffRetry.min", "100ms"),
        opt("backoffRetry.max", "5s"), opt("backoffRetry.factor", "2")))(
      s => WebhookHttp(s.raw)),
    Entry("enrich.asof", "As-of join against a versioned dimension table.",
      Seq(req("key", ".Payload.After.k"), req("time", ".Payload.After.t"),
        req("table", "/data/prices"), req("values", "price"),
        opt("tableKey", "key"), opt("tableTime", "ts")))(
      s => EnrichAsofProc(s.ref("key"), s.ref("time"), s.str("table"),
        s.str("tableKey"), s.str("tableTime"), s.list("values"))),
    Entry("openai.embed", "OpenAI embeddings for a text field.", openaiEmbed)(
      s => LlmProcessor("openai.embed", s.raw)),
    // the reference's own spec names as aliases (specs/*.json)
    Entry("openai.embeddings", "Alias of openai.embed (reference spec name).",
      openaiEmbed)(s => LlmProcessor("openai.embed", s.raw)),
    Entry("openai.textgen", "OpenAI chat completion over a text field.",
      Seq(opt("model", "gpt-4o-mini"),
        opt("url", "https://api.openai.com/v1/chat/completions")) ++
        Seq("developer_message", "temperature", "top_p", "max_tokens",
          "max_completion_tokens").map(opt(_, "", "sent only when set")) ++
        llmField("field", "result.field") ++ llmRequest(1))(
      s => LlmProcessor("openai.textgen", s.raw)),
    Entry("cohere.command", "Cohere command generation (goSprintf prompt).",
      Seq(opt("model", "command"), opt("prompt", "%s"),
        opt("url", "https://api.cohere.com/v2/chat")) ++
        llmField("request.body", "response.body") ++ llmFieldAliases ++
        llmRequest(1))(
      s => LlmProcessor("cohere.command", s.raw)),
    Entry("cohere.embed", "Cohere embeddings for a text field.",
      Seq(opt("model", "embed-english-v2.0"),
        opt("inputType", "", "required for v3+ models"),
        opt("url", "https://api.cohere.com/v2/embed")) ++
        llmField("inputField", "outputField") ++ llmFieldAliases ++
        llmRequest(96))(
      s => LlmProcessor("cohere.embed", s.raw)),
    Entry("cohere.rerank", "Cohere rerank of documents against a query.",
      Seq(opt("model", "rerank-v3.5"), opt("query", ""),
        opt("url", "https://api.cohere.com/v2/rerank")) ++
        llmField("request.body", "response.body") ++ llmFieldAliases ++
        llmRequest(96))(
      s => LlmProcessor("cohere.rerank", s.raw)),
    Entry("ollama.request", "Local Ollama generation request.", ollama)(
      s => LlmProcessor("ollama.request", s.raw)),
    Entry("ollama", "Alias of ollama.request (reference spec name).", ollama)(
      s => LlmProcessor("ollama.request", s.raw)),

    // ---- dedup ----------------------------------------------------------
    Entry("dedup.exact", "Exact dedup on a field (or the whole record).",
      Seq(opt("field", "", "empty = whole payload")))(
      s => DedupExact(s.opt("field").map(Ref.parse))),
    Entry("dedup.url", "Canonical-URL dedup (scheme/host/query cleanup).",
      Seq(opt("field", After)))(s => DedupUrlProc(s.ref("field"))),
    Entry("dedup.minhash", "MinHash-LSH near-dup pairs over shingles.",
      Seq(req("id", Id), opt("field", After), opt("shingleSize", "3"),
        opt("numHashes", "128"), opt("numBands", "16"),
        opt("threshold", "0.8"), opt("charGrams", "false"),
        opt("maxBucket", "4096")))(
      s => DedupMinhashProc(s.ref("id"), s.ref("field"), s.int("shingleSize"),
        s.int("numHashes"), s.int("numBands"), s.double("threshold"),
        s.bool("charGrams"), s.int("maxBucket"))),
    Entry("dedup.simhash", "SimHash near-dup pairs within Hamming radius.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3"),
        opt("maxBucket", "4096")))(
      s => DedupSimhashProc(s.ref("id"), s.ref("field"), s.int("maxHamming"),
        s.int("maxBucket"))),
    Entry("dedup.clusters", "Near-dup connected components + keep verdicts.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3")))(
      s => DedupClustersProc(s.ref("id"), s.ref("field"), s.int("maxHamming"))),
    Entry("dedup.softweight", "1/cluster_size soft-dedup training weights.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3")))(
      s => DedupSoftweightProc(s.ref("id"), s.ref("field"), s.int("maxHamming"))),
    Entry("dedup.semantic", "Embedding-cosine near-dup (SemDeDup-style).",
      Seq(req("id", Id), req("vec", Vec), opt("k", "16"),
        opt("threshold", "0.95"), opt("maxBucket", "4096")))(
      s => SemanticDedupProc(s.ref("id"), s.ref("vec"), s.int("k"),
        s.double("threshold"), s.int("maxBucket"))),
    Entry("dedup.incremental", "Batch-vs-history exact dedup verdicts.",
      Seq(req("id", Id), req("historyTable", "/data/history"),
        opt("historyField", "text"), opt("field", After)))(
      s => DedupIncrementalProc(s.ref("id"), s.ref("field"),
        s.str("historyTable"), s.str("historyField"))),

    // ---- text -----------------------------------------------------------
    Entry("text.metrics", "Length/token/punctuation quality metrics.",
      Seq(opt("field", After)))(s => TextMetrics(s.ref("field"))),
    Entry("text.quality", "Quality screen: stopword/punct/length ratios.",
      Seq(opt("field", After)))(s => TextQualityProc(s.ref("field"))),
    Entry("text.langid", "N-gram language identification.",
      Seq(opt("field", After)))(s => TextLangidProc(s.ref("field"))),
    Entry("text.scripts", "Script composition (Latin/CJK/Cyrillic/...).",
      Seq(opt("field", After)))(s => TextScriptsProc(s.ref("field"))),
    Entry("text.normalize", "Unicode/whitespace/case normalization.",
      Seq(opt("field", After)))(s => TextNormalizeProc(s.ref("field"))),
    Entry("text.fingerprint", "Rolling-hash document fingerprint.",
      Seq(opt("field", After)))(s => TextFingerprintProc(s.ref("field"))),
    Entry("text.tokens", "Whitespace + BPE-ish regex token counts.",
      Seq(opt("field", After)))(s => TextTokensProc(s.ref("field"))),
    Entry("text.chunk", "Fixed-size token chunks with overlap.",
      Seq(opt("field", After), opt("chunkTokens", "100"), opt("overlap", "20")))(
      s => TextChunk(s.ref("field"), s.int("chunkTokens"), s.int("overlap"))),
    Entry("text.pii", "PII pattern annotation (emails, phones, ids).",
      Seq(opt("field", After)))(s => TextPiiProc(s.ref("field"))),
    Entry("text.repetition", "Repeated n-gram / boilerplate ratios.",
      Seq(req("id", Id), opt("field", After)))(
      s => TextRepetitionProc(s.ref("id"), s.ref("field"))),
    Entry("text.novelty", "Cross-document n-gram novelty score.",
      Seq(req("id", Id), opt("field", After), opt("n", "3")))(
      s => TextNoveltyProc(s.ref("id"), s.ref("field"), s.int("n"))),
    Entry("text.entropy", "Character/word entropy per document.",
      Seq(req("id", Id), opt("field", After)))(
      s => TextEntropyProc(s.ref("id"), s.ref("field"))),
    Entry("text.gopher",
      "Gopher quality rules (Rae et al. 2021): annotate or filter.",
      Seq(opt("field", After), opt("drop", "false"),
        opt("minWords", "50"), opt("maxWords", "100000"),
        opt("minMeanWordLen", "3.0"), opt("maxMeanWordLen", "10.0"),
        opt("maxSymbolRatio", "0.1"), opt("maxBulletFrac", "0.9"),
        opt("maxEllipsisFrac", "0.3"), opt("minAlphaFrac", "0.8"),
        opt("minStopHits", "2")))(
      s => TextGopherProc(s.ref("field"), s.bool("drop"),
        s.long("minWords"), s.long("maxWords"),
        s.double("minMeanWordLen"), s.double("maxMeanWordLen"),
        s.double("maxSymbolRatio"), s.double("maxBulletFrac"),
        s.double("maxEllipsisFrac"), s.double("minAlphaFrac"),
        s.long("minStopHits"))),
    Entry("text.fineweb",
      "FineWeb line-shape heuristics (Penedo et al. 2024): annotate or filter.",
      Seq(opt("field", After), opt("drop", "false"),
        opt("minPunctLineFrac", "0.12"), opt("maxDupLineCharFrac", "0.1"),
        opt("maxShortLineFrac", "0.67"), opt("shortLineChars", "30")))(
      s => TextFinewebProc(s.ref("field"), s.bool("drop"),
        s.double("minPunctLineFrac"), s.double("maxDupLineCharFrac"),
        s.double("maxShortLineFrac"), s.int("shortLineChars"))),
    Entry("text.strip_html",
      "HTML to text: strip tags/scripts/comments, decode entities.",
      Seq(opt("field", After)))(s => TextStripHtmlProc(s.ref("field"))),
    Entry("text.nb_train",
      "Train a Naive-Bayes token model: label-conditional log-odds (batch-only).",
      Seq(req("id", Id), req("label", Lang),
        req("posValue", "en"), opt("field", After), opt("alpha", "1.0")))(
      s => TextNbTrainProc(s.ref("id"), s.ref("field"), s.ref("label"),
        s.str("posValue"), s.double("alpha"))),
    Entry("text.nb",
      "Score docs against a trained Naive-Bayes model (batch-only).",
      Seq(req("id", Id), req("modelTable", "/data/nb-model"),
        opt("field", After), opt("prior", "0.0")))(
      s => TextNbProc(s.ref("id"), s.ref("field"), s.str("modelTable"),
        s.double("prior"))),
    Entry("dedup.winnow",
      "Winnowing fingerprint match: doc pairs sharing window-min grams (batch-only).",
      Seq(req("id", Id), opt("field", After), opt("k", "4"), opt("w", "8"),
        opt("minShared", "2"), opt("maxDf", "64")))(
      s => DedupWinnowProc(s.ref("id"), s.ref("field"), s.int("k"), s.int("w"),
        s.int("minShared"), s.int("maxDf"))),
    Entry("text.divergence",
      "Pairwise Jensen-Shannon divergence between stratum slices (batch-only).",
      Seq(req("stratum", Lang), opt("field", After)))(
      s => TextDivergenceProc(s.ref("stratum"), s.ref("field"))),
    Entry("text.sbo_train",
      "Train a stupid-backoff trigram LM: count-ratio scores (batch-only).",
      Seq(req("id", Id), opt("field", After)))(
      s => TextSboTrainProc(s.ref("id"), s.ref("field"))),
    Entry("text.sbo",
      "CCNet-style fluency score vs a trained SBO model (batch-only).",
      Seq(req("id", Id), req("modelTable", "/data/sbo-model"),
        opt("field", After)))(
      s => TextSboProc(s.ref("id"), s.ref("field"), s.str("modelTable"))),
    Entry("text.zipf",
      "Zipf's-law slope/intercept of the vocabulary head (batch-only).",
      Seq(opt("field", After), opt("minCount", "2"), opt("topN", "4096")))(
      s => TextZipfProc(s.ref("field"), s.long("minCount"), s.int("topN"))),
    Entry("text.heaps",
      "Heaps'-law vocabulary-growth fit V(n)=K*n^beta (batch-only).",
      Seq(req("id", Id), opt("field", After), opt("bucketWidth", "64")))(
      s => TextHeapsProc(s.ref("id"), s.ref("field"), s.long("bucketWidth"))),
    Entry("text.classifier", "Hashed-feature quality classifier score.",
      Seq(opt("field", After), opt("seed", "42")))(
      s => TextClassifierProc(s.ref("field"), s.long("seed"))),
    Entry("text.hashing", "Hashed bag-of-words feature vector.",
      Seq(req("id", Id), opt("field", After), opt("dim", "1024")))(
      s => HashingProc(s.ref("id"), s.ref("field"), s.int("dim"))),
    Entry("text.decontaminate", "Flag docs sharing n-grams with an eval set.",
      Seq(req("id", Id), req("evalTable", "/data/eval"),
        opt("evalField", "text"), opt("n", "8"), opt("field", After)))(
      s => DecontaminateProc(s.ref("id"), s.ref("field"), s.str("evalTable"),
        s.str("evalField"), s.int("n"))),
    Entry("text.oov", "Out-of-vocabulary rate vs a train corpus (batch-only).",
      Seq(req("id", Id), req("trainTable", "/data/train"),
        opt("trainField", "text"), opt("minCount", "2"), opt("field", After)))(
      s => TextOovProc(s.ref("id"), s.ref("field"), s.str("trainTable"),
        s.str("trainField"), s.long("minCount"))),
    Entry("text.dsir", "DSIR importance weights toward a target domain (batch-only).",
      Seq(req("id", Id), req("targetTable", "/data/target"),
        opt("targetField", "text"), opt("buckets", "4096"), opt("field", After)))(
      s => TextDsirProc(s.ref("id"), s.ref("field"), s.str("targetTable"),
        s.str("targetField"), s.int("buckets"))),
    Entry("text.bpe", "Apply a trained BPE merge list per document (batch-only).",
      Seq(req("id", Id), req("mergesTable", "/data/merges"), opt("field", After)))(
      s => TextBpeProc(s.ref("id"), s.ref("field"), s.str("mergesTable"))),
    Entry("text.bpe_train", "Train a BPE merge list on the corpus (batch-only).",
      Seq(req("id", Id), opt("rounds", "8"), opt("field", After)))(
      s => TextBpeTrainProc(s.ref("id"), s.ref("field"), s.int("rounds"))),

    // ---- sampling / mixing -----------------------------------------------
    Entry("sample.hash", "Deterministic hash sampling by fraction.",
      Seq(opt("field", "", "empty = whole payload"), opt("fraction", "0.1"),
        opt("seed", "0")))(
      s => SampleHash(s.opt("field").map(Ref.parse), s.double("fraction"),
        s.long("seed"))),
    Entry("sample.fixed", "Exactly-k per group (deterministic).",
      Seq(req("groups", Lang), req("id", Id),
        opt("k", "1000"), opt("seed", "0")))(
      s => SampleFixedProc(s.refs("groups"), s.ref("id"), s.int("k"),
        s.long("seed"))),
    Entry("sample.weighted", "Weighted k-sample (Efraimidis-Spirakis).",
      Seq(req("id", Id), req("weight", ".Payload.After.weight"),
        opt("k", "1000"), opt("seed", "0")))(
      s => SampleWeightedProc(s.ref("id"), s.ref("weight"), s.int("k"),
        s.long("seed"))),
    Entry("sample.split", "Deterministic train/val/test splits.",
      Seq(req("group", Id), req("fractions", "train:0.8,val:0.1,test:0.1"),
        opt("seed", "0")))(
      s => SampleSplitProc(s.ref("group"),
        s.list("fractions").map { spec =>
          val i = spec.lastIndexOf(':')
          require(i > 0, s"sample.split: fraction spec must be name:f, got $spec")
          (spec.substring(0, i), spec.substring(i + 1).toDouble)
        },
        s.long("seed"))),
    Entry("sample.kfold", "Deterministic k-fold assignment.",
      Seq(req("id", Id), opt("k", "5"), opt("seed", "0")))(
      s => SampleKfoldProc(s.ref("id"), s.int("k"), s.long("seed"))),
    Entry("sample.mixture", "Doc-count mixture toward target proportions.",
      Seq(req("stratum", Lang), req("id", Id),
        req("targets", "en:0.8,de:0.2"), opt("seed", "0")))(
      s => SampleMixtureProc(s.ref("stratum"), s.ref("id"), s.weights("targets"),
        s.long("seed"))),
    Entry("sample.epochs",
      "Fractional-epoch up-sampling: emit floor(e) copies + hash-gated extra.",
      Seq(req("stratum", Lang), req("id", Id),
        req("epochs", "en:1.0,de:2.3"), opt("seed", "0")))(
      s => SampleEpochsProc(s.ref("stratum"), s.ref("id"), s.weights("epochs"),
        s.long("seed"))),
    Entry("sample.token_mixture",
      "Token-weighted mixture toward target proportions (batch-only).",
      Seq(req("stratum", Lang), req("id", Id), req("tokens", Tokens),
        req("targets", "en:0.8,de:0.2"), opt("seed", "0")))(
      s => SampleTokenMixtureProc(s.ref("stratum"), s.ref("id"), s.ref("tokens"),
        s.weights("targets"), s.long("seed"))),
    Entry("sample.mixture_kl",
      "KL divergence of realized token shares vs a target mix (batch-only).",
      Seq(req("stratum", Lang), req("tokens", Tokens),
        req("targets", "en:0.8,de:0.2")))(
      s => SampleMixtureKlProc(s.ref("stratum"), s.ref("tokens"),
        s.weights("targets"))),
    Entry("sample.unimax",
      "UniMax budget split (Chung et al. 2023): uniform under an epoch cap (batch-only).",
      Seq(req("stratum", Lang), req("tokens", Tokens),
        req("budget", "1000000"), opt("maxEpochs", "4.0")))(
      s => SampleUnimaxProc(s.ref("stratum"), s.ref("tokens"), s.long("budget"),
        s.double("maxEpochs"))),
    Entry("sample.doremi",
      "DoReMi EG mixture weights from per-domain excess losses (batch-only).",
      Seq(req("domain", Lang), req("step", ".Payload.After.step"),
        req("loss", ".Payload.After.loss"), opt("eta", "1.0")))(
      s => SampleDoremiProc(s.ref("domain"), s.ref("step"), s.ref("loss"),
        s.double("eta"))),
    Entry("custom.javascript",
      "Run custom JavaScript code: process(record) per record, in a Node subprocess.",
      Seq(req("script", "function process(r) { return r; }"),
        opt("script.path", "")))(
      s => JsProcessor.fromSettings(s.raw)),
    Entry("custom.wasm",
      "Run a WebAssembly module over each record's payload bytes (alloc/process ABI, Node-hosted).",
      Seq(req("wasm.base64", "AGFzbQEAAAA=", "base64 module (or wasm.path)"),
        opt("wasm.path", "", "load the module from a .wasm file instead"),
        opt("field", After, ".Payload.After|.Payload.Before|.Key")))(
      s => WasmProcessor.fromSettings(s.raw)),
    Entry("sample.curriculum",
      "Exact-NTILE curriculum phase by difficulty score (batch-only).",
      Seq(req("id", Id), req("score", Tokens), opt("phases", "4")))(
      s => SampleCurriculumProc(s.ref("id"), s.ref("score"), s.int("phases"))),
    Entry("text.c4",
      "C4 cleanup rules: page verdicts in metadata; drop gates on keep; clean rewrites the text to the retained lines.",
      Seq(opt("field", After), opt("drop", "false"), opt("clean", "false"),
        opt("minSentences", "5"), opt("minLineWords", "5"),
        opt("badWords", "")))(
      s => TextC4Proc(s.ref("field"), s.bool("drop"), s.long("minSentences"),
        s.long("minLineWords"), s.list("badWords"), s.bool("clean"))),
    Entry("url.filter",
      "RefinedWeb-style URL gate: host/length/digit/IP/blocklist verdicts in metadata; drop gates on keep.",
      Seq(opt("field", ".Payload.After.url"), opt("drop", "false"),
        opt("maxUrlLen", "2048"), opt("maxHostDots", "4"),
        opt("maxHostDigitFrac", "0.4"),
        opt("blockWords", "")))(
      s => UrlFilterProc(s.ref("field"), s.bool("drop"), s.long("maxUrlLen"),
        s.long("maxHostDots"), s.double("maxHostDigitFrac"),
        s.list("blockWords"))),
    Entry("sample.tiles",
      "Exact per-stratum NTILE into metadata `tile` — CCNet head/middle/tail gate (batch-only; null scores drop).",
      Seq(req("stratum", Lang), req("score", ".Metadata.sbo.score"), req("id", Id),
        opt("tiles", "3"), opt("binWidth", "0.01")))(
      s => SampleTilesProc(s.ref("stratum"), s.ref("score"), s.ref("id"),
        s.int("tiles"), s.double("binWidth"))),
    Entry("report.datacard",
      "Corpus datasheet as ONE terminal record; optional md+json files (batch-only).",
      Seq(req("id", Id), req("lang", Lang), opt("field", After),
        opt("path", "", "directory for the md+json files; none written when unset")))(
      s => ReportDataCardProc(s.ref("id"), s.ref("field"), s.ref("lang"),
        s.opt("path"))),
    Entry("sample.temperature", "Temperature-scaled stratum rebalancing.",
      Seq(req("stratum", Lang), req("id", Id),
        opt("temperature", "2.0"), opt("seed", "0")))(
      s => SampleTemperatureProc(s.ref("stratum"), s.ref("id"),
        s.double("temperature"), s.long("seed"))),
    Entry("sample.negatives", "Deterministic negative sampling for pairs.",
      Seq(req("id", Id), opt("k", "2"), opt("bucketBits", "6"),
        opt("seed", "7")))(
      s => SampleNegativesProc(s.ref("id"), s.int("k"), s.int("bucketBits"),
        s.long("seed"))),
    Entry("sample.interleave", "Deterministic global training-order shuffle (batch-only).",
      Seq(req("id", Id), opt("seed", "0")))(
      s => SampleInterleaveProc(s.ref("id"), s.long("seed"))),
    Entry("sample.pack", "Greedy sequence packing into token budgets (batch-only).",
      Seq(req("id", Id), req("tokens", Tokens),
        req("budget", "512"), opt("streams", "8"), opt("seed", "0")))(
      s => SamplePackProc(s.ref("id"), s.ref("tokens"), s.long("budget"),
        s.int("streams"), s.long("seed"))),

    // ---- sketches --------------------------------------------------------
    Entry("sketch.bloom", "Bloom-filter membership state per batch.",
      Seq(opt("value", "", "field to hash; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("mBits", "65536"), opt("kHashes", "4"), opt("seed", "7")))(
      s => BloomProc(s.opt("value").map(Ref.parse).getOrElse(s.ref("field")),
        s.int("mBits"), s.int("kHashes"), s.long("seed"))),
    Entry("sketch.cms", "Count-min sketch of value frequencies.",
      Seq(opt("value", "", "field to count; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("depth", "4"), opt("width", "1024")))(
      s => CmsProc(s.opt("value").map(Ref.parse).getOrElse(s.ref("field")),
        s.int("depth"), s.int("width"))),
    Entry("sketch.hll", "HyperLogLog distinct counts per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.user"),
        opt("p", "12"), opt("seed", "7")))(
      s => HllProc(s.refs("groups"), s.ref("value"), s.int("p"), s.long("seed"))),
    Entry("sketch.kmv", "K-minimum-values distinct-count state per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.user"),
        opt("k", "256"), opt("seed", "7")))(
      s => KmvProc(s.refs("groups"), s.ref("value"), s.int("k"), s.long("seed"))),
    Entry("sketch.kll", "KLL quantile sketch (grouped or global).",
      Seq(req("value", ".Payload.After.amount"), req("id", Id),
        opt("groups", ""), opt("k", "256"), opt("seed", "7"),
        opt("quantiles", "p50:5000,p90:9000,p99:9900")))(
      s => KllProc(s.opt("groups").map(_ => s.refs("groups")).getOrElse(Nil),
        s.ref("value"), s.ref("id"), s.int("k"),
        s.long("seed"),
        s.list("quantiles").map { spec =>
          val Array(name, bp) = spec.split(":", 2)
          (name.trim, bp.trim.toInt)
        })),
    Entry("sketch.hist", "Fixed-bin histogram + quantile estimates.",
      Seq(req("groups", Lang), req("value", ".Payload.After.amount"),
        opt("lo", "0"), opt("width", "1"), opt("bins", "64"),
        opt("quantiles", "0.5,0.9,0.99")))(
      s => HistProc(s.refs("groups"), s.ref("value"), s.double("lo"),
        s.double("width"), s.int("bins"), s.list("quantiles").map(_.toDouble))),
    Entry("sketch.topk", "Heavy hitters above a count threshold.",
      Seq(opt("value", "", "field to count; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("threshold", "2"), opt("capacity", "0")))(
      s => TopkProc(s.opt("value").map(Ref.parse).getOrElse(s.ref("field")),
        s.long("threshold"), s.int("capacity"))),
    Entry("sketch.overlap", "KMV overlap estimate vs a history corpus (batch-only).",
      Seq(req("historyTable", "/data/history"), opt("historyField", "text"),
        opt("k", "256"), opt("field", After)))(
      s => SketchOverlapProc(s.ref("field"), s.str("historyTable"),
        s.str("historyField"), s.int("k"))),

    // ---- graph -----------------------------------------------------------
    Entry("graph.pagerank", "PageRank over (src, dst) edges.",
      Seq(req("src", Src), req("dst", Dst), opt("iterations", "5"),
        opt("damping", "0.85")))(
      s => PageRankProc(s.ref("src"), s.ref("dst"), s.int("iterations"),
        s.double("damping"))),
    Entry("graph.hits", "HITS hub/authority scores.",
      Seq(req("src", Src), req("dst", Dst), opt("iterations", "3")))(
      s => HitsProc(s.ref("src"), s.ref("dst"), s.int("iterations"))),
    Entry("graph.kcore", "K-core decomposition membership.",
      Seq(req("src", Src), req("dst", Dst), opt("k", "3"),
        opt("maxRounds", "10")))(
      s => KCoreProc(s.ref("src"), s.ref("dst"), s.int("k"), s.int("maxRounds"))),
    Entry("graph.components", "Connected component labels.",
      Seq(req("src", Src), req("dst", Dst), opt("maxIter", "25")))(
      s => GraphComponentsProc(s.ref("src"), s.ref("dst"), s.int("maxIter"))),
    Entry("graph.links", "Jaccard link prediction over shared neighbors.",
      Seq(req("src", Src), req("dst", Dst), opt("minJaccard", "0.5"),
        opt("maxDegree", "100000")))(
      s => LinkPredictProc(s.ref("src"), s.ref("dst"), s.double("minJaccard"),
        s.int("maxDegree"))),
    Entry("graph.labelprop", "Label-propagation communities (batch-only).",
      Seq(req("src", Src), req("dst", Dst), opt("iterations", "4")))(
      s => LabelPropProc(s.ref("src"), s.ref("dst"), s.int("iterations"))),
    Entry("graph.modularity",
      "Modularity of the label-propagation partition (batch-only).",
      Seq(req("src", Src), req("dst", Dst), opt("iterations", "4")))(
      s => ModularityProc(s.ref("src"), s.ref("dst"), s.int("iterations"))),
    Entry("graph.ppr",
      "Personalized PageRank from a seed table (TrustRank, batch-only).",
      Seq(req("src", Src), req("dst", Dst),
        req("seedsTable", "/data/seeds"),
        opt("seedColumn", "", "default: first column"),
        opt("iterations", "5"), opt("damping", "0.85")))(
      s => PprProc(s.ref("src"), s.ref("dst"), s.str("seedsTable"),
        s.str("seedColumn"), s.int("iterations"), s.double("damping"))),
    Entry("ts.changepoint",
      "Exact single changepoint per series (SSE-reduction argmax, batch-only).",
      Seq(req("groups", ".Payload.After.event_type"),
        req("order", ".Payload.After.day"),
        req("value", ".Payload.After.cents")))(
      s => ChangepointProc(s.refs("groups"), s.ref("order"), s.ref("value"))),
    Entry("ts.hurst",
      "Hurst exponent per series by rescaled-range analysis (batch-only).",
      Seq(req("groups", ".Payload.After.event_type"),
        req("order", ".Payload.After.day"),
        req("value", ".Payload.After.cents")))(
      s => HurstProc(s.refs("groups"), s.ref("order"), s.ref("value"))),
    Entry("graph.seeddist",
      "Hop distance to the nearest seed by multi-source BFS (batch-only).",
      Seq(req("src", Src), req("dst", Dst),
        req("seedsTable", "/data/seeds"),
        opt("seedColumn", "", "default: first column"),
        opt("maxHops", "6")))(
      s => SeedDistProc(s.ref("src"), s.ref("dst"), s.str("seedsTable"),
        s.str("seedColumn"), s.int("maxHops"))),

    // ---- similarity --------------------------------------------------------
    Entry("sim.topk", "Top-k cosine neighbors (brute force or IVF).",
      Seq(req("id", Id), req("vec", Vec), opt("k", "10"),
        opt("nlist", "-1", "-1 = brute force; >0 = IVF buckets"),
        opt("maxBucket", "4096")))(
      s => SimTopkProc(s.ref("id"), s.ref("vec"), s.int("k"), s.int("nlist"),
        s.int("maxBucket"))),
    Entry("sim.cluster", "Spherical k-means topic assignment.",
      Seq(req("id", Id), req("vec", Vec), opt("k", "8")))(
      s => SimClusterProc(s.ref("id"), s.ref("vec"), s.int("k"))),
    Entry("sim.quantize", "Scalar int8 quantization of a vector field.",
      Seq(req("id", Id), req("vec", Vec)))(
      s => SimQuantizeProc(s.ref("id"), s.ref("vec"))),
    Entry("sim.pca",
      "Top principal component by exact power iteration (batch-only).",
      Seq(req("id", Id), req("vec", Vec), opt("iterations", "3"),
        opt("output", "loadings", "loadings|project|residual (ABTT)")))(
      s => SimPcaProc(s.ref("id"), s.ref("vec"), s.int("iterations"),
        s.str("output"))),

    // ---- linkage / joins --------------------------------------------------
    Entry("linkage.jw", "Jaro-Winkler fuzzy links within blocks.",
      Seq(req("id", Id), req("block", ".Payload.After.zip"),
        req("field", ".Payload.After.name"), opt("minSim", "0.9"),
        opt("maxBlock", "10000")))(
      s => FuzzyLinksProc(s.ref("id"), s.ref("block"), s.ref("field"),
        s.double("minSim"), s.int("maxBlock"))),
    Entry("linkage.score", "Fellegi-Sunter linkage scores (m/u weights).",
      Seq(req("id", Id), req("block", ".Payload.After.zip"),
        req("fields", ".Payload.After.name:0.9:0.1"),
        opt("minScore", "0.0"), opt("maxBlock", "10000")))(
      s => LinkageScoreProc(s.ref("id"), s.ref("block"),
        s.list("fields", ";").map { spec =>
          val parts = spec.split(":")
          require(parts.length == 3,
            s"linkage.score: field spec must be REF:m:u, got $spec")
          (Ref.parse(parts(0)), parts(1).toDouble, parts(2).toDouble)
        },
        s.double("minScore"), s.int("maxBlock"))),
    Entry("link.clusters", "Entity clusters from fuzzy links.",
      Seq(req("id", Id), req("block", ".Payload.After.zip"),
        req("field", ".Payload.After.name"), opt("minSim", "0.9"),
        opt("maxBlock", "10000")))(
      s => LinkClustersProc(s.ref("id"), s.ref("block"), s.ref("field"),
        s.double("minSim"), s.int("maxBlock"))),
    Entry("joins.skyline", "Pareto skyline (maximize x, minimize y) per group.",
      Seq(req("groups", Lang), req("x", ".Payload.After.score"),
        req("y", ".Payload.After.cost")))(
      s => SkylineProc(s.refs("groups"), s.ref("x"), s.ref("y"))),

    // ---- privacy -----------------------------------------------------------
    Entry("privacy.pseudonymize", "Keyed pseudonymization of id fields.",
      Seq(req("fields", ".Payload.After.user"), opt("secret", "0")))(
      s => PseudonymizeProc(s.refs("fields"), s.long("secret"))),
    Entry("privacy.kanon", "K-anonymity verdicts per quasi-identifier group.",
      Seq(req("fields", ".Payload.After.zip"), opt("k", "2")))(
      s => KAnonProc(s.refs("fields"), s.long("k"))),
    Entry("privacy.ldiv", "L-diversity verdicts for a sensitive field.",
      Seq(req("fields", ".Payload.After.zip"),
        req("sensitive", ".Payload.After.diagnosis"), opt("l", "2")))(
      s => PrivacyLdivProc(s.refs("fields"), s.ref("sensitive"), s.long("l"))),
    Entry("privacy.tclose", "T-closeness distances for a sensitive field.",
      Seq(req("fields", ".Payload.After.zip"),
        req("sensitive", ".Payload.After.diagnosis")))(
      s => PrivacyTcloseProc(s.refs("fields"), s.ref("sensitive"))),
    Entry("privacy.noise", "Laplace-noised counts per group.",
      Seq(req("fields", ".Payload.After.zip"), opt("epsilon", "1.0"),
        opt("seed", "0")))(
      s => NoisyCountProc(s.refs("fields"), s.double("epsilon"), s.long("seed"))),

    // ---- retrieval ----------------------------------------------------------
    Entry("retrieval.tfidf", "TF-IDF term weights per document.",
      Seq(req("id", Id), opt("field", After), opt("minDf", "2")))(
      s => RetrievalTfidfProc(s.ref("id"), s.ref("field"), s.long("minDf"))),
    Entry("retrieval.rm3",
      "BM25 with RM3 pseudo-relevance feedback (batch-only).",
      Seq(req("id", Id), req("query", "hash join merge"),
        opt("field", After), opt("k1", "1.2"), opt("b", "0.75"),
        opt("fbDocs", "3"), opt("fbTerms", "5"), opt("alpha", "0.6"),
        opt("topK", "10")))(
      s => RetrievalRm3Proc(s.ref("id"), s.ref("field"), s.str("query"),
        s.double("k1"), s.double("b"), s.int("fbDocs"), s.int("fbTerms"),
        s.double("alpha"), s.int("topK"))),
    Entry("retrieval.bm25", "BM25 ranking against a query string.",
      Seq(req("id", Id), req("query", "spark analytics"), opt("field", After),
        opt("k1", "1.2"), opt("b", "0.75"), opt("topK", "10")))(
      s => RetrievalBm25Proc(s.ref("id"), s.ref("field"), s.str("query"),
        s.double("k1"), s.double("b"), s.int("topK"))),
    Entry("retrieval.keywords", "Top-k TF-IDF keywords per document.",
      Seq(req("id", Id), opt("field", After), opt("k", "10"), opt("minDf", "2")))(
      s => KeywordsProc(s.ref("id"), s.ref("field"), s.int("k"), s.long("minDf"))),

    // ---- sequences / cdc / dq / misc -----------------------------------------
    Entry("seq.ngrams", "Frequent order-n event sequences per entity.",
      Seq(req("entity", ".Payload.After.user"), req("order", ".Payload.After.ts"),
        req("tie", ".Payload.After.event_id"), req("state", ".Payload.After.kind"),
        opt("n", "3"), opt("minSupport", "2")))(
      s => SeqNgramsProc(s.ref("entity"), s.ref("order"), s.ref("tie"),
        s.ref("state"), s.int("n"), s.long("minSupport"))),
    Entry("seq.transitions", "Markov transition counts per entity.",
      Seq(req("entity", ".Payload.After.user"), req("order", ".Payload.After.ts"),
        req("tie", ".Payload.After.event_id"), req("state", ".Payload.After.kind")))(
      s => SeqTransitionsProc(s.ref("entity"), s.ref("order"), s.ref("tie"),
        s.ref("state"))),
    Entry("cdc.scd2", "Slowly-changing-dimension type-2 intervals.",
      Seq(opt("order.field", "", "default: record position"),
        opt("deleteOp", "delete")))(
      s => Scd2Proc(s.opt("order.field").map(Ref.parse), s.str("deleteOp"))),
    Entry("dq.validate", "Declarative data-quality checks (; separated).",
      Seq(req("checks", "not_null:.Payload.After.doc_id")))(
      s => DqValidateProc(s.list("checks", ";"))),
    Entry("dq.reconcile", "Field-level diff against a reference table.",
      Seq(req("key", Id), req("compare", ".Payload.After.amount"),
        req("table", "/data/reference")))(
      s => ReconcileProc(s.refs("key"), s.refs("compare"), s.str("table"))),
    Entry("quality.filter", "Token-count / token-length quality gate.",
      Seq(opt("field", After), opt("minTokens", "1"),
        opt("minMeanTokenLen", "0"), opt("maxMeanTokenLen", "1000000")))(
      s => QualityFilter(s.ref("field"), s.long("minTokens"),
        s.double("minMeanTokenLen"), s.double("maxMeanTokenLen"))),
    Entry("stats.outliers", "Z-score outlier verdicts per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.amount"),
        opt("z", "3"), opt("scale", "2")))(
      s => StatsOutliersProc(s.refs("groups"), s.ref("value"), s.int("z"),
        s.int("scale"))),
    Entry("layout.key", "Z-order / Hilbert interleaved layout key.",
      Seq(req("fields", ".Payload.After.x,.Payload.After.y"),
        opt("bits", "16"), opt("kind", "zorder")))(
      s => LayoutKeyProc(s.refs("fields"), s.int("bits"), s.str("kind")))
  )

  private val custom =
    new java.util.concurrent.ConcurrentHashMap[String, Factory]()

  /** Install a custom processor plugin (user extension point). */
  def register(plugin: String, factory: Factory): Unit =
    custom.put(plugin, factory)

  /** Install a custom stateless transform under a plugin name. */
  def registerTransform(name: String)
                       (fn: (org.apache.spark.sql.DataFrame, Map[String, String]) =>
                            org.apache.spark.sql.DataFrame): Unit =
    register(name, settings => new Processor {
      val plugin: String = name
      override def transform(df: org.apache.spark.sql.DataFrame) = fn(df, settings)
    })

  val factories: Map[String, Factory] =
    entries.map(e => e.plugin -> ((raw: Map[String, String]) =>
      e.build(new Settings(e, raw)))).toMap

  def create(plugin: String, settings: Map[String, String]): Processor = {
    val factory = Option(custom.get(plugin))
      .orElse(factories.get(plugin))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown processor plugin: $plugin"))
    SchemaMiddleware.wrap(factory(settings), settings)
  }

  def plugins: Set[String] =
    factories.keySet ++ scala.jdk.CollectionConverters
      .SetHasAsScala(custom.keySet()).asScala
}
