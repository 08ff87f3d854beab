package graft.ops

import graft.model.Ref
import Plugins.{After, opt, req}

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
  * what runs. The field, codec, flow, LLM and custom entries are here;
  * the analytics entries are in one object per family ([[GraphPlugins]],
  * [[TextPlugins]], [[DedupPlugins]], [[SamplePlugins]],
  * [[SketchPlugins]], [[TablePlugins]]), declared with [[Plugins]].
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
    /** The plugin these settings are for. */
    def plugin: String = entry.plugin

    /** `require`, failing with the plugin named. */
    def check(ok: Boolean, msg: => String): Unit =
      require(ok, s"$plugin: $msg")

    private def declared(name: String): Setting =
      entry.byName.getOrElse(name, throw new IllegalStateException(
        s"$plugin: reads undeclared setting: $name"))

    /** Only what the user gave — for settings whose absence means
      * something other than a default value. */
    def opt(name: String): Option[String] = { declared(name); raw.get(name) }

    def str(name: String): String = {
      val d = declared(name)
      raw.getOrElse(name,
        if (d.required) throw new IllegalArgumentException(
          s"$plugin: missing required setting: $name")
        else d.value)
    }

    private def parse[A](name: String, kind: String)(f: String => A): A =
      Settings.parse(plugin, name, kind, str(name))(f)

    def int(name: String): Int = parse(name, "an integer")(_.toInt)
    def millis(name: String): Long = Settings.millis(plugin, name, str(name))
    def long(name: String): Long = parse(name, "an integer")(_.toLong)
    def double(name: String): Double = parse(name, "a number")(_.toDouble)
    def bool(name: String): Boolean = parse(name, "true or false")(_.toBoolean)
    def ref(name: String): Ref = Ref.parse(str(name))

    /** The non-empty trimmed items of a `sep`-separated list. */
    def list(name: String, sep: String = ","): Seq[String] =
      str(name).split(sep).toSeq.map(_.trim).filter(_.nonEmpty)
    def refs(name: String): Seq[Ref] = list(name).map(Ref.parse)

    /** The items of list `name`, each read by `f`; an item `f`
      * rejects fails naming the plugin, the setting, the `shape` an
      * item must have, and the item. */
    def items[A](name: String, shape: String, sep: String = ",")(f: String => A): Seq[A] =
      list(name, sep).map { item =>
        try f(item)
        catch {
          case _: IllegalArgumentException | _: MatchError =>
            throw new IllegalArgumentException(
              s"$plugin: $name entry must be $shape, got $item")
        }
      }

    /** A `name:number` list such as `en:0.8,de:0.2`; the name may
      * itself contain `:`. */
    def weights(name: String): Seq[(String, Double)] =
      items(name, "name:number") { spec =>
        val i = spec.lastIndexOf(':')
        require(i > 0)
        (spec.substring(0, i).trim, spec.substring(i + 1).trim.toDouble)
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

  private val Text = ".Payload.After.text"
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
      s => FieldRename(s.items("mapping", "from:to") { pair =>
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

    // ---- custom ---------------------------------------------------------
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
      s => WasmProcessor.fromSettings(s.raw))
  ) ++ GraphPlugins.entries ++ TextPlugins.entries ++ DedupPlugins.entries ++
    SamplePlugins.entries ++ SketchPlugins.entries ++ TablePlugins.entries

  private val custom =
    new java.util.concurrent.ConcurrentHashMap[String, Factory]()

  /** Install a custom processor plugin (user extension point). */
  def register(plugin: String, factory: Factory): Unit =
    custom.put(plugin, factory)

  /** Install a custom stateless transform under a plugin name. */
  def registerTransform(name: String)
                       (fn: (org.apache.spark.sql.DataFrame, Map[String, String]) =>
                            org.apache.spark.sql.DataFrame): Unit =
    register(name, settings => Processor(name)(fn(_, settings)))

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
