package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

import graft.functions.JsonOps
import graft.model.{Cdc, Ref}
import graft.model.Ref._

/** Pluggable HTTP transport so enrichment processors are testable
  * without network (and swappable for an async client at scale).
  */
trait HttpTransport extends Serializable {
  def send(method: String, url: String, headers: Map[String, String],
           body: Array[Byte]): HttpTransport.Response
}

object HttpTransport {
  final case class Response(status: Int, body: Array[Byte])

  /** Default java.net implementation — one connection per call; a
    * partition reuses the JVM-level connection pool.
    */
  object Default extends HttpTransport {
    override def send(method: String, url: String, headers: Map[String, String],
                      body: Array[Byte]): Response = {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      // bounded: a hung endpoint must fail the record (→ DLQ), never
      // stall the micro-batch forever
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      if (body != null && body.nonEmpty) {
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        os.write(body); os.close()
      }
      val status = conn.getResponseCode
      val in = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val bytes = if (in == null) Array.emptyByteArray else in.readAllBytes()
      Response(status, bytes)
    }
  }
}

/** Record-level template/reference evaluation for the enrichment
  * processors (they run in `mapPartitions`, outside Catalyst).
  */
object RecordTemplates {
  private val tmpl = """\{\{(.*?)\}\}""".r

  def getRef(row: Row, ref: Ref): String = ref match {
    case OperationRef => row.getAs[String](Cdc.Operation)
    case PositionRef => Option(row.getAs[Array[Byte]](Cdc.Position))
      .map(new String(_, "UTF-8")).orNull
    case MetadataRef(Seq(k)) =>
      Option(row.getAs[Map[String, String]](Cdc.Metadata)).flatMap(_.get(k)).orNull
    case MetadataRef(_) => null
    case KeyRef(Seq()) => row.getAs[String](Cdc.Key)
    case KeyRef(rest) => sub(row.getAs[String](Cdc.Key), rest)
    case PayloadBeforeRef(rest) =>
      if (rest.isEmpty) row.getAs[String](Cdc.PayloadBefore)
      else sub(row.getAs[String](Cdc.PayloadBefore), rest)
    case PayloadAfterRef(rest) =>
      if (rest.isEmpty) row.getAs[String](Cdc.PayloadAfter)
      else sub(row.getAs[String](Cdc.PayloadAfter), rest)
    case PayloadRef => row.getAs[String](Cdc.PayloadAfter)
  }

  private def sub(json: String, path: Seq[String]): String = {
    if (json == null) return null
    JsonOps.get(JsonOps.parseOrEmpty(json), path) match {
      case Some(n) if n.isTextual => n.asText()
      case Some(n) if n.isNull => null
      case Some(n) => JsonOps.render(n)
      case None => null
    }
  }

  private val printfForm = """^printf\s+"%s"\s+(\S+)$""".r

  /** Evaluate `text with {{ .Payload.After.x }} refs` against a row;
    * the reference's common `{{ printf "%s" .Ref }}` form passes
    * through to the bare reference.
    */
  def render(template: String, row: Row): String =
    tmpl.replaceAllIn(template, m => {
      val body = m.group(1).trim match {
        case printfForm(ref) => ref
        case other => other
      }
      java.util.regex.Matcher.quoteReplacement(
        Option(getRef(row, Ref.parse(body))).getOrElse(""))
    })

  /** Set a value (raw JSON if parseable, else string) at a ref. */
  def setRef(row: Row, ref: Ref, value: String, schema: StructType): Row = {
    def setJson(json: String, path: Seq[String]): String =
      if (path.isEmpty) value
      else JsonOps.render(JsonOps.set(
        JsonOps.parseOrEmpty(if (json == null) "{}" else json), path,
        try JsonOps.parse(value) catch {
          case _: Exception => JsonOps.mapper.getNodeFactory.textNode(value)
        }))
    val values = row.toSeq.toArray
    ref match {
      case OperationRef =>
        values(schema.fieldIndex(Cdc.Operation)) = value
      case MetadataRef(Seq(k)) =>
        val idx = schema.fieldIndex(Cdc.Metadata)
        val m = Option(row.getAs[Map[String, String]](Cdc.Metadata)).getOrElse(Map.empty)
        values(idx) = m + (k -> value)
      case KeyRef(_) =>
        val idx = schema.fieldIndex(Cdc.Key)
        values(idx) = setJson(row.getString(idx), ref.sub)
      case PayloadBeforeRef(_) =>
        val idx = schema.fieldIndex(Cdc.PayloadBefore)
        values(idx) = setJson(row.getString(idx), ref.sub)
      case _ =>
        val idx = schema.fieldIndex(Cdc.PayloadAfter)
        values(idx) = setJson(row.getString(idx), ref.sub)
    }
    new GenericRowWithSchema(values, schema)
  }

  def setError(row: Row, msg: String, schema: StructType): Row = {
    val values = row.toSeq.toArray
    values(schema.fieldIndex(Cdc.Error)) = msg
    new GenericRowWithSchema(values, schema)
  }
}

/** `webhook.http` — per-record templated HTTP call with exponential
  * backoff on 5xx, response body written to a field ref (reference
  * `impl/webhook/http.go:40-77,203`). Runs as `mapPartitions`: one
  * transport per partition, rows streamed through it (SURVEY §2.5).
  */
case class WebhookHttp(settings: Map[String, String],
                       transport: HttpTransport = HttpTransport.Default)
    extends Processor {
  val plugin = "webhook.http"
  @transient private val s = Registry.settingsFor(plugin, settings)
  private val urlTemplate = s.str("request.url")
  private val method = s.str("request.method")
  private val bodyTemplate = s.str("request.body")
  private val headers = settings.collect {
    case (k, v) if k.startsWith("headers.") => k.stripPrefix("headers.") -> v
  } ++ s.opt("request.contentType").map("Content-Type" -> _)
  private val responseBodyRef = s.ref("response.body")
  private val responseStatusRef = s.opt("response.status").map(Ref.parse)
  private val retryCount = s.int("backoffRetry.count")
  private val retryMinMs = s.millis("backoffRetry.min")
  private val retryMaxMs = s.millis("backoffRetry.max")
  private val retryFactor = s.double("backoffRetry.factor")

  override def transform(df: DataFrame): DataFrame = run(df, None)

  /** Single-scan conditional: the condition is evaluated as a column
    * and misses stream through the SAME mapPartitions untouched — no
    * split/union double-scan of the source, and no HTTP call for rows
    * that fail the condition.
    */
  override def transformConditional(df: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = run(df, Some(cond))

  private def run(df: DataFrame,
                  cond: Option[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val base0 = Cdc.withErrorChannel(df)
    val base = cond.map(c => base0.withColumn("_cond", coalesce(c, lit(false))))
      .getOrElse(base0)
    val schema = base.schema
    val names = schema
    val condIdx = cond.map(_ => schema.fieldIndex("_cond"))
    val t = transport
    val (u, m, b, h) = (urlTemplate, method, bodyTemplate, headers)
    val (rbRef, rsRef) = (responseBodyRef, responseStatusRef)
    val (rc, rMin, rMax, rFac) = (retryCount, retryMinMs, retryMaxMs, retryFactor)
    implicit val enc = Encoders.row(schema)
    val mapped = base.mapPartitions { rows =>
      rows.map { row =>
        if (condIdx.exists(i => !row.getBoolean(i))) row
        else try {
          val url = RecordTemplates.render(u, row)
          val body = RecordTemplates.render(b, row).getBytes("UTF-8")
          var attempt = 0
          var resp = t.send(m, url, h, body)
          while (resp.status >= 500 && attempt < rc) {
            val delay = math.min(rMax.toDouble, rMin * math.pow(rFac, attempt)).toLong
            Thread.sleep(delay)
            attempt += 1
            resp = t.send(m, url, h, body)
          }
          if (resp.status >= 400)
            RecordTemplates.setError(row, s"webhook.http: status ${resp.status}", names)
          else {
            // raw response bytes: a whole-slot target becomes RawData
            // (the plain string); a structured sub-field renders bytes
            // the way Go's json.Marshal does — base64 (reference
            // behavior, see webhook golden vectors)
            val value =
              if (rbRef.sub.isEmpty) new String(resp.body, "UTF-8")
              else java.util.Base64.getEncoder.encodeToString(resp.body)
            var out = RecordTemplates.setRef(row, rbRef, value, names)
            rsRef.foreach(r =>
              out = RecordTemplates.setRef(out, r, resp.status.toString, names))
            out
          }
        } catch {
          case e: Exception =>
            RecordTemplates.setError(row, s"webhook.http: ${e.getMessage}", names)
        }
      }
    }
    condIdx.map(_ => mapped.drop("_cond")).getOrElse(mapped)
  }
}

/** The LLM enrichment family (`openai.embed`, `openai.textgen`,
  * `cohere.command`, `cohere.embed`, `cohere.rerank`,
  * `ollama.request` — reference §2.5): one engine, per-plugin request
  * shaping. Each reads a field ref, POSTs a JSON request, extracts the
  * per-record result from the response, writes it back to a field ref.
  * The HTTP boundary is the same pluggable transport as webhook.http,
  * so tests run with a fake and production points at the real endpoint.
  *
  * Config keys and request/response shapes follow the reference
  * processors (each also accepts the engine's uniform `field` /
  * `result.field` / `backoffRetry.*` spellings):
  *  - `openai.embeddings` (`impl/openai/embeddings.go`): `api_key`,
  *    `model`, `field`, `dimensions`, `encoding_format`, `user`,
  *    `max_retries`/`initial_backoff`/`max_backoff`/`backoff_factor`;
  *    the JSON-marshaled embedding replaces the field.
  *  - `openai.textgen` (`impl/openai/textgen.go:159`): `developer_message`
  *    system turn + the field as the user turn; `choices[0].message
  *    .content` replaces the field.
  *  - `cohere.command` (`impl/cohere/command.go:154`): `content =
  *    Sprintf(prompt, input)` (Go verb semantics incl. the
  *    `%!(EXTRA ...)` suffix), POST v2/chat, `message.content[0].text`
  *    written to `response.body`.
  *  - `cohere.embed` (`impl/cohere/embed.go:234-255`): batch of
  *    `maxTextsPerRequest` texts per v2/embed call, result JSON
  *    zstd-compressed (base64'd here — our payload slots are strings,
  *    the reference's are raw bytes) into `outputField`, and
  *    `cohere.embed.model` metadata stamped.
  *  - `cohere.rerank` (`impl/cohere/rerank.go:203-213`): one v2/rerank
  *    call per batch with `return_documents=true`, results distributed
  *    back by their `index` field, each record getting its result
  *    object's JSON.
  *  - `ollama` (`impl/ollama/ollama.go:158-236`): POST
  *    `<url>/api/generate` with the instruction-wrapped prompt
  *    (validated: 3..4096 chars, injection patterns blocked),
  *    `format=json`, model allow-list (`llama3.2`); the `response`
  *    string must parse as JSON and replaces the field.
  *
  * Batching + retry (reference `impl/cohere/embed.go:159`): the embed
  * and rerank endpoints accept arrays, so the partition iterator is
  * consumed in `batchSize` groups — ONE request per group, results
  * distributed by index. 429/5xx retry with exponential backoff
  * (`backoffRetry.*`, same knobs as webhook.http); an exhausted retry
  * errors every record of the group to the DLQ, not the whole task. At
  * 1M records/batch a per-record request is a rate-limit death
  * sentence; batch-of-96 cuts the request count 96×.
  */
case class LlmProcessor(pluginName: String, settings: Map[String, String],
                        transport: HttpTransport = HttpTransport.Default)
    extends Processor {
  val plugin = pluginName

  /** The settings read through the plugin's catalogue entry, so every
    * name read here must be declared there. */
  @transient private val s = Registry.settingsFor(pluginName, settings)

  /** First given key wins — reference spelling first, engine-uniform
    * spelling as fallback.
    */
  private def given(keys: String*): Option[(String, String)] =
    keys.map(k => k -> s.opt(k)).collectFirst { case (k, Some(v)) => k -> v }
  private def opt(keys: String*): Option[String] = given(keys: _*).map(_._2)
  /** The first given key, else the first key at its declared default. */
  private def value(keys: String*): (String, String) =
    given(keys: _*).getOrElse(keys.head -> s.str(keys.head))
  /** A setting's value parsed, failing like [[Registry.Settings]] on a
    * malformed one. */
  private def number(kv: (String, String)): Double =
    Registry.Settings.parse(pluginName, kv._1, "a number", kv._2)(_.toDouble)
  private def millis(kv: (String, String)): Long =
    Registry.Settings.millis(pluginName, kv._1, kv._2)
  private def int(keys: String*): Option[Int] = given(keys: _*).map { case (k, v) =>
    Registry.Settings.parse(pluginName, k, "an integer", v)(_.toInt) }
  private def double(keys: String*): Option[Double] = given(keys: _*).map(number)

  /** `buildBody` takes the whole batch; `extract(resp, i)` pulls record
    * i's result. Plugins whose API is single-input run with maxBatch=1
    * through the same path. `render` turns the extracted node into the
    * stored string; `metaAdd` is stamped on every enriched record.
    */
  private case class Shape(url: String, buildBody: Seq[String] => String,
                           extract: (com.fasterxml.jackson.databind.JsonNode, Int) =>
                             Option[com.fasterxml.jackson.databind.JsonNode],
                           maxBatch: Int,
                           render: com.fasterxml.jackson.databind.JsonNode => String =
                             n => if (n.isTextual) n.asText() else JsonOps.render(n),
                           metaAdd: Map[String, String] = Map.empty)

  private def arr(items: Seq[String]) = {
    val a = JsonOps.mapper.getNodeFactory.arrayNode()
    items.foreach(a.add)
    a
  }

  private def path(n: com.fasterxml.jackson.databind.JsonNode, segs: Seq[String]) =
    segs.foldLeft(Option(n)) {
      case (Some(x), seg) if x.isArray && seg.forall(_.isDigit) => Option(x.get(seg.toInt))
      case (Some(x), seg) => Option(x.get(seg))
      case (None, _) => None
    }

  /** Go `fmt.Sprintf(format, arg)` for the string-verb subset the
    * reference's cohere.command prompt uses: first `%s` substituted,
    * a formatless prompt gets Go's `%!(EXTRA string=...)` suffix
    * (`command.go:154` runs the record input through the prompt this
    * way, extra-arg noise included).
    */
  private def goSprintf(format: String, arg: String): String = {
    // Go treats `%%` as an escaped literal percent: split those out
    // first so "100%%s off" renders as the literal "100%s off" (plus
    // the extra-arg marker) instead of consuming the arg.
    val segments = format.split("%%", -1)
    var consumed = false
    val rendered = segments.map { seg =>
      if (!seg.contains("%s")) seg
      else if (consumed)
        // Go marks string verbs beyond the single supplied arg as
        // missing: fmt.Sprintf("%s %s", x) == "x %!s(MISSING)"
        seg.replace("%s", "%!s(MISSING)")
      else {
        consumed = true
        // rewrite the REMAINING FORMAT TEXT before splicing the arg
        // in: fmt.Sprintf never scans argument data for verbs, so an
        // arg containing "%s" must pass through verbatim
        val i = seg.indexOf("%s")
        seg.substring(0, i) + arg +
          seg.substring(i + 2).replace("%s", "%!s(MISSING)")
      }
    }.mkString("%")
    if (consumed) rendered else s"$rendered%!(EXTRA string=$arg)"
  }

  /** reference `impl/ollama/ollama.go:45` */
  private val ollamaAllowedModels = Set("llama3.2")

  /** reference `impl/ollama/ollama.go:200-214` — instruction-wrapped
    * prompt (we render the record slot verbatim where Go prints its
    * map form) + the validation gate (`:244-270`).
    */
  private def ollamaPrompt(userPrompt: String, record: String): String = {
    val suffix = "For the prompt, return a valid json following the " +
      "instructions provided. Only send back records in the json format " +
      "with no explanation."
    val prompt = s"Instructions: {$userPrompt}\n Record: {$record} \n Suffix {$suffix}"
    require(prompt.length >= 3, s"prompt with length ${prompt.length} is too short")
    require(prompt.length <= 4096, s"prompt with length ${prompt.length} is too long")
    // reference `ollama.go:267-268` lowercases BOTH sides before the
    // containment check — 'DROP table', 'RM -RF', '<SCRIPT>' all match
    val blocked = Seq("rm -rf", "DROP TABLE", "<script>", "javascript:", "data:text/html")
    val lp = prompt.toLowerCase
    blocked.foreach(p =>
      require(!lp.contains(p.toLowerCase), s"prompt contains blocked pattern $p"))
    prompt
  }

  private def zstdB64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      com.github.luben.zstd.Zstd.compress(s.getBytes("UTF-8")))

  private def shape: Shape = pluginName match {
    case "openai.embed" =>
      val body = obj("model" -> txt(settings.getOrElse("model", "text-embedding-3-small")))
      int("dimensions").foreach(d => body.put("dimensions", d))
      opt("encoding_format").foreach(f => body.put("encoding_format", f))
      opt("user").foreach(u => body.put("user", u))
      Shape(
        settings.getOrElse("url", "https://api.openai.com/v1/embeddings"),
        ins => JsonOps.render(body.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          .set("input", arr(ins))),
        (n, i) => path(n, Seq("data", i.toString, "embedding")),
        maxBatch = 96)
    case "openai.textgen" =>
      val dev = opt("developer_message")
      val body = obj("model" -> txt(settings.getOrElse("model", "gpt-4o-mini")))
      double("temperature").foreach(t => body.put("temperature", t))
      double("top_p").foreach(t => body.put("top_p", t))
      int("max_tokens").foreach(t => body.put("max_tokens", t))
      int("max_completion_tokens").foreach(t => body.put("max_completion_tokens", t))
      Shape(
        settings.getOrElse("url", "https://api.openai.com/v1/chat/completions"),
        ins => {
          val msgs = JsonOps.mapper.getNodeFactory.arrayNode()
          dev.foreach(d => msgs.add(obj("role" -> txt("developer"), "content" -> txt(d))))
          msgs.add(obj("role" -> txt("user"), "content" -> txt(ins.head)))
          JsonOps.render(body.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
            .set("messages", msgs))
        },
        (n, _) => path(n, Seq("choices", "0", "message", "content")),
        maxBatch = 1)
    case "cohere.command" =>
      val prompt = settings.getOrElse("prompt", "%s")
      Shape(
        settings.getOrElse("url", "https://api.cohere.com/v2/chat"),
        ins => JsonOps.render(obj(
          "model" -> txt(settings.getOrElse("model", "command")),
          "messages" -> {
            val msgs = JsonOps.mapper.getNodeFactory.arrayNode()
            msgs.add(obj("role" -> txt("user"),
              "content" -> txt(goSprintf(prompt, ins.head))))
            msgs
          })),
        (n, _) => path(n, Seq("message", "content", "0", "text")),
        maxBatch = 1)
    case "cohere.embed" =>
      val model = settings.getOrElse("model", "embed-english-v2.0")
      val inputType = opt("inputType")
      require(model.contains("v2") || inputType.nonEmpty,
        s"inputType is required for model \"$model\" (v3 or higher)")
      Shape(
        settings.getOrElse("url", "https://api.cohere.com/v2/embed"),
        ins => {
          val body = obj("model" -> txt(model), "texts" -> arr(ins),
            "embedding_types" -> arr(Seq("float")))
          inputType.foreach(t => body.put("input_type", t))
          JsonOps.render(body)
        },
        // v2 response nests under embeddings.float; tolerate the v1
        // flat array so older mocks/endpoints keep working
        (n, i) => path(n, Seq("embeddings", "float", i.toString))
          .orElse(path(n, Seq("embeddings", i.toString))),
        maxBatch = 96, // the reference's cohere maxTextsPerRequest cap
        render = n => zstdB64(JsonOps.render(n)),
        metaAdd = Map("cohere.embed.model" -> model))
    case "cohere.rerank" =>
      Shape(
        settings.getOrElse("url", "https://api.cohere.com/v2/rerank"),
        ins => JsonOps.render(obj(
          "model" -> txt(settings.getOrElse("model", "rerank-v3.5")),
          "query" -> txt(settings.getOrElse("query", "")),
          "documents" -> arr(ins),
          "return_documents" -> JsonOps.parse("true"))),
        // reference builds resultMap[result.index] — distribute by the
        // result's own index field, not response order
        (n, i) => path(n, Seq("results")).flatMap { rs =>
          import scala.jdk.CollectionConverters._
          rs.elements().asScala.find(r =>
            Option(r.get("index")).exists(_.asInt(-1) == i))
        },
        maxBatch = 96)
    case "ollama.request" =>
      val base = settings.getOrElse("url", "http://localhost:11434")
      val model = settings.getOrElse("model", "llama3.2")
      val prompt = settings.getOrElse("prompt", "")
      Shape(
        if (base.endsWith("/api/generate")) base else s"$base/api/generate",
        ins => {
          require(ollamaAllowedModels.contains(model),
            s"model {$model} not allowed by processor. Allowed models: " +
              ollamaAllowedModels.mkString("[", " ", "]"))
          JsonOps.render(obj("model" -> txt(model),
            "prompt" -> txt(ollamaPrompt(prompt, Option(ins.head).getOrElse(""))),
            "format" -> txt("json"),
            "stream" -> JsonOps.parse("false")))
        },
        // done must be true and response must itself be valid JSON
        // (ollama.go:218-236); a parse failure errors the record
        (n, _) =>
          if (!Option(n.get("done")).exists(_.asBoolean(false))) None
          else Option(n.get("response")).filter(_.isTextual)
            .map(r => JsonOps.parse(r.asText())),
        maxBatch = 1)
    case other => throw new IllegalArgumentException(s"unknown LLM plugin: $other")
  }

  private def obj(fields: (String, com.fasterxml.jackson.databind.JsonNode)*) = {
    val o = JsonOps.mapper.getNodeFactory.objectNode()
    fields.foreach { case (k, v) => o.set[com.fasterxml.jackson.databind.JsonNode](k, v) }
    o
  }
  private def txt(s: String) = JsonOps.mapper.getNodeFactory.textNode(s)

  /** In/out refs, reference spelling first: cohere.embed uses
    * `inputField`/`outputField`, command/rerank use `request.body`/
    * `response.body`, openai/ollama use `field` (result written back
    * in place, like the reference — `result.field` still redirects).
    */
  private val (inputRef, outputRef) = {
    val (in, out) = pluginName match {
      case "cohere.embed" =>
        val in = opt("inputField", "field").getOrElse(".Payload.After")
        (in, opt("outputField", "result.field").getOrElse(in))
      case "cohere.command" | "cohere.rerank" =>
        val in = opt("request.body", "field").getOrElse(".Payload.After")
        (in, opt("response.body", "result.field").getOrElse(in))
      case _ =>
        val in = opt("field").getOrElse(".Payload.After")
        (in, opt("result.field").getOrElse(in))
    }
    (Ref.parse(in), Ref.parse(out))
  }

  override def transform(df: DataFrame): DataFrame = run(df, None)

  /** Single-scan conditional (same shape as webhook.http): misses pass
    * through the partition iterator untouched — no request for them,
    * no split/union re-scan of the source.
    */
  override def transformConditional(df: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = run(df, Some(cond))

  private def run(df: DataFrame,
                  cond: Option[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val base0 = Cdc.withErrorChannel(df)
    val base = cond.map(c => base0.withColumn("_cond", coalesce(c, lit(false))))
      .getOrElse(base0)
    val schema = base.schema
    val names = schema
    val condIdx = cond.map(_ => schema.fieldIndex("_cond"))
    val t = transport
    val sh = shape
    val (inRef, outRef) = (inputRef, outputRef)
    val batchSize = math.max(1, math.min(sh.maxBatch,
      int("batchSize", "maxTextsPerRequest").getOrElse(sh.maxBatch)))
    val retryCount = number(value("backoffRetry.count", "max_retries")).toInt
    val retryMinMs = millis(value("backoffRetry.min", "initial_backoff"))
    val retryMaxMs = millis(value("backoffRetry.max", "max_backoff"))
    val retryFactor = number(value("backoffRetry.factor", "backoff_factor"))
    val auth = opt("apiKey", "api_key").map(k => Map("Authorization" -> s"Bearer $k"))
      .getOrElse(Map.empty) + ("Content-Type" -> "application/json")
    implicit val enc = Encoders.row(schema)
    val mapped = base.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { chunk =>
        // condition misses stream through; only hits go in the request
        val (group, pass) = condIdx match {
          case Some(i) => chunk.partition(_.getBoolean(i))
          case None => (chunk, Seq.empty[Row])
        }
        if (group.isEmpty) pass
        else pass ++ (try {
          val ins = group.map(r => Option(RecordTemplates.getRef(r, inRef)).getOrElse(""))
          val body = sh.buildBody(ins).getBytes("UTF-8")
          var attempt = 0
          var resp = t.send("POST", sh.url, auth, body)
          while ((resp.status == 429 || resp.status >= 500) && attempt < retryCount) {
            val delay = math.min(retryMaxMs.toDouble,
              retryMinMs * math.pow(retryFactor, attempt)).toLong
            Thread.sleep(delay)
            attempt += 1
            resp = t.send("POST", sh.url, auth, body)
          }
          if (resp.status >= 400)
            group.map(RecordTemplates.setError(_, s"$pluginName: status ${resp.status}", names))
          else {
            val node = JsonOps.parse(new String(resp.body, "UTF-8"))
            group.zipWithIndex.map { case (row, i) =>
              sh.extract(node, i) match {
                case Some(r) =>
                  var out = RecordTemplates.setRef(row, outRef, sh.render(r), names)
                  sh.metaAdd.foreach { case (k, v) =>
                    out = RecordTemplates.setRef(out, Ref.MetadataRef(Seq(k)), v, names)
                  }
                  out
                case None =>
                  RecordTemplates.setError(row, s"$pluginName: empty result", names)
              }
            }
          }
        } catch {
          case e: Exception =>
            group.map(RecordTemplates.setError(_, s"$pluginName: ${e.getMessage}", names))
        })
      }
    }
    condIdx.map(_ => mapped.drop("_cond")).getOrElse(mapped)
  }
}
