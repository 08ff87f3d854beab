package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JsonOps
import graft.model.Cdc
import graft.ops.{HttpTransport, LlmProcessor, WebhookHttp}
import graft.pipeline.{Pipeline, Runner}

/** Shared-JVM call counters (local mode: executors share the JVM, so
  * static state survives closure serialization).
  */
object FakeCalls {
  val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  def of(name: String): java.util.concurrent.atomic.AtomicInteger =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicInteger(0))
}

/** Echoes request facts back; programmable failures. Top-level (no
  * outer reference) so the mapPartitions closure serializes.
  */
case class FakeTransport(name: String, failFirst: Int = 0, failStatus: Int = 503)
    extends HttpTransport {
  override def send(method: String, url: String, headers: Map[String, String],
                    body: Array[Byte]): HttpTransport.Response = {
    val n = FakeCalls.of(name).incrementAndGet()
    if (n <= failFirst) HttpTransport.Response(failStatus, "busy".getBytes)
    else if (url.contains("embeddings") || url.contains("embed")) {
      // batch-aware: one embedding per input/text in the request
      val req = JsonOps.parse(new String(body, "UTF-8"))
      val k = Option(req.get("input")).orElse(Option(req.get("texts")))
        .map(node => if (node.isArray) node.size() else 1).getOrElse(1)
      val data = Seq.fill(k)("""{"embedding":[0.1,0.2,0.3]}""").mkString(",")
      val embs = Seq.fill(k)("[0.1,0.2]").mkString(",")
      // openai response shape + cohere v2 embeddings.float shape
      HttpTransport.Response(200,
        s"""{"data":[$data],"embeddings":{"float":[$embs]}}""".getBytes)
    } else HttpTransport.Response(200,
      s"""{"echo":{"method":"$method","url":"$url","body":${JsonOps.render(
        JsonOps.mapper.getNodeFactory.textNode(new String(body, "UTF-8")))}}}""".getBytes)
  }
}

/** Returns rerank results in reverse order, index fields intact, to
  * prove distribution goes by the result's own index.
  */
case class RerankReverseTransport() extends HttpTransport {
  override def send(method: String, url: String, headers: Map[String, String],
                    body: Array[Byte]): HttpTransport.Response = {
    FakeCalls.of("rerank-rev").incrementAndGet()
    val req = JsonOps.parse(new String(body, "UTF-8"))
    val docs = scala.jdk.CollectionConverters
      .IteratorHasAsScala(req.get("documents").elements()).asScala.toSeq
    val results = docs.zipWithIndex.reverse.map { case (d, i) =>
      s"""{"document":{"text":${JsonOps.render(d)}},"index":$i,"relevance_score":0.5}"""
    }.mkString(",")
    HttpTransport.Response(200, s"""{"results":[$results]}""".getBytes)
  }
}

/** Enrichment processors against a fake transport (reference §2.5:
  * webhook.http templated calls with backoff; LLM processors).
  */
class EnrichSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def genRecords(n: Int) =
    Runner.source(spark, graft.pipeline.ConnectorConfig("g", "builtin:generator",
      Map("format.options.id" -> "int", "recordCount" -> n.toString)),
      streaming = false)

  test("webhook.http: templated URL/body, response lands at response.body ref") {
    val t = FakeTransport("t1")
    val proc = WebhookHttp(Map(
      "request.url" -> "http://svc/enrich/{{ .Payload.After.id }}",
      "request.method" -> "POST",
      "request.body" -> """{"payload": {{ .Payload.After }}}""",
      "response.body" -> ".Payload.After.enriched",
      "response.status" -> ".Metadata.http.status"), t)
    val out = proc(genRecords(5)).collect()
    assert(out.length == 5)
    val row = out.head
    assert(row.getAs[String](Cdc.Error) == null)
    val payload = JsonOps.parse(row.getAs[String](Cdc.PayloadAfter))
    // sub-field responses carry raw bytes base64'd (Go json.Marshal
    // []byte rendering — see webhook golden vectors)
    val echo = JsonOps.parse(new String(java.util.Base64.getDecoder
      .decode(payload.get("enriched").asText()), "UTF-8"))
    val echoUrl = echo.get("echo").get("url").asText()
    assert(echoUrl.startsWith("http://svc/enrich/"))
    assert(!echoUrl.contains("{{"), "template must be substituted")
    val meta = row.getAs[Map[String, String]](Cdc.Metadata)
    assert(meta("http.status") == "200")
  }

  test("webhook.http: 5xx retries with backoff then succeeds") {
    val t = FakeTransport("t2", failFirst = 2)
    val proc = WebhookHttp(Map(
      "request.url" -> "http://svc/x",
      "backoffRetry.count" -> "3",
      "backoffRetry.min" -> "1ms",
      "response.body" -> ".Payload.After.enriched"), t)
    val out = proc(genRecords(1)).collect()
    assert(out.head.getAs[String](Cdc.Error) == null)
    assert(FakeCalls.of("t2").get() == 3) // 2 failures + 1 success
  }

  test("webhook.http: exhausted retries → error record (DLQ channel)") {
    val t = FakeTransport("t3", failFirst = 100)
    val proc = WebhookHttp(Map(
      "request.url" -> "http://svc/x",
      "backoffRetry.count" -> "1",
      "backoffRetry.min" -> "1ms"), t)
    val out = proc(genRecords(1)).collect()
    assert(out.head.getAs[String](Cdc.Error) != null)
    assert(out.head.getAs[String](Cdc.Error).contains("503"))
  }

  test("openai.embed: embedding written to result field") {
    val t = FakeTransport("t4")
    val proc = LlmProcessor("openai.embed", Map(
      "field" -> ".Payload.After.name",
      "result.field" -> ".Payload.After.embedding",
      "apiKey" -> "test"), t)
    val out = proc(genRecords(2).withColumn(Cdc.PayloadAfter,
      org.apache.spark.sql.functions.lit("""{"name":"hello"}"""))).collect()
    assert(out.head.getAs[String](Cdc.Error) == null)
    val emb = JsonOps.parse(out.head.getAs[String](Cdc.PayloadAfter)).get("embedding")
    assert(emb.isArray && emb.size() == 3)
  }

  test("cohere.embed: one request per batch, results distributed by index") {
    val t = FakeTransport("t5")
    val proc = LlmProcessor("cohere.embed", Map(
      "field" -> ".Payload.After.name",
      "result.field" -> ".Payload.After.emb",
      "batchSize" -> "5"), t)
    val recs = genRecords(10).repartition(1).withColumn(Cdc.PayloadAfter,
      org.apache.spark.sql.functions.lit("""{"name":"x"}"""))
    val out = proc(recs).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[String](Cdc.Error) == null))
    // reference compresses the embedding JSON with zstd (embed.go:244);
    // our string-typed payload slots carry it base64'd
    out.foreach { r =>
      val b64 = JsonOps.parse(r.getAs[String](Cdc.PayloadAfter)).get("emb").asText()
      val packed = java.util.Base64.getDecoder.decode(b64)
      val json = new String(com.github.luben.zstd.Zstd.decompress(
        packed, com.github.luben.zstd.Zstd.getFrameContentSize(packed).toInt), "UTF-8")
      assert(JsonOps.parse(json).isArray)
      assert(r.getAs[Map[String, String]](Cdc.Metadata)
        .get("cohere.embed.model").contains("embed-english-v2.0"))
    }
    assert(FakeCalls.of("t5").get() == 2, "10 records / batchSize 5 = 2 requests")
  }

  test("llm 429 retries with backoff then succeeds, one batch request") {
    val t = FakeTransport("t6", failFirst = 2, failStatus = 429)
    val proc = LlmProcessor("openai.embed", Map(
      "field" -> ".Payload.After.name",
      "result.field" -> ".Payload.After.emb",
      "backoffRetry.count" -> "3",
      "backoffRetry.min" -> "1ms"), t)
    val recs = genRecords(3).repartition(1).withColumn(Cdc.PayloadAfter,
      org.apache.spark.sql.functions.lit("""{"name":"x"}"""))
    val out = proc(recs).collect()
    assert(out.forall(_.getAs[String](Cdc.Error) == null))
    assert(FakeCalls.of("t6").get() == 3, "two 429s + one success for the single batch")
  }

  test("conditional llm: misses bypass without a request, single scan") {
    val t = FakeTransport("t7")
    val proc = LlmProcessor("openai.embed", Map(
      "field" -> ".Payload.After.name",
      "result.field" -> ".Payload.After.emb"), t)
    val recs = genRecords(10).repartition(1).withColumn(Cdc.PayloadAfter,
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("""{"name":"x","pick":"""),
        (org.apache.spark.sql.functions.monotonically_increasing_id() < 5).cast("string"),
        org.apache.spark.sql.functions.lit("}")))
    val out = proc(recs, condition = Some(
      """cast(.Payload.After.pick as boolean)""")).collect()
    assert(out.length == 10)
    val enriched = out.count(r =>
      JsonOps.parse(r.getAs[String](Cdc.PayloadAfter)).has("emb"))
    assert(enriched == 5, s"only condition hits enriched, got $enriched")
    assert(FakeCalls.of("t7").get() == 1, "one batched request for the 5 hits")
  }

  test("custom processor registration: user transform behaves like a builtin") {
    graft.ops.Registry.registerTransform("custom.tag") { (df, settings) =>
      df.withColumn(Cdc.Metadata, graft.ops.RefCols.metaSet(
        org.apache.spark.sql.functions.col(Cdc.Metadata), "tag",
        org.apache.spark.sql.functions.lit(settings.getOrElse("value", ""))))
    }
    assert(graft.ops.Registry.plugins.contains("custom.tag"))
    val out = graft.ops.Registry.create("custom.tag", Map("value" -> "v1"))(genRecords(3))
    assert(out.collect().forall(
      _.getAs[Map[String, String]](Cdc.Metadata).get("tag").contains("v1")))
    // conditions work on custom processors exactly like builtins
    val gated = graft.ops.Registry.create("custom.tag", Map("value" -> "v2"))(
      genRecords(4), condition = Some("cast(.Payload.After.id as int) % 2 = 0"))
    val tags = gated.collect().flatMap(
      _.getAs[Map[String, String]](Cdc.Metadata).get("tag"))
    assert(tags.count(_ == "v2") > 0 && tags.count(_ == "v2") < 4)
  }

  test("cohere.rerank: batched, results distributed by their index field") {
    // returns results in REVERSE order — distribution must go by the
    // result's own index (reference resultMap, rerank.go:203-213)
    val t = RerankReverseTransport()
    val proc = LlmProcessor("cohere.rerank", Map(
      "query" -> "q", "apiKey" -> "k",
      "request.body" -> ".Payload.After.doc",
      "response.body" -> ".Payload.After.rank"), t)
    val recs = genRecords(4).repartition(1).withColumn(Cdc.PayloadAfter,
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("""{"doc":"d"""),
        org.apache.spark.sql.functions.get_json_object(
          org.apache.spark.sql.functions.col(Cdc.PayloadAfter), "$.id"),
        org.apache.spark.sql.functions.lit(""""}""")))
    val out = proc(recs).collect()
    assert(out.forall(_.getAs[String](Cdc.Error) == null))
    out.foreach { r =>
      val p = JsonOps.parse(r.getAs[String](Cdc.PayloadAfter))
      // sub-field setRef embeds parseable values as structured JSON
      val rank = if (p.get("rank").isTextual) JsonOps.parse(p.get("rank").asText())
                 else p.get("rank")
      assert(rank.get("document").get("text").asText() == p.get("doc").asText(),
        "each record must get its OWN document's result back")
    }
    assert(FakeCalls.of("rerank-rev").get() == 1, "one request for the batch of 4")
  }

  test("ollama.request: text response written back") {
    val t = FakeTransport("t4")
    val proc = LlmProcessor("ollama.request", Map(
      "field" -> ".Payload.After.name",
      "result.field" -> ".Payload.After.answer"), t)
    val out = proc(genRecords(1)).collect()
    // fake returns echo object without "response" → empty result error
    assert(out.head.getAs[String](Cdc.Error) != null)
  }

  test("a malformed LLM number names the plugin, the setting and the value") {
    def message(plugin: String, setting: (String, String)): String =
      intercept[IllegalArgumentException](LlmProcessor(plugin, Map(setting),
        FakeTransport("t8")).transform(genRecords(1))).getMessage
    assert(message("openai.textgen", "temperature" -> "hot") ==
      "openai.textgen: setting temperature must be a number, got \"hot\"")
    assert(message("openai.textgen", "max_tokens" -> "1.5") ==
      "openai.textgen: setting max_tokens must be an integer, got \"1.5\"")
    assert(message("openai.embed", "dimensions" -> "many") ==
      "openai.embed: setting dimensions must be an integer, got \"many\"")
    assert(message("cohere.embed", "maxTextsPerRequest" -> "all") ==
      "cohere.embed: setting maxTextsPerRequest must be an integer, got \"all\"")
    assert(message("cohere.command", "backoffRetry.factor" -> "x2") ==
      "cohere.command: setting backoffRetry.factor must be a number, got \"x2\"")
  }
}
