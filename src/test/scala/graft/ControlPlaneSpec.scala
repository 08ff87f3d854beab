package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.pipeline.ControlPlane

/** Drives the REST control plane over HTTP: create from YAML, start,
  * status, inspect, stop.
  */
class ControlPlaneSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private val yaml =
    """version: 2.2
      |pipelines:
      |  - id: cp-demo
      |    connectors:
      |      - id: gen
      |        type: source
      |        plugin: builtin:generator
      |        settings:
      |          format.options.id: int
      |          recordCount: "300"
      |      - id: out
      |        type: destination
      |        plugin: memory
      |""".stripMargin

  test("pipeline lifecycle over REST") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cp-ckpt")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def url(p: String) = URI.create(s"http://127.0.0.1:$port/v1/pipelines$p")
    def post(p: String, body: String = ""): String =
      client.send(HttpRequest.newBuilder(url(p))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    def get(p: String): String =
      client.send(HttpRequest.newBuilder(url(p)).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()

    try {
      val created = post("", yaml)
      assert(created.contains("cp-demo"), created)

      val started = post("/cp-demo/start")
      assert(started.contains("\"running\"") || started.contains("\"terminated\""), started)

      // wait for the bounded source to drain
      var waited = 0
      while (graft.pipeline.Runner.memorySink("out").size < 300 && waited < 300) {
        Thread.sleep(100); waited += 1
      }
      assert(graft.pipeline.Runner.memorySink("out").size == 300)

      val st = get("/cp-demo/status")
      val node = JsonOps.parse(st)
      assert(node.get("id").asText() == "cp-demo")
      assert(node.get("inputRows").asLong() >= 0)

      val inspected = get("/cp-demo/inspect")
      assert(inspected.startsWith("[") && inspected.contains("operation"), inspected.take(120))

      val stopped = post("/cp-demo/stop")
      assert(stopped.contains("\"stopped\""), stopped)

      val notFound = get("/nope/status")
      assert(notFound.contains("stopped") || notFound.contains("error"))

      // export → YAML round-trips through the parser to the same config
      val exported = get("/cp-demo/export")
      val reparsed = graft.pipeline.Pipeline.fromYaml(exported)
      assert(reparsed.map(_.id) == Seq("cp-demo"), exported.take(200))
      assert(reparsed.head.sources.head.settings("recordCount") == "300")

      // plan: same file → unchanged; new id → create; absent → unmanaged
      val planSame = JsonOps.parse(post("/plan", exported))
      assert(planSame.get("unchanged").toString.contains("cp-demo"), planSame)
      val otherYaml = exported.replace("cp-demo", "cp-two")
      val planNew = JsonOps.parse(post("/plan", otherYaml))
      assert(planNew.get("create").toString.contains("cp-two"), planNew)
      assert(planNew.get("unmanaged").toString.contains("cp-demo"), planNew)

      // apply registers the new pipeline; delete removes it
      post("/apply", otherYaml)
      assert(get("").contains("cp-two"))
      val del = client.send(HttpRequest.newBuilder(url("/cp-two")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(del.contains("true"), del)
      assert(!get("").contains("cp-two"))
    } finally cp.stop()
  }

  test("REST /v1/connectors and /v1/processors mirror the gRPC vocabulary") {
    val ckpt = Fences.tempDir("cp-res")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def send(method: String, p: String, body: String = ""): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$p"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      // seed a pipeline over the existing pipelines route
      send("POST", "/v1/pipelines",
        yaml.replace("cp-demo", "cp-rest"))
      // list + get
      val listed = JsonOps.parse(
        send("GET", "/v1/connectors?pipeline_id=cp-rest").body())
      assert(listed.get("connectors").size() == 2)
      val got = send("GET", "/v1/connectors/cp-rest:gen")
      assert(got.statusCode() == 200)
      assert(JsonOps.parse(got.body()).get("connector")
        .get("plugin").asText() == "builtin:generator")
      // create / update / delete a destination
      val created = send("POST", "/v1/connectors",
        """{"pipeline_id":"cp-rest","type":"destination",""" +
          """"plugin":"memory","id":"out2"}""")
      assert(created.statusCode() == 200, created.body())
      val updated = send("PUT", "/v1/connectors/cp-rest:out2",
        """{"plugin":"memory"}""")
      assert(updated.statusCode() == 200, updated.body())
      assert(send("DELETE", "/v1/connectors/cp-rest:out2")
        .statusCode() == 200)
      // processors: create, list, get, delete
      val pc = send("POST", "/v1/processors",
        """{"pipeline_id":"cp-rest","id":"p1","plugin":"base64.encode",""" +
          """"settings":{"field":".Payload.After"}}""")
      assert(pc.statusCode() == 200, pc.body())
      val plist = JsonOps.parse(
        send("GET", "/v1/processors?pipeline_id=cp-rest").body())
      assert(plist.get("processors").size() == 1)
      assert(JsonOps.parse(send("GET", "/v1/processors/cp-rest:p1").body())
        .get("processor").get("plugin").asText() == "base64.encode")
      assert(send("DELETE", "/v1/processors/cp-rest:p1").statusCode() == 200)
      // errors: unknown plugin is 400, unknown method path is 404
      assert(send("POST", "/v1/processors",
        """{"pipeline_id":"cp-rest","id":"p2","plugin":"nope"}""")
        .statusCode() == 400)
      assert(send("POST", "/v1/processors/validate", "{}")
        .statusCode() == 404)
    } finally cp.stop()
  }

  test("GET /openapi.json is OpenAPI 3 and describes every served route") {
    val ckpt = Fences.tempDir("cp-oas")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def get(p: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val r = get("/openapi.json")
      assert(r.statusCode() == 200)
      val doc = JsonOps.parse(r.body()) // must PARSE — built, not spliced
      assert(doc.get("openapi").asText().startsWith("3."))
      assert(doc.get("info").get("title").asText().nonEmpty)
      val paths = doc.get("paths")
      // every route the server registers appears with its method
      graft.pipeline.OpenApi.routes.foreach { rt =>
        val p = paths.get(rt.path)
        assert(p != null, s"path missing from document: ${rt.path}")
        assert(p.get(rt.method) != null, s"${rt.method} ${rt.path}")
        assert(p.get(rt.method).get("operationId").asText() == rt.operationId)
      }
      // the table covers the whole control surface, resource routes
      // derived from ControlPlane.Resources included
      for (must <- Seq("/v1/pipelines", "/v1/pipelines/{id}/start",
          "/v1/connectors/{id}/inspect", "/v1/processors/{id}/inspect-in",
          "/v1/processors/{id}/inspect-out", "/v1/connectors/validate",
          "/healthz", "/metrics", "/openapi.json"))
        assert(paths.get(must) != null, must)
      // validate is connectors-only in the document too
      assert(paths.get("/v1/processors/validate") == null)
      // the explorer is self-contained HTML that reads the document
      val html = get("/openapi")
      assert(html.statusCode() == 200)
      assert(html.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"))
      assert(html.body().contains("/openapi.json"))
      assert(!html.body().contains("http://") &&
        !html.body().contains("https://"), "no external assets")
    } finally cp.stop()
  }

  test("inspect sub-paths bridge to the gRPC stream handlers") {
    val ckpt = Fences.tempDir("cp-insp")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def send(method: String, p: String, body: String = ""): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$p"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      send("POST", "/v1/pipelines", yaml.replace("cp-demo", "cp-insp"))
      send("POST", "/v1/processors",
        """{"pipeline_id":"cp-insp","id":"p1","plugin":"base64.encode",""" +
          """"settings":{"field":".Payload.After"}}""")
      // a known component answers 200 with a JSON array (the tap is
      // idle — empty is fine; the route is what's under test)
      val conn = send("GET",
        "/v1/connectors/cp-insp:gen/inspect?duration_ms=1")
      assert(conn.statusCode() == 200, conn.body())
      assert(conn.body().startsWith("["), conn.body().take(80))
      for (sub <- Seq("inspect-in", "inspect-out")) {
        val r = send("GET",
          s"/v1/processors/cp-insp:p1/$sub?duration_ms=1&limit=5")
        assert(r.statusCode() == 200, s"$sub: ${r.body()}")
        assert(r.body().startsWith("["), r.body().take(80))
      }
      // unknown pipeline / component → 400 (the gRPC facade's
      // INVALID_ARGUMENT vocabulary, GrpcControlPlaneSpec pins it)
      assert(send("GET",
        "/v1/connectors/nope:gen/inspect?duration_ms=1").statusCode() == 400)
      assert(send("GET",
        "/v1/connectors/cp-insp:nope/inspect?duration_ms=1")
        .statusCode() == 400)
      // processor validate stays 404 but is now DELIBERATE — the
      // error names the reason instead of a generic unknown method
      val v = send("POST", "/v1/processors/validate", "{}")
      assert(v.statusCode() == 404)
      assert(v.body().contains("connectors only"), v.body())
    } finally cp.stop()
  }

  test("GET /healthz serves overall and per-service, 404 on unknown") {
    val ckpt = Fences.tempDir("cp-hz")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def get(p: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      for (p <- Seq("/healthz", "/healthz?service=PipelineService",
          "/healthz?service=api.v1.ProcessorService")) {
        val r = get(p)
        assert(r.statusCode() == 200, p)
        assert(JsonOps.parse(r.body()).get("status").asText() == "SERVING", p)
      }
      assert(get("/healthz?service=nope").statusCode() == 404)
    } finally cp.stop()
  }

  test("apply refuses to swap a RUNNING pipeline's config (gRPC parity)") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cp-apply-ckpt")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def url(p: String) = URI.create(s"http://127.0.0.1:$port/v1/pipelines$p")
    def send(p: String, body: String = ""): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(url(p))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val longYaml = yaml
        .replace("cp-demo", "cp-apply")
        .replace("recordCount: \"300\"",
          "recordCount: \"1000000\"\n          rate: \"1000\"")
      assert(send("", longYaml).body().contains("cp-apply"))
      send("/cp-apply/start")
      // changed config against the running pipeline → 409, config kept
      val changed = longYaml.replace("rate: \"1000\"", "rate: \"2000\"")
      val resp = send("/apply", changed)
      assert(resp.statusCode() == 409, s"${resp.statusCode()} ${resp.body()}")
      assert(resp.body().contains("cp-apply"), resp.body())
      assert(cp.config("cp-apply").get.sources.head.settings("rate") == "1000")
      // identical config against the running pipeline is a no-op 200
      val same = send("/apply", longYaml)
      assert(same.statusCode() == 200, s"${same.statusCode()} ${same.body()}")
      // stopped → the update lands through mutate()
      send("/cp-apply/stop")
      val after = send("/apply", changed)
      assert(after.statusCode() == 200, s"${after.statusCode()} ${after.body()}")
      assert(cp.config("cp-apply").get.sources.head.settings("rate") == "2000")
    } finally cp.stop()
  }

  test("repeated supervised start never orphans a supervisor") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cp-sup-ckpt")
    val cp = new ControlPlane(spark, ckpt)
    try {
      cp.register(graft.pipeline.Pipeline("cp-sup")
        .source("gen", "builtin:generator",
          "format.options.id" -> "int", "recordCount" -> "1000000", "rate" -> "1000")
        .destination("out", "memory"))
      val sup1 = cp.superviseStart("cp-sup")
      // a second start while running returns the SAME supervisor — the
      // old one used to be replaced in the map, unreachable from stop,
      // while the new one crash-looped on the in-use checkpoint
      val sup2 = cp.superviseStart("cp-sup")
      assert(sup2 eq sup1, "running supervisor must be reused, not replaced")
      cp.stopPipeline("cp-sup")
      assert(sup1.status == sup1.Status.Stopped,
        "stopPipeline must reach the one live supervisor")
      // after a stop, a new supervised start gets a fresh supervisor
      val sup3 = cp.superviseStart("cp-sup")
      assert(!(sup3 eq sup1) && sup3.status == sup3.Status.Running)
      cp.stopPipeline("cp-sup")
      assert(sup3.status == sup3.Status.Stopped)
    } finally cp.stop()
  }
}
