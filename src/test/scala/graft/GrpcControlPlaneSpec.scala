package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.pipeline.{ControlPlane, GrpcControlPlane, Pipeline, Runner}

/** gRPC PipelineService facade (round 12): the reference's
  * `api.v1.PipelineService` vocabulary served over the shaded gRPC
  * runtime, delegating to the same ControlPlane as the REST facade.
  */
class GrpcControlPlaneSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def yamlFor(id: String, records: Int = 50): String =
    Pipeline.toYaml(Seq(
      Pipeline(id)
        .source("gen", "builtin:generator",
          "format.options.id" -> "int", "recordCount" -> records.toString)
        .destination("out", "memory")))

  test("in-process round-trip: create, get, export, start, stop, delete") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-1")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-1")
    try {
      // Create from provisioning YAML
      val created = JsonOps.parse(
        cli.call("CreatePipeline", s"""{"yaml":${quote(yamlFor("gp1"))}}"""))
      assert(created.get("pipeline").get("id").asText() == "gp1")
      assert(created.get("pipeline").get("status").asText() == "stopped")

      // List includes it
      val listed = JsonOps.parse(cli.call("ListPipelines", "{}"))
      assert(listed.get("pipelines").size() == 1)

      // Get mirrors status
      val got = JsonOps.parse(cli.call("GetPipeline", """{"id":"gp1"}"""))
      assert(got.get("pipeline").get("status").asText() == "stopped")

      // Export round-trips through the YAML schema
      val exported = JsonOps.parse(cli.call("ExportPipeline", """{"id":"gp1"}"""))
      val back = Pipeline.fromYaml(exported.get("yaml").asText())
      assert(back.map(_.id) == Seq("gp1"))
      assert(back.head.sources.map(_.plugin) == Seq("builtin:generator"))

      // Start runs the streaming query; records land in the sink
      Runner.memorySinks.clear()
      cli.call("StartPipeline", """{"id":"gp1"}""")
      val deadline = System.currentTimeMillis() + 60000
      while (Runner.memorySink("out").size < 50 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(Runner.memorySink("out").size >= 50)
      val running = JsonOps.parse(cli.call("GetPipeline", """{"id":"gp1"}"""))
      assert(running.get("pipeline").get("status").asText() == "running")

      cli.call("StopPipeline", """{"id":"gp1"}""")
      val stopped = JsonOps.parse(cli.call("GetPipeline", """{"id":"gp1"}"""))
      assert(stopped.get("pipeline").get("status").asText() == "stopped")

      cli.call("DeletePipeline", """{"id":"gp1"}""")
      assert(JsonOps.parse(cli.call("ListPipelines", "{}"))
        .get("pipelines").size() == 0)
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("plan/apply/import/DLQ vocabulary and gRPC error codes") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp2"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-2")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-2")
    try {
      val yaml = yamlFor("gp2")
      // Plan against an empty registry: pure create
      val plan = JsonOps.parse(
        cli.call("PlanPipeline", s"""{"yaml":${quote(yaml)}}"""))
      assert(plan.get("plan").get("create").get(0).asText() == "gp2")
      // Apply registers it
      cli.call("ApplyPipeline", s"""{"yaml":${quote(yaml)}}""")
      assert(cp.isRegistered("gp2"))
      // Second plan: unchanged
      val plan2 = JsonOps.parse(
        cli.call("PlanPipeline", s"""{"yaml":${quote(yaml)}}"""))
      assert(plan2.get("plan").get("unchanged").get(0).asText() == "gp2")

      // Import (create alias) of another pipeline
      val imp = JsonOps.parse(
        cli.call("ImportPipeline", s"""{"yaml":${quote(yamlFor("gp3"))}}"""))
      assert(imp.get("ids").get(0).asText() == "gp3")

      // DLQ get/update
      assert(JsonOps.parse(cli.call("GetDLQ", """{"id":"gp2"}"""))
        .get("dlq").isNull)
      val upd = JsonOps.parse(cli.call("UpdateDLQ",
        """{"id":"gp2","dlq":{"plugin":"builtin:log","windowSize":9,"windowNackThreshold":3}}"""))
      assert(upd.get("dlq").get("windowSize").asInt() == 9)
      assert(cp.config("gp2").flatMap(_.dlq).exists(_.windowNackThreshold == 3))

      // Errors surface as INVALID_ARGUMENT, not transport failures
      val ex = intercept[Exception] {
        cli.call("GetPipeline", """{"id":"nope"}""")
      }
      assert(ex.getMessage.contains("INVALID_ARGUMENT"), ex.getMessage)
      assert(ex.getMessage.contains("unknown pipeline"), ex.getMessage)
      // duplicate create → already exists
      val dup = intercept[Exception] {
        cli.call("CreatePipeline", s"""{"yaml":${quote(yaml)}}""")
      }
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("real socket: the shaded Netty transport binds and serves") {
    import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp3"))
    val svc = new GrpcControlPlane(cp)
    val port = svc.serve(0) // ephemeral
    assert(port > 0)
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", port)
      .usePlaintext().build()
    val cli = new GrpcControlPlane.Client(ch)
    try {
      cli.call("CreatePipeline", s"""{"yaml":${quote(yamlFor("gp4"))}}""")
      val listed = JsonOps.parse(cli.call("ListPipelines", "{}"))
      assert(listed.get("pipelines").get(0).get("id").asText() == "gp4")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("CreatePipeline is atomic for multi-pipeline YAML and returns all created") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp4"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-4")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-4")
    try {
      cli.call("CreatePipeline", s"""{"yaml":${quote(yamlFor("ga2"))}}""")
      // ga1 is new, ga2 already exists: NOTHING may be registered
      val both = Pipeline.toYaml(Seq(
        Pipeline.fromYaml(yamlFor("ga1")).head,
        Pipeline.fromYaml(yamlFor("ga2")).head))
      val ex = intercept[Exception] {
        cli.call("CreatePipeline", s"""{"yaml":${quote(both)}}""")
      }
      assert(ex.getMessage.contains("already exists"), ex.getMessage)
      assert(!cp.isRegistered("ga1"),
        "atomicity: the earlier pipeline must not stay registered")

      // multi-create success reports every created pipeline
      val two = Pipeline.toYaml(Seq(
        Pipeline.fromYaml(yamlFor("gb1")).head,
        Pipeline.fromYaml(yamlFor("gb2")).head))
      val created = JsonOps.parse(
        cli.call("CreatePipeline", s"""{"yaml":${quote(two)}}"""))
      assert(created.get("pipelines").size() == 2)
      assert(created.get("pipelines").get(1).get("id").asText() == "gb2")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("UpdatePipeline and topology mutations are rejected while running") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp5"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-5")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-5")
    try {
      val yaml = Pipeline.toYaml(Seq(
        Pipeline("gr1")
          .source("gen", "builtin:generator",
            "format.options.id" -> "int", "rate" -> "100")
          .destination("out", "null")))
      cli.call("CreatePipeline", s"""{"yaml":${quote(yaml)}}""")
      cli.call("StartPipeline", """{"id":"gr1"}""")
      try {
        val ex = intercept[Exception] {
          cli.call("UpdatePipeline", s"""{"id":"gr1","yaml":${quote(yaml)}}""")
        }
        assert(ex.getMessage.contains("FAILED_PRECONDITION"), ex.getMessage)
        val ex2 = intercept[Exception] {
          cli.call(GrpcControlPlane.ConnectorServiceName, "DeleteConnector",
            """{"id":"gr1:out"}""")
        }
        assert(ex2.getMessage.contains("FAILED_PRECONDITION"), ex2.getMessage)
      } finally cli.call("StopPipeline", """{"id":"gr1"}""")
      // stopped: the same update goes through
      cli.call("UpdatePipeline", s"""{"id":"gr1","yaml":${quote(yaml)}}""")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("ConnectorService: CRUD, validate, plugin catalogue") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp6"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-6")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-6")
    val Conn = GrpcControlPlane.ConnectorServiceName
    try {
      cli.call("CreatePipeline", s"""{"yaml":${quote(yamlFor("gc1"))}}""")

      // list: source + destination from the YAML
      val listed = JsonOps.parse(cli.call(Conn, "ListConnectors",
        """{"pipeline_id":"gc1"}"""))
      assert(listed.get("connectors").size() == 2)

      // get by composite id
      val got = JsonOps.parse(cli.call(Conn, "GetConnector",
        """{"id":"gc1:gen"}"""))
      assert(got.get("connector").get("plugin").asText() == "builtin:generator")
      assert(got.get("connector").get("type").asText() == "source")

      // create a second destination
      val created = JsonOps.parse(cli.call(Conn, "CreateConnector",
        """{"pipeline_id":"gc1","type":"destination","id":"out2","plugin":"builtin:file","settings":{"path":"/tmp/gc1-out"}}"""))
      assert(created.get("connector").get("id").asText() == "gc1:out2")
      assert(cp.config("gc1").get.destinations.size == 2)

      // update its settings
      val upd = JsonOps.parse(cli.call(Conn, "UpdateConnector",
        """{"id":"gc1:out2","settings":{"path":"/tmp/gc1-out-b"}}"""))
      assert(upd.get("connector").get("settings").get("path").asText()
        == "/tmp/gc1-out-b")

      // delete it
      cli.call(Conn, "DeleteConnector", """{"id":"gc1:out2"}""")
      assert(cp.config("gc1").get.destinations.size == 1)

      // validate: ok / unknown plugin / missing required setting
      cli.call(Conn, "ValidateConnector",
        """{"type":"source","plugin":"builtin:s3","settings":{"aws.bucket":"b"}}""")
      val bad = intercept[Exception] {
        cli.call(Conn, "ValidateConnector",
          """{"type":"source","plugin":"builtin:nope"}""")
      }
      assert(bad.getMessage.contains("unknown connector plugin"), bad.getMessage)
      val missing = intercept[Exception] {
        cli.call(Conn, "ValidateConnector",
          """{"type":"destination","plugin":"builtin:file"}""")
      }
      assert(missing.getMessage.contains("missing required settings"),
        missing.getMessage)

      // plugin catalogue, with regex filter (api.proto:921)
      val plugins = JsonOps.parse(cli.call(Conn, "ListConnectorPlugins",
        """{"regex":"^builtin:"}"""))
      val names = (0 until plugins.get("plugins").size())
        .map(plugins.get("plugins").get(_).get("name").asText())
      assert(names.contains("builtin:kafka") && names.contains("builtin:s3"))
      assert(!names.contains("memory"))
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("ProcessorService: CRUD + plugin catalogue") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp7"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-7")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-7")
    val Proc = GrpcControlPlane.ProcessorServiceName
    try {
      cli.call("CreatePipeline", s"""{"yaml":${quote(yamlFor("gd1"))}}""")

      // create a pipeline-level processor
      val created = JsonOps.parse(cli.call(Proc, "CreateProcessor",
        """{"pipeline_id":"gd1","id":"p1","plugin":"field.set","settings":{"field":".Payload.After.x","value":"1"}}"""))
      assert(created.get("processor").get("id").asText() == "gd1:p1")
      assert(cp.config("gd1").get.processors.map(_.id) == Seq("p1"))

      // unknown plugin is rejected up front
      val bad = intercept[Exception] {
        cli.call(Proc, "CreateProcessor",
          """{"pipeline_id":"gd1","id":"p2","plugin":"no.such.plugin"}""")
      }
      assert(bad.getMessage.contains("unknown processor plugin"), bad.getMessage)

      // get / list / update / delete
      val got = JsonOps.parse(cli.call(Proc, "GetProcessor", """{"id":"gd1:p1"}"""))
      assert(got.get("processor").get("plugin").asText() == "field.set")
      val listed = JsonOps.parse(cli.call(Proc, "ListProcessors",
        """{"pipeline_id":"gd1"}"""))
      assert(listed.get("processors").size() == 1)
      val upd = JsonOps.parse(cli.call(Proc, "UpdateProcessor",
        """{"id":"gd1:p1","condition":"{{ eq .Operation \"create\" }}"}"""))
      assert(upd.get("processor").get("condition").asText().contains("create"))
      cli.call(Proc, "DeleteProcessor", """{"id":"gd1:p1"}""")
      assert(cp.config("gd1").get.processors.isEmpty)

      // connector-scoped processor (parent_connector_id)
      cli.call(Proc, "CreateProcessor",
        """{"pipeline_id":"gd1","id":"p3","plugin":"field.exclude","parent_connector_id":"gen","settings":{"fields":".Payload.After.y"}}""")
      assert(cp.config("gd1").get.sources.head.processors.map(_.id) == Seq("p3"))

      // plugin catalogue serves the full registry
      val plugins = JsonOps.parse(cli.call(Proc, "ListProcessorPlugins",
        """{"regex":"^field\\."}"""))
      val names = (0 until plugins.get("plugins").size())
        .map(plugins.get("plugins").get(_).get("name").asText())
      assert(names.contains("field.set") && names.contains("field.rename"))
      assert(names.forall(_.startsWith("field.")))
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("streaming inspect: InspectConnector streams live records over gRPC") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp8"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-8")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-8")
    try {
      val yaml = Pipeline.toYaml(Seq(
        Pipeline("gi1")
          .source("gen", "builtin:generator",
            "format.options.id" -> "int", "rate" -> "500")
          .destination("out", "null")))
      cli.call("CreatePipeline", s"""{"yaml":${quote(yaml)}}""")
      cli.call("StartPipeline", """{"id":"gi1"}""")
      try {
        val records = cli.stream(GrpcControlPlane.ConnectorServiceName,
          "InspectConnector",
          """{"id":"gi1:gen","limit":5,"duration_ms":60000}""")
        assert(records.size == 5, s"got ${records.size} records")
        records.foreach { r =>
          val n = JsonOps.parse(r)
          assert(n.has("record"), r)
        }
        // processor-side inspect shares the tap vocabulary
        val ex = intercept[Exception] {
          cli.stream(GrpcControlPlane.ProcessorServiceName,
            "InspectProcessorIn", """{"id":"gi1:nope"}""").size
        }
        assert(ex.getMessage.contains("unknown component"), ex.getMessage)
      } finally cli.call("StopPipeline", """{"id":"gi1"}""")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("InformationService.GetInfo and the proto `name` plugin filter") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp10"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-10")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-10")
    try {
      val info = JsonOps.parse(cli.call(
        GrpcControlPlane.InformationServiceName, "GetInfo", "{}"))
      assert(info.get("info").get("version").asText().startsWith("v"))
      assert(info.get("info").get("arch").asText().nonEmpty)
      // the reference's filter field is `name` (api.proto:1194)
      val plugins = JsonOps.parse(cli.call(
        GrpcControlPlane.ProcessorServiceName, "ListProcessorPlugins",
        """{"name":"^json\\."}"""))
      val names = (0 until plugins.get("plugins").size())
        .map(plugins.get("plugins").get(_).get("name").asText())
      assert(names.nonEmpty && names.forall(_.startsWith("json.")))
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("end-to-end lifecycle over the real socket: create, mutate, start, inspect, stop, export/delete/import") {
    // mirrors the reference orchestrator flow
    // (pkg/orchestrator/pipelines.go:27) against the real Netty
    // transport: every step a remote client would take, one session
    import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_e2e"))
    val svc = new GrpcControlPlane(cp)
    val port = svc.serve(0)
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", port)
      .usePlaintext().build()
    val cli = new GrpcControlPlane.Client(ch)
    val Proc = GrpcControlPlane.ProcessorServiceName
    try {
      val yaml = Pipeline.toYaml(Seq(
        Pipeline("ge2e")
          .source("gen", "builtin:generator",
            "format.options.id" -> "int", "rate" -> "500")
          .destination("out", "memory")))
      cli.call("CreatePipeline", s"""{"yaml":${quote(yaml)}}""")
      // topology mutation before start — the CRUD path the per-id
      // critical section serializes
      cli.call(Proc, "CreateProcessor",
        """{"pipeline_id":"ge2e","id":"set1","plugin":"field.set","settings":{"field":".Payload.After.department","value":"finance"}}""")
      Runner.memorySinks.clear()
      cli.call("StartPipeline", """{"id":"ge2e"}""")
      try {
        // server-streaming inspect over the live socket
        val records = cli.stream(GrpcControlPlane.ConnectorServiceName,
          "InspectConnector",
          """{"id":"ge2e:gen","limit":3,"duration_ms":60000}""")
        assert(records.size == 3, s"got ${records.size} records")
        assert(records.forall(r => JsonOps.parse(r).has("record")))
        // the mutated topology is what's executing: sink records carry
        // the processor's field
        val deadline = System.currentTimeMillis() + 60000
        while (!Runner.memorySink("out").exists(_.contains("finance")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(Runner.memorySink("out").exists(_.contains("finance")))
      } finally cli.call("StopPipeline", """{"id":"ge2e"}""")
      // export carries the mutated topology
      val exported = JsonOps.parse(cli.call("ExportPipeline", """{"id":"ge2e"}"""))
      val back = Pipeline.fromYaml(exported.get("yaml").asText())
      assert(back.head.processors.map(_.plugin) == Seq("field.set"))
      // delete, then import restores the stopped pipeline
      cli.call("DeletePipeline", """{"id":"ge2e"}""")
      val gone = intercept[Exception] {
        cli.call("GetPipeline", """{"id":"ge2e"}""")
      }
      assert(gone.getMessage.contains("unknown pipeline"), gone.getMessage)
      cli.call("ImportPipeline",
        s"""{"yaml":${quote(exported.get("yaml").asText())}}""")
      val re = JsonOps.parse(cli.call("GetPipeline", """{"id":"ge2e"}"""))
      assert(re.get("pipeline").get("status").asText() == "stopped")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("grpc.health.v1.Health: Check/Watch serve, unknown service is NOT_FOUND") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cph"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-health")
    val cli = GrpcControlPlane.inProcessClient("grpc-spec-health")
    val health = GrpcControlPlane.HealthServiceName
    try {
      // overall health (empty service) and both name forms
      for (req <- Seq("{}", """{"service":"PipelineService"}""",
          """{"service":"api.v1.ProcessorService"}"""))
        assert(JsonOps.parse(cli.call(health, "Check", req))
          .get("status").asText() == "SERVING", req)
      // unknown service: NOT_FOUND, matching the reference
      val ex = intercept[org.sparkproject.connect.grpc.StatusRuntimeException] {
        cli.call(health, "Check", """{"service":"nope"}""")
      }
      assert(ex.getStatus.getCode ==
        org.sparkproject.connect.grpc.Status.Code.NOT_FOUND)
      // Watch sends the current status once and completes
      val watched = cli.stream(health, "Watch", "{}")
      assert(watched.size == 1)
      assert(JsonOps.parse(watched.head).get("status").asText() == "SERVING")
    } finally { cli.close(); svc.stop(); cp.stop() }
  }

  test("serve() refuses a second start on the same facade") {
    val cp = new ControlPlane(spark,
      Fences.tempDir("grpc_cp9"))
    val svc = new GrpcControlPlane(cp)
    svc.serveInProcess("grpc-spec-9")
    try {
      val ex = intercept[IllegalArgumentException] {
        svc.serveInProcess("grpc-spec-9b")
      }
      assert(ex.getMessage.contains("already started"))
    } finally { svc.stop(); cp.stop() }
    // after stop() a fresh serve is fine
    svc.serveInProcess("grpc-spec-9c")
    svc.stop()
    cp.stop()
  }

  private def quote(s: String): String =
    JsonOps.render(JsonOps.mapper.getNodeFactory.textNode(s))
}
