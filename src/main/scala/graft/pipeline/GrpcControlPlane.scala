package graft.pipeline

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor, Server, ServerCallHandler, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.inprocess.{InProcessChannelBuilder, InProcessServerBuilder}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}

import graft.functions.JsonOps
import graft.ops.Registry

/** gRPC facade over [[ControlPlane]] — the engine's analogue of the
  * reference's `api.v1` gRPC surface:
  *
  *  - `PipelineService` (`proto/api/v1/api.proto:318`:
  *    List/Create/Get/Update/Delete/Start/Stop/DLQ/Export/Import/
  *    Plan/Apply; implementations `pkg/http/api/pipeline_v1.go`).
  *  - `ConnectorService` (`api.proto:767`: List/Inspect(stream)/Get/
  *    Create/Validate/Update/Delete/ListConnectorPlugins).
  *  - `ProcessorService` (`api.proto:1003`: List/InspectIn(stream)/
  *    InspectOut(stream)/Get/Create/Update/Delete/
  *    ListProcessorPlugins).
  *
  * The PipelineService handlers only parse a request and render the
  * answer: what each call does (provision, create, remove, list, DLQ,
  * lifecycle) is decided by [[ControlPlane]], whose REST routes are
  * the other adapter over the same methods. The connector and
  * processor handlers here are the single implementation of those
  * services; the REST `/v1/connectors` and `/v1/processors` routes
  * call them through [[invokeUnary]] — the reference's grpc-gateway
  * arrangement in reverse.
  *
  * ==Wire format (documented deviation)==
  * Method names and semantics mirror the proto services, but message
  * bodies travel as the messages' JSON mapping (a custom gRPC
  * marshaller — the `application/grpc` framing with a JSON codec)
  * instead of protobuf binary. The container has no protoc and the
  * only gRPC runtime on the classpath is the one Spark Connect
  * shades, so hand-rolled binary codecs would be all risk and no
  * fidelity: the reference itself serves this exact JSON shape over
  * its grpc-gateway HTTP mirror. Pipeline specs cross the wire as
  * provisioning YAML in a `"yaml"` field (the reference's Export/
  * Import vocabulary), statuses as the same documents the REST
  * facade serves.
  *
  * ==Addressing (documented deviation)==
  * The reference keys connectors and processors by the composite id
  * `pipelineID:componentID` (`pkg/provisioning/service.go`); this
  * facade accepts either that composite in `id` or split
  * `pipeline_id` + `id` fields.
  *
  * ==Tap points (documented deviation)==
  * The engine has ONE inspector tap per pipeline (after source +
  * processors, before the destination barrier — `Runner.scala`'s
  * foreachBatch). `InspectConnector` / `InspectProcessorIn` /
  * `InspectProcessorOut` therefore all stream that tap, each call in
  * its own bounded session buffer (reference `pkg/inspector/
  * inspector.go:33` per-session semantics), rather than per-edge
  * taps — per-edge taps would require materializing every
  * intermediate DataFrame per micro-batch, an extra pass over the
  * data the reference's in-process channels get for free.
  *
  * Scale note: this is a control plane — requests touch the driver's
  * registry and streaming-query handles only, never data. The shaded
  * Netty transport serves real sockets ([[serve]]); tests and
  * embedded use get the in-process transport ([[serveInProcess]]).
  */
class GrpcControlPlane(cp: ControlPlane) {
  import ControlPlane.jtext
  import GrpcControlPlane._

  private var server: Server = _

  // ---- shared helpers ----------------------------------------------

  private def node(s: String): JsonNode = JsonOps.parseOrEmpty(s)
  private def text(n: JsonNode, field: String): String =
    Option(n.get(field)).map(_.asText("")).getOrElse("")

  private def requireId(n: JsonNode): String = {
    val id = text(n, "id")
    require(id.nonEmpty, "missing field: id")
    require(cp.isRegistered(id), s"unknown pipeline: $id")
    id
  }

  /** Composite `pipeline:component` or split pipeline_id + id. */
  private def splitId(n: JsonNode): (String, String) = {
    val pid = text(n, "pipeline_id")
    val id = text(n, "id")
    if (pid.nonEmpty) { require(id.nonEmpty, "missing field: id"); (pid, id) }
    else {
      val i = id.indexOf(':')
      require(i > 0 && i < id.length - 1,
        "missing field: pipeline_id (or composite id 'pipeline:component')")
      (id.substring(0, i), id.substring(i + 1))
    }
  }

  private def unknownPipeline(pid: String) =
    new IllegalArgumentException(s"unknown pipeline: $pid")
  private def configOf(pid: String): PipelineConfig =
    cp.config(pid).getOrElse(throw unknownPipeline(pid))

  /** Pipelines named by a request: a provisioning `yaml` field, or a
    * minimal `config` object (the proto's Pipeline.Config analogue —
    * name/description only; connectors arrive via yaml or Apply).
    */
  private def pipelinesOf(n: JsonNode): Seq[PipelineConfig] = {
    val yaml = text(n, "yaml")
    if (yaml.nonEmpty) Pipeline.fromYaml(yaml)
    else {
      val cfg = n.get("config")
      require(cfg != null, "missing field: yaml or config")
      val name = Option(cfg.get("name")).map(_.asText("")).getOrElse("")
      require(name.nonEmpty, "config.name is required")
      Seq(PipelineConfig(id = name, name = name))
    }
  }

  // ---- PipelineService ----------------------------------------------

  private val pipelineHandlers: Map[String, String => String] = Map(
    "ListPipelines" -> { _ => s"""{"pipelines":${cp.listJson}}""" },
    "CreatePipeline" -> { req =>
      val ps = pipelinesOf(node(req))
      cp.create(ps)
      s"""{"pipeline":${cp.statusJson(ps.head.id)},"pipelines":${
        ps.map(p => cp.statusJson(p.id)).mkString("[", ",", "]")}}"""
    },
    "GetPipeline" -> { req =>
      s"""{"pipeline":${cp.statusJson(requireId(node(req)))}}"""
    },
    "UpdatePipeline" -> { req =>
      val n = node(req)
      val id = requireId(n)
      val ps = pipelinesOf(n)
      require(ps.size == 1 && ps.head.id == id,
        s"update body must describe pipeline $id")
      // atomic: the isActive guard holds inside the replace
      cp.mutate(id)(_ => ps.head)
      s"""{"pipeline":${cp.statusJson(id)}}"""
    },
    "DeletePipeline" -> { req =>
      val id = text(node(req), "id")
      require(id.nonEmpty, "missing field: id")
      require(cp.remove(id), s"unknown pipeline: $id")
      "{}"
    },
    "StartPipeline" -> { req =>
      val n = node(req)
      val id = requireId(n)
      if (Option(n.get("supervise")).exists(_.asBoolean(false)))
        cp.superviseStart(id)
      else cp.startPipeline(id)
      "{}"
    },
    "StopPipeline" -> { req =>
      cp.stopPipeline(requireId(node(req)))
      "{}"
    },
    "GetDLQ" -> { req =>
      val id = requireId(node(req))
      cp.dlqJson(id).getOrElse(throw unknownPipeline(id))
    },
    "UpdateDLQ" -> { req =>
      val n = node(req)
      val id = requireId(n)
      cp.updateDlq(id, Option(n.get("dlq")).getOrElse(
        throw new IllegalArgumentException("missing field: dlq")))
    },
    "ExportPipeline" -> { req =>
      val id = requireId(node(req))
      s"""{"yaml":${jtext(Pipeline.toYaml(Seq(configOf(id))))}}"""
    },
    "ImportPipeline" -> { req =>
      val ps = pipelinesOf(node(req))
      cp.provision(ps, "import")
      s"""{"ids":${ps.map(p => jtext(p.id)).mkString("[", ",", "]")}}"""
    },
    "PlanPipeline" -> { req =>
      s"""{"plan":${cp.planFor(pipelinesOf(node(req)))}}"""
    },
    "ApplyPipeline" -> { req =>
      val ps = pipelinesOf(node(req))
      val plan = cp.planFor(ps)
      cp.provision(ps, "apply")
      s"""{"plan":$plan}"""
    })

  // ---- ConnectorService ----------------------------------------------

  private def connectorDoc(pid: String, kind: String,
                           c: ConnectorConfig): ObjectNode = {
    val o = JsonOps.mapper.createObjectNode()
    o.put("id", s"$pid:${c.id}")
    o.put("pipeline_id", pid)
    o.put("connector_id", c.id)
    o.put("type", kind)
    o.put("plugin", c.plugin)
    val s = o.putObject("settings")
    c.settings.foreach { case (k, v) => s.put(k, v) }
    val pr = o.putArray("processor_ids")
    c.processors.foreach(p => pr.add(s"$pid:${p.id}"))
    o
  }

  private def findConnector(cfg: PipelineConfig,
                            cid: String): (String, ConnectorConfig) =
    cfg.sources.find(_.id == cid).map(("source", _))
      .orElse(cfg.destinations.find(_.id == cid).map(("destination", _)))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown connector: ${cfg.id}:$cid"))

  private def connectorSettingsOf(n: JsonNode): Map[String, String] = {
    // prefer the `config` holder ONLY when it actually carries
    // settings — a bare config object (name-only) must not shadow
    // top-level settings into an empty map
    val holder = Option(n.get("config")).filter(_.has("settings")).getOrElse(n)
    Option(holder.get("settings")).map { s =>
      val b = Map.newBuilder[String, String]
      s.properties().forEach(e => b += e.getKey -> e.getValue.asText(""))
      b.result()
    }.getOrElse(Map.empty)
  }

  private val connectorHandlers: Map[String, String => String] = Map(
    "ListConnectors" -> { req =>
      val pid = text(node(req), "pipeline_id")
      // a named-but-unknown pipeline is an error, not an empty list
      val pids = if (pid.nonEmpty) { configOf(pid); Seq(pid) }
        else cp.registered.sorted
      val docs = pids.flatMap { p =>
        cp.config(p).toSeq.flatMap { cfg =>
          cfg.sources.map(connectorDoc(p, "source", _)) ++
            cfg.destinations.map(connectorDoc(p, "destination", _))
        }
      }
      s"""{"connectors":${docs.map(JsonOps.render).mkString("[", ",", "]")}}"""
    },
    "GetConnector" -> { req =>
      val (pid, cid) = splitId(node(req))
      val (kind, c) = findConnector(configOf(pid), cid)
      s"""{"connector":${JsonOps.render(connectorDoc(pid, kind, c))}}"""
    },
    "CreateConnector" -> { req =>
      val n = node(req)
      val pid = text(n, "pipeline_id")
      require(pid.nonEmpty, "missing field: pipeline_id")
      val kind = text(n, "type")
      require(kind == "source" || kind == "destination",
        s"type must be source|destination, got '$kind'")
      val plugin = text(n, "plugin")
      require(plugin.nonEmpty, "missing field: plugin")
      val cid = Seq(text(n, "id"),
        Option(n.get("config")).map(c => text(c, "name")).getOrElse(""))
        .find(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException("missing field: id or config.name"))
      validatePlugin(kind, plugin, connectorSettingsOf(n))
      val conn = ConnectorConfig(cid, plugin, connectorSettingsOf(n))
      cp.mutate(pid) { cfg =>
        require(cfg.sources.forall(_.id != cid) &&
          cfg.destinations.forall(_.id != cid),
          s"connector already exists: $pid:$cid")
        if (kind == "source") cfg.copy(sources = cfg.sources :+ conn)
        else cfg.copy(destinations = cfg.destinations :+ conn)
      }
      s"""{"connector":${JsonOps.render(connectorDoc(pid, kind, conn))}}"""
    },
    "ValidateConnector" -> { req =>
      val n = node(req)
      val kind = text(n, "type")
      require(kind == "source" || kind == "destination",
        s"type must be source|destination, got '$kind'")
      validatePlugin(kind, text(n, "plugin"), connectorSettingsOf(n))
      "{}"
    },
    "UpdateConnector" -> { req =>
      val n = node(req)
      val (pid, cid) = splitId(n)
      var kindOut: String = null
      var connOut: ConnectorConfig = null
      cp.mutate(pid) { cfg =>
        val (kind, old) = findConnector(cfg, cid)
        val plugin = Option(text(n, "plugin")).filter(_.nonEmpty)
          .getOrElse(old.plugin)
        val settings =
          if (n.has("settings") ||
            Option(n.get("config")).exists(_.has("settings")))
            connectorSettingsOf(n)
          else old.settings
        validatePlugin(kind, plugin, settings)
        val conn = old.copy(plugin = plugin, settings = settings)
        kindOut = kind; connOut = conn
        if (kind == "source")
          cfg.copy(sources = cfg.sources.map(c => if (c.id == cid) conn else c))
        else
          cfg.copy(destinations =
            cfg.destinations.map(c => if (c.id == cid) conn else c))
      }
      s"""{"connector":${JsonOps.render(connectorDoc(pid, kindOut, connOut))}}"""
    },
    "DeleteConnector" -> { req =>
      val (pid, cid) = splitId(node(req))
      cp.mutate(pid) { cfg =>
        val (kind, _) = findConnector(cfg, cid)
        if (kind == "source") cfg.copy(sources = cfg.sources.filterNot(_.id == cid))
        else cfg.copy(destinations = cfg.destinations.filterNot(_.id == cid))
      }
      "{}"
    },
    "ListConnectorPlugins" -> { req =>
      val regex = pluginRegexOf(node(req))
      val docs = ConnectorPlugins.collect {
        case (name, (kinds, required))
            if regex.forall(_.findFirstIn(name).isDefined) =>
          val o = JsonOps.mapper.createObjectNode()
          o.put("name", name)
          val t = o.putArray("types"); kinds.foreach(t.add)
          val r = o.putArray("required"); required.foreach(r.add)
          JsonOps.render(o)
      }.toSeq.sorted
      s"""{"plugins":${docs.mkString("[", ",", "]")}}"""
    })

  /** Plugin-list filter: the proto field is `name` (a regex,
    * `api.proto:1194`); `regex` is accepted as an alias. */
  private def pluginRegexOf(n: JsonNode): Option[scala.util.matching.Regex] =
    Seq(text(n, "name"), text(n, "regex")).find(_.nonEmpty).map(_.r)

  private def validatePlugin(kind: String, plugin: String,
                             settings: Map[String, String]): Unit = {
    val (kinds, required) = ConnectorPlugins.getOrElse(plugin,
      throw new IllegalArgumentException(s"unknown connector plugin: $plugin"))
    require(kinds.contains(kind), s"plugin $plugin is not a $kind")
    val missing = required.filterNot(settings.contains)
    require(missing.isEmpty,
      s"$plugin: missing required settings: ${missing.mkString(", ")}")
  }

  // ---- ProcessorService ----------------------------------------------

  private def processorDoc(pid: String, parent: Option[String],
                           p: ProcessorConfig): ObjectNode = {
    val o = JsonOps.mapper.createObjectNode()
    o.put("id", s"$pid:${p.id}")
    o.put("pipeline_id", pid)
    o.put("processor_id", p.id)
    o.put("plugin", p.plugin)
    parent.foreach(c => o.put("parent_connector_id", c))
    p.condition.foreach(c => o.put("condition", c))
    o.put("workers", p.workers)
    val s = o.putObject("settings")
    p.settings.foreach { case (k, v) => s.put(k, v) }
    o
  }

  /** All processors of a pipeline: pipeline-level + connector-level. */
  private def allProcessors(cfg: PipelineConfig)
      : Seq[(Option[String], ProcessorConfig)] =
    cfg.processors.map((None, _)) ++
      (cfg.sources ++ cfg.destinations).flatMap(c =>
        c.processors.map((Some(c.id): Option[String], _)))

  private def findProcessor(cfg: PipelineConfig, procId: String)
      : (Option[String], ProcessorConfig) =
    allProcessors(cfg).find(_._2.id == procId).getOrElse(
      throw new IllegalArgumentException(
        s"unknown processor: ${cfg.id}:$procId"))

  private def processorOf(n: JsonNode, id: String): ProcessorConfig = {
    val plugin = text(n, "plugin")
    require(plugin.nonEmpty, "missing field: plugin")
    require(Registry.plugins.contains(plugin),
      s"unknown processor plugin: $plugin")
    ProcessorConfig(
      id = id,
      plugin = plugin,
      settings = connectorSettingsOf(n),
      condition = Option(text(n, "condition")).filter(_.nonEmpty),
      workers = Option(n.get("workers")).map(_.asInt(1)).getOrElse(1))
  }

  private val processorHandlers: Map[String, String => String] = Map(
    "ListProcessors" -> { req =>
      val pid = text(node(req), "pipeline_id")
      val pids = if (pid.nonEmpty) { configOf(pid); Seq(pid) }
        else cp.registered.sorted
      val docs = pids.flatMap(p => cp.config(p).toSeq.flatMap(cfg =>
        allProcessors(cfg).map { case (parent, proc) =>
          JsonOps.render(processorDoc(p, parent, proc)) }))
      s"""{"processors":${docs.mkString("[", ",", "]")}}"""
    },
    "GetProcessor" -> { req =>
      val (pid, procId) = splitId(node(req))
      val (parent, proc) = findProcessor(configOf(pid), procId)
      s"""{"processor":${JsonOps.render(processorDoc(pid, parent, proc))}}"""
    },
    "CreateProcessor" -> { req =>
      val n = node(req)
      val pid = text(n, "pipeline_id")
      require(pid.nonEmpty, "missing field: pipeline_id")
      val procId = text(n, "id")
      require(procId.nonEmpty, "missing field: id")
      val proc = processorOf(n, procId)
      val parent = Option(text(n, "parent_connector_id")).filter(_.nonEmpty)
      cp.mutate(pid) { cfg =>
        require(allProcessors(cfg).forall(_._2.id != procId),
          s"processor already exists: $pid:$procId")
        parent match {
          case None => cfg.copy(processors = cfg.processors :+ proc)
          case Some(cid) =>
            val (kind, conn) = findConnector(cfg, cid)
            val c2 = conn.copy(processors = conn.processors :+ proc)
            if (kind == "source")
              cfg.copy(sources = cfg.sources.map(c => if (c.id == cid) c2 else c))
            else cfg.copy(destinations =
              cfg.destinations.map(c => if (c.id == cid) c2 else c))
        }
      }
      s"""{"processor":${JsonOps.render(processorDoc(pid, parent, proc))}}"""
    },
    "UpdateProcessor" -> { req =>
      val n = node(req)
      val (pid, procId) = splitId(n)
      var parentOut: Option[String] = None
      var procOut: ProcessorConfig = null
      cp.mutate(pid) { cfg =>
        val (parent, old) = findProcessor(cfg, procId)
        val proc = old.copy(
          plugin = Option(text(n, "plugin")).filter(_.nonEmpty)
            .getOrElse(old.plugin),
          settings =
            if (n.has("settings") ||
              Option(n.get("config")).exists(_.has("settings")))
              connectorSettingsOf(n)
            else old.settings,
          // present-but-empty CLEARS the condition (full-replace Update
          // semantics); an absent field keeps the old one
          condition =
            if (n.has("condition")) Option(text(n, "condition")).filter(_.nonEmpty)
            else old.condition,
          workers = Option(n.get("workers")).map(_.asInt(old.workers))
            .getOrElse(old.workers))
        require(Registry.plugins.contains(proc.plugin),
          s"unknown processor plugin: ${proc.plugin}")
        parentOut = parent; procOut = proc
        replaceProcessor(cfg, parent, procId, Some(proc))
      }
      s"""{"processor":${JsonOps.render(processorDoc(pid, parentOut, procOut))}}"""
    },
    "DeleteProcessor" -> { req =>
      val (pid, procId) = splitId(node(req))
      cp.mutate(pid) { cfg =>
        val (parent, _) = findProcessor(cfg, procId)
        replaceProcessor(cfg, parent, procId, None)
      }
      "{}"
    },
    "ListProcessorPlugins" -> { req =>
      val regex = pluginRegexOf(node(req))
      val names = Registry.plugins.toSeq.sorted
        .filter(n => regex.forall(_.findFirstIn(n).isDefined))
      val docs = names.map { n =>
        val o = JsonOps.mapper.createObjectNode()
        o.put("name", n)
        JsonOps.render(o)
      }
      s"""{"plugins":${docs.mkString("[", ",", "]")}}"""
    })

  /** Replace (Some) or remove (None) a processor in the right list. */
  private def replaceProcessor(cfg: PipelineConfig, parent: Option[String],
                               procId: String,
                               proc: Option[ProcessorConfig]): PipelineConfig = {
    def patch(ps: Seq[ProcessorConfig]): Seq[ProcessorConfig] =
      ps.flatMap(p => if (p.id == procId) proc.toSeq else Seq(p))
    parent match {
      case None => cfg.copy(processors = patch(cfg.processors))
      case Some(cid) =>
        val (kind, conn) = findConnector(cfg, cid)
        val c2 = conn.copy(processors = patch(conn.processors))
        if (kind == "source")
          cfg.copy(sources = cfg.sources.map(c => if (c.id == cid) c2 else c))
        else cfg.copy(destinations =
          cfg.destinations.map(c => if (c.id == cid) c2 else c))
    }
  }

  // ---- streaming inspect ----------------------------------------------

  /** Stream the pipeline tap for the component named by the request.
    * Each message is `{"record": <wire JSON>}`; the stream completes
    * after `limit` records (default 100) or `duration_ms` (default
    * 5000 ms), whichever first — the reference streams until client
    * cancel, which the blocking JSON client here can't express.
    */
  private def inspectStream(req: String,
                            observer: StreamObserver[String]): Unit = {
    val n = node(req)
    val (pid, compId) = splitId(n)
    val cfg = configOf(pid)
    // the component must exist — connector or processor
    val known = cfg.sources.exists(_.id == compId) ||
      cfg.destinations.exists(_.id == compId) ||
      allProcessors(cfg).exists(_._2.id == compId)
    require(known, s"unknown component: $pid:$compId")
    val limit = Option(n.get("limit")).map(_.asInt(100)).getOrElse(100)
    val durationMs = Option(n.get("duration_ms")).map(_.asLong(5000L))
      .getOrElse(5000L)
    val ins = Metrics.inspector(pid)
    val session = ins.openSession()
    try {
      val deadline = System.currentTimeMillis() + durationMs
      var sent = 0
      while (sent < limit && System.currentTimeMillis() < deadline) {
        val batch = ins.drainSession(session).getOrElse(
          // idle-expired mid-stream (only possible if this loop stalls
          // past the inspector's idle timeout) — fail loudly rather
          // than stream silence off a dead key
          throw new IllegalStateException(
            s"inspector session expired: $session"))
        batch.take(limit - sent).foreach { r =>
          observer.onNext(s"""{"record":$r}""")
          sent += 1
        }
        if (sent < limit) Thread.sleep(100)
      }
      observer.onCompleted()
    } finally ins.closeSession(session)
  }

  private val connectorStreams: Map[String, (String, StreamObserver[String]) => Unit] =
    Map("InspectConnector" -> inspectStream)
  private val processorStreams: Map[String, (String, StreamObserver[String]) => Unit] =
    Map("InspectProcessorIn" -> inspectStream,
      "InspectProcessorOut" -> inspectStream)

  // ---- service wiring ----------------------------------------------

  private def serviceDefinition(
      service: String,
      unary: Map[String, String => String],
      streaming: Map[String, (String, StreamObserver[String]) => Unit])
      : ServerServiceDefinition = {
    val b = ServerServiceDefinition.builder(service)
    unary.foreach { case (name, fn) =>
      b.addMethod(methodOf(service, name), unaryHandler(fn))
    }
    streaming.foreach { case (name, fn) =>
      b.addMethod(streamMethodOf(service, name), streamHandler(fn))
    }
    b.build()
  }

  // ---- InformationService (api.proto:1202) ---------------------------

  private val informationHandlers: Map[String, String => String] = Map(
    "GetInfo" -> { _ => s"""{"info":${ControlPlane.infoJson}}""" })

  // ---- grpc.health.v1.Health (reference: pkg/http/api/health_server
  // .go:48-74, registered with per-service checkers at
  // pkg/conduit/runtime.go:872-882) ------------------------------------

  private def healthStatus(req: String): String = {
    val svc = text(node(req), "service")
    if (svc.nonEmpty && !HealthServices(svc))
      // NOT_FOUND, matching the reference (health_server.go:66)
      throw new NoSuchElementException(s"service '$svc' not found")
    // every served service is backed by the same in-process control
    // plane — serving iff the server object is alive (we are running)
    """{"status":"SERVING"}"""
  }

  private val healthHandlers: Map[String, String => String] =
    Map("Check" -> healthStatus)

  private val healthStreams
      : Map[String, (String, StreamObserver[String]) => Unit] =
    Map("Watch" -> { (req, observer) =>
      // the reference's Watch sends the current status once
      // (health_server.go:69-74); status changes are not streamed
      observer.onNext(healthStatus(req))
      observer.onCompleted()
    })

  /** Direct unary dispatch — the REST gateway bridge: ControlPlane
    * maps the proto's /v1/connectors and /v1/processors HTTP routes
    * (api.proto:770-1103) onto the same handlers the gRPC services
    * run, so the two facades cannot drift.
    */
  def invokeUnary(service: String, method: String,
                  requestJson: String): String = {
    val handlers = service match {
      case GrpcControlPlane.ServiceName => pipelineHandlers
      case GrpcControlPlane.ConnectorServiceName => connectorHandlers
      case GrpcControlPlane.ProcessorServiceName => processorHandlers
      case GrpcControlPlane.InformationServiceName => informationHandlers
      case s => throw new NoSuchElementException(s"unknown service: $s")
    }
    handlers.getOrElse(method, throw new NoSuchElementException(
      s"unknown method: $service/$method"))(requestJson)
  }

  /** Direct server-streaming dispatch, collected — the REST gateway
    * bridge for the proto's inspect bindings (GET
    * /v1/connectors/{id}/inspect, /v1/processors/{id}/inspect-in|out,
    * api.proto:795,1016,1027): runs the SAME stream handler the gRPC
    * service serves with a collecting observer and returns its
    * messages. The caller bounds the call via the request's `limit` /
    * `duration_ms` fields (the REST routes default `duration_ms` low
    * so a GET returns the first drained payload rather than holding
    * the connection open like the gRPC stream does).
    */
  def invokeStreamCollect(service: String, method: String,
                          requestJson: String): Seq[String] = {
    val streams = service match {
      case GrpcControlPlane.ConnectorServiceName => connectorStreams
      case GrpcControlPlane.ProcessorServiceName => processorStreams
      case s => throw new NoSuchElementException(s"unknown service: $s")
    }
    val fn = streams.getOrElse(method, throw new NoSuchElementException(
      s"unknown method: $service/$method"))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var failure: Option[Throwable] = None
    fn(requestJson, new StreamObserver[String] {
      override def onNext(v: String): Unit = out += v
      override def onError(t: Throwable): Unit = failure = Some(t)
      override def onCompleted(): Unit = ()
    })
    failure.foreach(t => throw new IllegalStateException(t.getMessage, t))
    out.toSeq
  }

  private def services: Seq[ServerServiceDefinition] = Seq(
    serviceDefinition(ServiceName, pipelineHandlers, Map.empty),
    serviceDefinition(ConnectorServiceName, connectorHandlers,
      connectorStreams),
    serviceDefinition(ProcessorServiceName, processorHandlers,
      processorStreams),
    serviceDefinition(InformationServiceName, informationHandlers,
      Map.empty),
    serviceDefinition(GrpcControlPlane.HealthServiceName, healthHandlers,
      healthStreams))
  // api.v1.PluginService is NOT served: the reference marks it
  // deprecated in favor of ConnectorService/ProcessorService
  // (api.proto:1224) — both of which are served above.

  private def onError(observer: StreamObserver[String], e: Exception): Unit = {
    val status = e match {
      case _: NoSuchElementException => Status.NOT_FOUND
      case _: IllegalArgumentException => Status.INVALID_ARGUMENT
      case _: IllegalStateException => Status.FAILED_PRECONDITION
      case _ => Status.INTERNAL
    }
    observer.onError(status
      .withDescription(String.valueOf(e.getMessage)).asRuntimeException())
  }

  private def unaryHandler(fn: String => String): ServerCallHandler[String, String] =
    ServerCalls.asyncUnaryCall(new ServerCalls.UnaryMethod[String, String] {
      override def invoke(request: String,
                          observer: StreamObserver[String]): Unit =
        try {
          observer.onNext(fn(request))
          observer.onCompleted()
        } catch { case e: Exception => onError(observer, e) }
    })

  private def streamHandler(fn: (String, StreamObserver[String]) => Unit)
      : ServerCallHandler[String, String] =
    ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[String, String] {
        override def invoke(request: String,
                            observer: StreamObserver[String]): Unit =
          try fn(request, observer)
          catch { case e: Exception => onError(observer, e) }
      })

  /** Serve on a real TCP port (shaded Netty transport); returns the
    * bound port (pass 0 for ephemeral). */
  def serve(port: Int): Int = {
    require(server == null, "server already started; stop() it first")
    val b = NettyServerBuilder.forPort(port)
    services.foreach(b.addService)
    server = b.build().start()
    server.getPort
  }

  /** Serve over the in-process transport under `name` (tests,
    * embedded runtimes — the reference's embedded-API analogue). */
  def serveInProcess(name: String): Unit = {
    require(server == null, "server already started; stop() it first")
    val b = InProcessServerBuilder.forName(name).directExecutor()
    services.foreach(b.addService)
    server = b.build().start()
  }

  def stop(): Unit = if (server != null) { server.shutdownNow(); server = null }
}

object GrpcControlPlane {
  val ServiceName = "api.v1.PipelineService"
  val ConnectorServiceName = "api.v1.ConnectorService"
  val ProcessorServiceName = "api.v1.ProcessorService"
  val InformationServiceName = "api.v1.InformationService"
  val HealthServiceName = "grpc.health.v1.Health"

  /** Service names the health checks accept — gRPC `Health/Check` and
    * REST `GET /healthz` alike. The reference registers SHORT names
    * ("PipelineService"); the full proto names are accepted too so
    * `grpc_health_probe -service=api.v1.X` works.
    */
  val HealthServices: Set[String] = {
    val full = Set(ServiceName, ConnectorServiceName, ProcessorServiceName,
      InformationServiceName)
    full ++ full.map(_.stripPrefix("api.v1."))
  }

  /** Short-name aliases `Runner.source`/`Runner.write` accept beside
    * the canonical catalogue names. */
  val ConnectorAliases: Map[String, String] = Map(
    "generator" -> "builtin:generator",
    "file" -> "builtin:file",
    "kafka" -> "builtin:kafka",
    "jdbc" -> "builtin:postgres",
    "s3" -> "builtin:s3",
    "log" -> "builtin:log",
    "console" -> "builtin:log",
    "null" -> "noop",
    "/dev/null" -> "noop")

  /** Connector plugin catalogue: name → (served types, required
    * settings) — the facade's ListConnectorPlugins/Validate vocabulary
    * (reference `api.proto:824,921`). Derived from the single
    * source of truth, [[graft.ops.PluginCatalog.connectors]] (which
    * mirrors `Runner.source`/`Runner.write`'s dispatch), plus the
    * alias rows — so the gRPC facade, the REST listing, and the doc
    * cannot drift apart. */
  val ConnectorPlugins: Map[String, (Seq[String], Seq[String])] = {
    val canon = graft.ops.PluginCatalog.connectors
      .map(e => e.plugin -> (e.kinds, e.validateRequired)).toMap
    canon ++ ConnectorAliases.map { case (alias, target) =>
      alias -> canon(target) }
  }

  /** gRPC marshaller for the JSON codec: message bytes are UTF-8
    * JSON, surfaced to handlers as strings. */
  private object JsonMarshaller extends MethodDescriptor.Marshaller[String] {
    override def stream(value: String): InputStream =
      new ByteArrayInputStream(value.getBytes(UTF_8))
    override def parse(stream: InputStream): String =
      new String(stream.readAllBytes(), UTF_8)
  }

  /** Descriptor for `api.v1.PipelineService/<name>` — shared by the
    * server and [[client]] so both ends agree on the codec. */
  def methodOf(name: String): MethodDescriptor[String, String] =
    methodOf(ServiceName, name)

  def methodOf(service: String, name: String): MethodDescriptor[String, String] =
    MethodDescriptor.newBuilder[String, String]()
      .setType(MethodDescriptor.MethodType.UNARY)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName(service, name))
      .setRequestMarshaller(JsonMarshaller)
      .setResponseMarshaller(JsonMarshaller)
      .build()

  def streamMethodOf(service: String, name: String): MethodDescriptor[String, String] =
    MethodDescriptor.newBuilder[String, String]()
      .setType(MethodDescriptor.MethodType.SERVER_STREAMING)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName(service, name))
      .setRequestMarshaller(JsonMarshaller)
      .setResponseMarshaller(JsonMarshaller)
      .build()

  /** Minimal blocking client (one unary call per invocation). */
  final class Client(channel: ManagedChannel) {
    def call(method: String, requestJson: String): String =
      call(ServiceName, method, requestJson)
    def call(service: String, method: String, requestJson: String): String =
      ClientCalls.blockingUnaryCall(
        channel, methodOf(service, method), CallOptions.DEFAULT, requestJson)
    /** Collect a server-streaming call to completion. */
    def stream(service: String, method: String,
               requestJson: String): Seq[String] = {
      val it = ClientCalls.blockingServerStreamingCall(
        channel, streamMethodOf(service, method), CallOptions.DEFAULT,
        requestJson)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }
    def close(): Unit = channel.shutdownNow()
  }

  def inProcessClient(name: String): Client =
    new Client(InProcessChannelBuilder.forName(name).directExecutor().build())
}
