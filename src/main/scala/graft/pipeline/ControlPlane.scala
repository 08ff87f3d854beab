package graft.pipeline

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.JsonOps
import graft.ops.PluginCatalog

/** The pipeline service — the engine's analogue of the reference's
  * `api.v1.PipelineService` (`proto/api/v1/api.proto`) — and its REST
  * surface (JDK HttpServer: no extra dependencies).
  *
  * This class alone decides what a pipeline-service call does: the
  * import/apply upsert ([[provision]]), the all-new [[create]],
  * [[remove]], the sorted list, the DLQ read and update, and the
  * lifecycle. The REST routes below and [[GrpcControlPlane]]'s
  * PipelineService only parse a request and render the answer.
  *
  * Every REST route is declared once: the pipeline and system routes in
  * [[ControlPlane.Routes]], the gRPC-bridged connector and processor
  * routes in [[ControlPlane.Resources]]. `start` serves both tables and
  * `GET /openapi.json` ([[OpenApi]]) lists them.
  */
class ControlPlane(spark: SparkSession, checkpointRoot: String) {
  import ControlPlane._

  private val configs = new ConcurrentHashMap[String, PipelineConfig]()
  private val queries = new ConcurrentHashMap[String, StreamingQuery]()
  private val supervisors = new ConcurrentHashMap[String, Supervisor]()
  private var server: HttpServer = _

  /** Per-pipeline mutation monitor: config CRUD and lifecycle starts
    * serialize on it, so (a) two concurrent copy-and-mutate updates
    * can't silently lose one write and (b) a StartPipeline can't race
    * a mutation past its isActive guard (the reference serializes the
    * same paths through orchestrator locks,
    * `pkg/orchestrator/pipelines.go:27`). Monitors are never removed —
    * one Object per pipeline id ever seen is noise next to a config. */
  private val locks = new ConcurrentHashMap[String, Object]()
  private def lockFor(id: String): Object =
    locks.computeIfAbsent(id, _ => new Object)

  def registered: Seq[String] = keys(configs)

  def register(p: PipelineConfig): Unit =
    lockFor(p.id).synchronized { configs.put(p.id, p) }

  /** Atomic check-and-replace of a registered config: runs `f` under
    * the pipeline's mutation monitor with the isActive check INSIDE
    * the critical section — the topology-CRUD primitive the gRPC
    * facade builds on. Throws IllegalArgumentException for an unknown
    * id, IllegalStateException while the pipeline runs. */
  def mutate(id: String)(f: PipelineConfig => PipelineConfig): PipelineConfig =
    lockFor(id).synchronized {
      val cfg = configs.get(id)
      require(cfg != null, s"unknown pipeline: $id")
      if (isActive(id)) throw new IllegalStateException(
        s"pipeline $id is running; stop it before changing its configuration")
      val updated = f(cfg)
      configs.put(id, updated)
      updated
    }

  /** The import/apply upsert: new ids register, ids whose config
    * changes are replaced through [[mutate]] (so the running check holds
    * under each id's monitor), identical ones are left alone. Changes
    * nothing and throws [[PipelinesRunning]] when any id whose config
    * would change is running. */
  def provision(ps: Seq[PipelineConfig], verb: String): Unit = {
    val changed = ps.filter(p => configs.get(p.id) != p)
    val running = changed.map(_.id).filter(isActive)
    if (running.nonEmpty) throw new PipelinesRunning(verb, running.sorted)
    changed.foreach(p =>
      if (isRegistered(p.id)) mutate(p.id)(_ => p) else register(p))
  }

  /** Register pipelines that must all be new; rejects the whole set,
    * registering nothing, when an id repeats or already exists. */
  def create(ps: Seq[PipelineConfig]): Unit = {
    require(ps.map(_.id).distinct.size == ps.size,
      s"duplicate ids in request: ${ps.map(_.id).mkString(", ")}")
    val dup = ps.filter(p => isRegistered(p.id))
    require(dup.isEmpty, s"already exists: ${dup.map(_.id).mkString(", ")}")
    ps.foreach(register)
  }

  def startPipeline(id: String): StreamingQuery = lockFor(id).synchronized {
    val cfg = configs.get(id)
    require(cfg != null, s"unknown pipeline: $id")
    queries.get(id) match {
      case q: StreamingQuery if q.isActive => q // start is idempotent
      case _ =>
        stopPipeline(id) // clear a dead query / old supervisor first
        Metrics.inspector(id) // attach a tap
        val q = Runner.start(spark, cfg, s"$checkpointRoot/$id",
          Trigger.ProcessingTime("1 second"))
        queries.put(id, q)
        q
    }
  }

  /** Start under supervision: crash → checkpoint restart with backoff,
    * DEGRADED after maxRetries (reference recovery semantics,
    * `pkg/lifecycle/service.go:238`); status surfaces the supervisor
    * state + restart count. Idempotent: a repeated start returns the
    * running supervisor; a dead one (and any bare query holding the
    * checkpoint) is stopped first, so no supervisor is ever orphaned
    * out of reach of stopPipeline.
    */
  def superviseStart(id: String, maxRetries: Int = 5): Supervisor = lockFor(id).synchronized {
    val cfg = configs.get(id)
    require(cfg != null, s"unknown pipeline: $id")
    supervisors.get(id) match {
      case sup: Supervisor if sup.status == sup.Status.Running => sup
      case _ =>
        stopPipeline(id) // release the checkpoint + drop any stale handle
        Metrics.inspector(id)
        val sup = Supervisor(spark, cfg, s"$checkpointRoot/$id",
          Trigger.ProcessingTime("1 second"), maxRetries = maxRetries).start()
        supervisors.put(id, sup)
        sup
    }
  }

  def stopPipeline(id: String): Unit = {
    Option(supervisors.remove(id)).foreach(_.stop())
    Option(queries.remove(id)).foreach(_.stop())
  }

  /** True when `id` is registered. */
  def isRegistered(id: String): Boolean = configs.get(id) != null

  /** True while the pipeline's streaming query (or supervisor) is
    * live — config mutations against a live pipeline are rejected so
    * status never reports "running" for a config that is not what's
    * executing. A DEGRADED supervisor (retries exhausted, nothing
    * executing) is NOT active: reconfiguring a crashed pipeline is the
    * documented intervention path. */
  def isActive(id: String): Boolean =
    Option(supervisors.get(id)).exists(_.status == "running") ||
      Option(queries.get(id)).exists(_.isActive)

  /** Registered config (null-safe). */
  def config(id: String): Option[PipelineConfig] = Option(configs.get(id))

  /** Stop + unregister; true when the pipeline existed. */
  def remove(id: String): Boolean = lockFor(id).synchronized {
    stopPipeline(id)
    configs.remove(id) != null
  }

  /** Drained inspector sample for a pipeline. */
  def inspect(id: String): Seq[String] =
    Metrics.inspectorFor(id).map(_.drain()).getOrElse(Nil)

  /** Every registered pipeline's status document, sorted by id. */
  def listJson: String = registered.sorted.map(statusJson).mkString("[", ",", "]")

  /** The pipeline's DLQ document; None for an unknown id. */
  def dlqJson(id: String): Option[String] = config(id).map(c => dlqDoc(c.dlq))

  /** Replace the pipeline's DLQ from a `{plugin, windowSize,
    * windowNackThreshold}` object through [[mutate]] (a running query
    * keeps its old DLQ); returns the new DLQ document. */
  def updateDlq(id: String, d: JsonNode): String = {
    val plugin = Option(d.get("plugin")).map(_.asText("builtin:log")).getOrElse("builtin:log")
    def int(name: String) = Option(d.get(name)).map(_.asInt(0)).getOrElse(0)
    dlqDoc(mutate(id)(_.withDlq(plugin, int("windowSize"), int("windowNackThreshold"))).dlq)
  }

  private def dlqDoc(dlq: Option[DlqConfig]): String = dlq match {
    case Some(q) =>
      s"""{"dlq":{"plugin":${jtext(q.plugin)},"windowSize":${q.windowSize},"windowNackThreshold":${q.windowNackThreshold}}}"""
    case None => """{"dlq":null}"""
  }

  /** The pipeline's lifecycle state string (shared by the status
    * document and the Prometheus status gauges). */
  private def stateOf(id: String): String = {
    val sup = supervisors.get(id)
    val q = queries.get(id)
    if (sup != null) sup.status
    else if (q == null) "stopped"
    else if (q.isActive) "running"
    else "terminated"
  }

  /** One pipeline's status document. */
  def statusJson(id: String): String = {
    val sup = supervisors.get(id)
    val restarts = if (sup == null) 0 else sup.restarts
    val snap = Metrics.snapshot(id)
    s"""{"id":${jtext(id)},"status":"${stateOf(id)}","restarts":$restarts,"batches":${snap.batches},"inputRows":${snap.inputRows},"rowsPerSecond":${snap.lastRowsPerSecond}}"""
  }

  /** Terraform-style diff of a provisioning file against the registered
    * state (reference plan/apply): create / update / unchanged, plus
    * registered pipelines the file does not manage.
    */
  def planFor(ps: Seq[PipelineConfig]): String = {
    val (create, existing) = ps.partition(p => configs.get(p.id) == null)
    val (unchanged, update) = existing.partition(p => configs.get(p.id) == p)
    val unmanaged = registered.filterNot(id => ps.exists(_.id == id)).sorted
    def ids(xs: Seq[PipelineConfig]) = jarray(xs.map(_.id))
    s"""{"create":${ids(create)},"update":${ids(update)},""" +
      s""""unchanged":${ids(unchanged)},"unmanaged":${jarray(unmanaged)}}"""
  }

  private def metricsText: String =
    Metrics.prometheus(registered.map(id => id -> stateOf(id)))

  /** The gRPC handler maps the connector and processor routes bridge
    * onto ([[GrpcControlPlane.invokeUnary]]). */
  private lazy val facade = new GrpcControlPlane(this)

  def start(port: Int): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    contexts.foreach(ctx => server.createContext(ctx, ex => serve(ex)))
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  /** Stop every pipeline this control plane started, bare or
    * supervised, then the HTTP server. */
  def stop(): Unit = {
    (keys(queries) ++ keys(supervisors)).distinct.foreach(stopPipeline)
    if (server != null) server.stop(0)
  }

  private def respond(ex: HttpExchange, r: Reply): Unit = {
    val bytes = r.body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", r.contentType)
    ex.sendResponseHeaders(r.code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** The first [[Routes]] entry whose method and path template fit
    * the request handles it (a failing handler → 400), else the
    * [[Resources]] entry whose base the path lies under; none → 404.
    * Every context is served here because HttpServer picks a context
    * by string prefix: `/v1/processors/plugins` also receives
    * `/v1/processors/plugins-etl:p1`, which is a processor id. */
  private def serve(ex: HttpExchange): Unit = {
    val path = segments(ex.getRequestURI.getPath)
    Routes.iterator.flatMap(r => r.bind(ex.getRequestMethod, path).map(r -> _))
      .nextOption() match {
      case Some((r, id)) =>
        respond(ex, try r.handle(this, new Call(ex, id))
          catch { case e: Exception => Reply(400, errorJson(e.getMessage)) })
      case None =>
        Resources.find(r => path.startsWith(segments(r.base)))
          .fold(respond(ex, NotFound))(serveResource(_, ex))
    }
  }

  /** Connector/processor resource routes (reference parity: the
    * gateway's /v1/connectors and /v1/processors HTTP bindings,
    * api.proto:770-1103) — bridged onto the SAME handler maps the gRPC
    * services run, so the REST and gRPC views of a pipeline's topology
    * cannot drift. */
  private def serveResource(r: ResourceDef, ex: HttpExchange): Unit = {
    val c = new Call(ex, "")
    val path = segments(ex.getRequestURI.getPath.stripPrefix(r.base)).toList
    def unary(method: String, req: String) =
      Reply(200, facade.invokeUnary(r.service, method, req))
    def idReq(id: String) = s"""{"id":${jtext(id)}}"""
    val reply = try (ex.getRequestMethod, path) match {
      case ("GET", Nil) => unary(s"List${r.noun}s",
        s"""{"pipeline_id":${jtext(c.param("pipeline_id").getOrElse(""))}}""")
      case ("GET", id :: Nil) => unary(s"Get${r.noun}", idReq(id))
      // proto inspect bindings (api.proto:795,1016,1027) bridged onto
      // the SAME gRPC stream handlers, first drained payload: ?limit= /
      // ?duration_ms= pass through (REST defaults duration_ms low — a
      // GET should return, not hold the connection open like the gRPC
      // stream)
      case ("GET", id :: sub :: Nil) if r.inspectRoutes.contains(sub) =>
        def num(k: String, default: String) =
          c.param(k).filter(_.matches("\\d+")).getOrElse(default)
        val msgs = facade.invokeStreamCollect(r.service, r.inspectRoutes(sub),
          s"""{"id":${jtext(id)},"limit":${num("limit", "100")},"duration_ms":${
            num("duration_ms", "200")}}""")
        Reply(200, msgs.mkString("[", ",", "]"))
      case ("POST", "validate" :: Nil) if r.hasValidate =>
        unary(s"Validate${r.noun}", c.body)
      case ("POST", "validate" :: Nil) =>
        // deliberate: the reference proto defines validation for
        // connectors only (api.proto has no ValidateProcessor) — say
        // so instead of a generic unknown-method fall-through
        Reply(404, s"""{"error":"validation is defined for connectors """ +
          s"""only; ${r.noun.toLowerCase}s have no validate RPC"}""")
      case ("POST", Nil) => unary(s"Create${r.noun}", c.body)
      case ("PUT", id :: Nil) =>
        val n = JsonOps.parseOrEmpty(c.body)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        n.put("id", id)
        unary(s"Update${r.noun}", JsonOps.render(n))
      case ("DELETE", id :: Nil) => unary(s"Delete${r.noun}", idReq(id))
      case _ => NotFound
    } catch {
      case e: NoSuchElementException => Reply(404, errorJson(e.getMessage))
      case e: Exception => Reply(400, errorJson(e.getMessage))
    }
    respond(ex, reply)
  }
}

object ControlPlane {
  /** Provisioning refused: pipelines whose config would change are
    * running. REST answers 409, gRPC FAILED_PRECONDITION. */
  final class PipelinesRunning(verb: String, ids: Seq[String])
      extends IllegalStateException(
        s"pipelines running; stop before $verb: ${ids.mkString(", ")}")

  private[pipeline] def jtext(s: String): String =
    JsonOps.render(JsonOps.mapper.getNodeFactory.textNode(s))
  private def jarray(xs: Seq[String]): String = xs.map(jtext).mkString("[", ",", "]")
  private def errorJson(msg: String): String =
    s"""{"error":${jtext(String.valueOf(msg))}}"""
  private def keys(m: ConcurrentHashMap[String, _]): Seq[String] =
    scala.jdk.CollectionConverters.EnumerationHasAsScala(m.keys()).asScala.toSeq
  private def segments(path: String): Seq[String] =
    path.split("/").toSeq.filter(_.nonEmpty)

  /** Version, OS and architecture — REST `GET /info` and gRPC
    * `InformationService.GetInfo` serve this one document. */
  def infoJson: String =
    s"""{"version":${jtext(PluginCatalog.Version)},"os":${
      jtext(sys.props.getOrElse("os.name", "").toLowerCase)},"arch":${
      jtext(sys.props.getOrElse("os.arch", ""))}}"""

  /** One REST request as a route handler sees it: the `{id}` path
    * segment ("" when the route has none), query parameters, body. */
  final class Call(ex: HttpExchange, val id: String) {
    def body: String =
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    def param(k: String): Option[String] =
      Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
        .find(_.startsWith(s"$k=")).map(q => URLDecoder.decode(q.drop(k.length + 1), "UTF-8"))
  }

  final case class Reply(code: Int, body: String,
                         contentType: String = "application/json")
  private val NotFound = Reply(404, """{"error":"not found"}""")
  private def yaml(body: String) = Reply(200, body, "application/x-yaml")

  /** One REST route: its OpenAPI entry and the handler `start` serves
    * it with. */
  final case class Endpoint(route: OpenApi.Route,
                            handle: (ControlPlane, Call) => Reply) {
    private val template = segments(route.path)

    /** The HttpServer context this route is reached through: its path
      * up to the first parameter. */
    def context: String = "/" + template.takeWhile(_ != "{id}").mkString("/")

    /** The `{id}` segment ("" without one) when the request fits. */
    def bind(method: String, path: Seq[String]): Option[String] =
      if (!method.equalsIgnoreCase(route.method) || path.size != template.size ||
        !template.zip(path).forall { case (t, p) => t == "{id}" || t == p }) None
      else Some(template.indexOf("{id}") match { case -1 => "" case i => path(i) })
  }

  private def at(method: String, path: String, operationId: String,
                 tag: String, summary: String)(
      handle: (ControlPlane, Call) => Reply): Endpoint =
    Endpoint(OpenApi.Route(method, path, operationId, summary, tag), handle)

  /** `POST /v1/pipelines` and `/import`: the upsert, 201 with the ids. */
  private def importYaml(cp: ControlPlane, c: Call): Reply = {
    val ps = Pipeline.fromYaml(c.body)
    try { cp.provision(ps, "import"); Reply(201, s"""{"created":${jarray(ps.map(_.id))}}""") }
    catch { case e: PipelinesRunning => Reply(409, errorJson(e.getMessage)) }
  }

  private def applyYaml(cp: ControlPlane, c: Call): Reply = {
    val ps = Pipeline.fromYaml(c.body)
    val plan = cp.planFor(ps)
    try { cp.provision(ps, "apply"); Reply(200, plan) }
    catch {
      case e: PipelinesRunning =>
        Reply(409, s"""{"error":${jtext(e.getMessage)},"plan":$plan}""")
    }
  }

  private def pluginSpecs(noun: String, specs: Option[String] => String) =
    at("get", s"/v1/${noun}s/plugins", s"List${noun.capitalize}Plugins",
      s"${noun}s", s"${noun.capitalize}-plugin specifications (?name= regex filters)")(
      (_, c) => Reply(200, specs(c.param("name"))))

  /** The pipeline routes and the system routes, each declared once. */
  val Routes: Seq[Endpoint] = Seq(
    at("get", "/v1/pipelines", "ListPipelines", "pipelines",
      "List registered pipelines with status")((cp, _) => Reply(200, cp.listJson)),
    at("post", "/v1/pipelines", "CreatePipeline", "pipelines",
      "Create pipelines from provisioning YAML")(importYaml),
    at("post", "/v1/pipelines/import", "ImportPipelines", "pipelines",
      "Import provisioning YAML (alias of create)")(importYaml),
    at("get", "/v1/pipelines/export", "ExportPipelines", "pipelines",
      "Export all registered pipelines as YAML")(
      (cp, _) => yaml(Pipeline.toYaml(cp.registered.sorted.flatMap(cp.config)))),
    at("post", "/v1/pipelines/plan", "PlanPipelines", "pipelines",
      "Diff provisioning YAML against registered state")(
      (cp, c) => Reply(200, cp.planFor(Pipeline.fromYaml(c.body)))),
    at("post", "/v1/pipelines/apply", "ApplyPipelines", "pipelines",
      "Apply provisioning YAML (register creates and updates)")(applyYaml),
    at("post", "/v1/pipelines/{id}/start", "StartPipeline", "pipelines",
      "Start the pipeline's streaming query (?supervise=true for the " +
        "recovery loop)") { (cp, c) =>
      if (c.param("supervise").contains("true")) cp.superviseStart(c.id)
      else cp.startPipeline(c.id)
      Reply(200, cp.statusJson(c.id))
    },
    at("post", "/v1/pipelines/{id}/stop", "StopPipeline", "pipelines",
      "Stop the pipeline") { (cp, c) =>
      cp.stopPipeline(c.id)
      Reply(200, cp.statusJson(c.id))
    },
    at("get", "/v1/pipelines/{id}/status", "GetPipelineStatus", "pipelines",
      "Lifecycle state, restart count and metrics snapshot")(
      (cp, c) => Reply(200, cp.statusJson(c.id))),
    at("get", "/v1/pipelines/{id}/export", "ExportPipeline", "pipelines",
      "Export one pipeline as YAML")(
      (cp, c) => cp.config(c.id).map(p => yaml(Pipeline.toYaml(Seq(p)))).getOrElse(NotFound)),
    at("get", "/v1/pipelines/{id}/inspect", "InspectPipeline", "pipelines",
      "Drain the pipeline's inspector tap sample")(
      (cp, c) => Reply(200, cp.inspect(c.id).mkString("[", ",", "]"))),
    // reference parity: GetDLQ/UpdateDLQ, proto/api/v1/api.proto:520-531
    at("get", "/v1/pipelines/{id}/dead-letter-queue", "GetDLQ", "pipelines",
      "Dead-letter-queue configuration")(
      (cp, c) => cp.dlqJson(c.id).map(Reply(200, _)).getOrElse(NotFound)),
    at("put", "/v1/pipelines/{id}/dead-letter-queue", "UpdateDLQ", "pipelines",
      "Update dead-letter-queue configuration") { (cp, c) =>
      val n = JsonOps.parse(c.body)
      Reply(200, cp.updateDlq(c.id, Option(n.get("dlq")).getOrElse(n))) // {dlq:{...}} or bare
    },
    at("delete", "/v1/pipelines/{id}", "DeletePipeline", "pipelines",
      "Stop and unregister the pipeline") { (cp, c) =>
      val existed = cp.remove(c.id)
      Reply(if (existed) 200 else 404, s"""{"deleted":$existed}""")
    },
    // reference parity: ListProcessorPlugins / ListConnectorPlugins,
    // api.proto:921-926,1132-1137 (spec shapes :196-239)
    pluginSpecs("processor", PluginCatalog.specsJson),
    pluginSpecs("connector", PluginCatalog.connectorSpecsJson),
    // reference parity: the gateway maps the gRPC health service to
    // GET /healthz[?service=X] (pkg/conduit/runtime.go:946)
    at("get", "/healthz", "Healthz", "system",
      "Health of the server and its API services (?service= checks one)") { (_, c) =>
      val svc = c.param("service").getOrElse("")
      if (svc.isEmpty || GrpcControlPlane.HealthServices(svc))
        Reply(200, """{"status":"SERVING"}""")
      else Reply(404, errorJson(s"service '$svc' not found"))
    },
    // reference parity: the runtime serves promhttp at /metrics
    // (pkg/conduit/runtime.go:51,73), rendered without a client library
    at("get", "/metrics", "Metrics", "system",
      "Prometheus text exposition of the engine's counters") { (cp, _) =>
      try Reply(200, cp.metricsText, "text/plain; version=0.0.4; charset=utf-8")
      catch { case e: Exception => Reply(500, errorJson(e.getMessage)) }
    },
    at("get", "/info", "GetInfo", "system", "Version, OS and architecture")(
      (_, _) => Reply(200, infoJson)),
    // reference parity: swagger JSON + UI at /openapi
    // (pkg/http/openapi/openapi.go:31, pkg/conduit/runtime.go:974-983)
    at("get", "/openapi.json", "OpenApiDocument", "system", "This document")(
      (_, _) => Reply(200, OpenApi.documentJson)),
    at("get", "/openapi", "OpenApiExplorer", "system",
      "Self-contained HTML API explorer")(
      (_, _) => Reply(200, OpenApi.explorerHtml, "text/html; charset=utf-8")))

  /** One gRPC-bridged REST resource: the base path, the gRPC service
    * its handlers live on, the noun its method names are built from,
    * whether the proto defines a Validate RPC for it (connectors
    * only), and its inspect sub-routes (sub-path → stream method).
    * `start()` registers handlers from this table and
    * [[OpenApi.routes]] renders the document from it — one
    * definition, two views.
    */
  final case class ResourceDef(base: String, service: String, noun: String,
                               hasValidate: Boolean,
                               inspectRoutes: Map[String, String])

  val Resources: Seq[ResourceDef] = Seq(
    ResourceDef("/v1/connectors", GrpcControlPlane.ConnectorServiceName,
      "Connector", hasValidate = true,
      inspectRoutes = Map("inspect" -> "InspectConnector")),
    ResourceDef("/v1/processors", GrpcControlPlane.ProcessorServiceName,
      "Processor", hasValidate = false,
      inspectRoutes = Map("inspect-in" -> "InspectProcessorIn",
        "inspect-out" -> "InspectProcessorOut")))

  /** Every HttpServer context `start` registers. */
  def contexts: Seq[String] = Routes.map(_.context).distinct ++ Resources.map(_.base)
}
