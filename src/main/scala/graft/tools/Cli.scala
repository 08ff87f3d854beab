package graft.tools

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode

import graft.functions.JsonOps

/** Admin CLI against a running control plane — the engine's analogue
  * of the reference's cobra command surface (`cmd/conduit/root/`:
  * `pipelines ls|describe|start|stop`, provisioning plan/apply,
  * `connectors/processors ls`, `doctor`-style health, `version`).
  * Speaks the REST facade ([[graft.pipeline.ControlPlane]]); the
  * server address comes from `--api <url>` or `GRAFT_API` (default
  * `http://127.0.0.1:8080`). `graft run <yaml>` — the reference's
  * `conduit run` — stays on [[RunPipeline]] and is delegated to it.
  *
  * Commands:
  * {{{
  *   pipelines ls                      id, state, restarts, rows
  *   pipelines describe <id>           status JSON + provisioning YAML
  *   pipelines start <id> [--supervise]
  *   pipelines stop <id>
  *   pipelines delete <id>
  *   pipelines plan <file.yaml>        diff against registered state
  *   pipelines apply <file.yaml>       register creates + updates
  *   connectors ls                     id, type, plugin (all pipelines)
  *   connectors describe <pid:cid>     full connector doc JSON
  *   processors ls                     id, plugin, parent, workers
  *   processors describe <pid:procid>  full processor doc JSON
  *   init [file.yaml]                  write a commented template pipeline
  *   doctor                            reachability + health checklist
  *   plugins ls [regex]                processor + connector plugins
  *   plugins describe <name>           full spec of one plugin
  *   config                            effective runtime config + provenance
  *   healthz [service]
  *   version
  *   run <file.yaml> [--serve]         delegates to graft.tools.RunPipeline
  *   mcp [--allow-mutations]           delegates to graft.tools.Mcp
  * }}}
  *
  * Exit codes: 0 success, 1 remote/HTTP error, 2 usage error.
  * `main` prints the output; [[run]] returns (exit code, output) so
  * CliSpec drives every command against an in-process control plane.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("run")) {
      // conduit run — the one command that embeds the engine instead
      // of calling a server; RunPipeline owns the SparkSession
      RunPipeline.main(args.drop(1))
      return
    }
    if (args.headOption.contains("mcp")) {
      // conduit mcp — a long-running stdio server, not a one-shot
      // request/response command; Mcp owns the loop
      Mcp.main(args.drop(1))
      return
    }
    val (code, out) = run(args, apiFrom(args))
    println(out)
    if (code != 0) sys.exit(code)
  }

  private[graft] def apiFrom(args: Array[String]): String = {
    val i = args.indexOf("--api")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else sys.env.getOrElse("GRAFT_API", "http://127.0.0.1:8080")
  }

  /** Dispatch one command line against `baseUrl`; pure in/out so the
    * spec asserts on it. `--api <url>` pairs are stripped first.
    */
  def run(args0: Array[String], baseUrl: String): (Int, String) = {
    val args = stripFlag(args0.toList, "--api", hasValue = true)
    args match {
      case "pipelines" :: rest => pipelines(rest, baseUrl)
      case "plugins" :: "ls" :: rest => pluginsLs(rest, baseUrl)
      case "plugins" :: "describe" :: name :: Nil =>
        pluginsDescribe(name, baseUrl)
      case "connectors" :: rest =>
        resource(rest, baseUrl, "/v1/connectors", "connectors", "connector",
          Seq("ID", "TYPE", "PLUGIN"),
          n => Seq(n.get("id").asText(), n.get("type").asText(),
            n.get("plugin").asText()))
      case "processors" :: rest =>
        resource(rest, baseUrl, "/v1/processors", "processors", "processor",
          Seq("ID", "PLUGIN", "PARENT", "WORKERS"),
          n => Seq(n.get("id").asText(), n.get("plugin").asText(),
            Option(n.get("parent_connector_id")).map(_.asText())
              .getOrElse("-"),
            n.get("workers").asInt().toString))
      case "init" :: rest =>
        // reference parity: `conduit init` / `pipelines init` write a
        // commented starter file the user edits, no server involved
        val target = Paths.get(rest.headOption.getOrElse("pipeline.yaml"))
        if (Files.exists(target))
          (1, s"refusing to overwrite existing ${target}")
        else {
          Files.writeString(target, initTemplate)
          (0, s"wrote ${target} — edit it, then: graft pipelines " +
            s"apply ${target} && graft pipelines start demo-pipeline")
        }
      case "doctor" :: Nil =>
        // reference parity: `conduit doctor` — a reachability and
        // health checklist a user pastes into a bug report
        val checks = Seq(
          "reachable" -> get(baseUrl, "/info"),
          "healthz" -> get(baseUrl, "/healthz"),
          "pipelines api" -> get(baseUrl, "/v1/pipelines"),
          "processor plugins" -> get(baseUrl, "/v1/processors/plugins"),
          "connector plugins" -> get(baseUrl, "/v1/connectors/plugins"),
          "openapi" -> get(baseUrl, "/openapi.json"))
        val lines = checks.map {
          case (name, Right(_)) => s"ok    $name"
          case (name, Left((_, msg))) => s"FAIL  $name — $msg"
        }
        val ok = checks.forall(_._2.isRight)
        ((if (ok) 0 else 1),
          (s"graft ${graft.ops.PluginCatalog.Version} → $baseUrl" +:
            lines).mkString("\n"))
      case "healthz" :: rest =>
        val q = rest.headOption.map(s => s"?service=$s").getOrElse("")
        get(baseUrl, s"/healthz$q").map { body =>
          (0, JsonOps.parse(body).get("status").asText())
        }.merge
      case "config" :: Nil =>
        (0, renderConfig(effectiveConfig(args0, sys.env)))
      case "version" :: Nil =>
        // local build version always; server info when reachable
        // (the reference's `conduit version` prints the client build)
        val local = s"graft ${graft.ops.PluginCatalog.Version}"
        get(baseUrl, "/info") match {
          case Right(body) =>
            val n = JsonOps.parse(body)
            (0, s"$local\nserver ${n.get("version").asText()} (${
              n.get("os").asText()}/${n.get("arch").asText()})")
          case Left(_) => (0, local)
        }
      case _ => (2, usage)
    }
  }

  private def pipelines(rest: List[String], baseUrl: String): (Int, String) =
    rest match {
      case "ls" :: Nil =>
        get(baseUrl, "/v1/pipelines").map { body =>
          val items = JsonOps.parse(body)
          val rows = (0 until items.size()).map(items.get).map(n =>
            Seq(n.get("id").asText(), n.get("status").asText(),
              n.get("restarts").asLong().toString,
              n.get("inputRows").asLong().toString))
          (0, table(Seq("ID", "STATE", "RESTARTS", "ROWS"), rows))
        }.merge
      case "describe" :: id :: Nil =>
        (for {
          status <- get(baseUrl, s"/v1/pipelines/$id/status")
          yaml <- get(baseUrl, s"/v1/pipelines/$id/export")
        } yield (0, s"$status\n$yaml")).merge
      case "start" :: id :: flags =>
        val q = if (flags.contains("--supervise")) "?supervise=true" else ""
        post(baseUrl, s"/v1/pipelines/$id/start$q", "").map((0, _)).merge
      case "stop" :: id :: Nil =>
        post(baseUrl, s"/v1/pipelines/$id/stop", "").map((0, _)).merge
      case "delete" :: id :: Nil =>
        send(baseUrl, "DELETE", s"/v1/pipelines/$id", "").map((0, _)).merge
      case verb :: file :: Nil if verb == "plan" || verb == "apply" =>
        val p = Paths.get(file)
        if (!Files.exists(p)) (2, s"no such file: $file")
        else post(baseUrl, s"/v1/pipelines/$verb",
          Files.readString(p)).map((0, _)).merge
      case _ => (2, usage)
    }

  /** `connectors ls|describe` / `processors ls|describe` — the
    * reference's `cmd/conduit/root/connectors/{list,describe}.go` and
    * `processors/` equivalents, over the already-bridged REST
    * resources (list = the wrapped array under `field`, describe =
    * the `pid:id` composite the docs carry).
    */
  private def resource(rest: List[String], baseUrl: String, base: String,
                       field: String, noun: String, header: Seq[String],
                       row: JsonNode => Seq[String]): (Int, String) =
    rest match {
      case "ls" :: Nil =>
        get(baseUrl, base).map { body =>
          val arr = JsonOps.parse(body).get(field)
          val rows = (0 until arr.size()).map(i => row(arr.get(i)))
          (0, table(header, rows))
        }.merge
      case "describe" :: id :: Nil =>
        get(baseUrl, s"$base/$id").map { body =>
          (0, pretty(JsonOps.parse(body).get(noun)))
        }.merge
      case _ => (2, usage)
    }

  /** `plugins describe <name>` — the reference's
    * `connectorplugins/describe.go` + `processorplugins/describe.go`:
    * the full spec (summary, params) of one plugin by exact name.
    * Client-side exact match over both catalogues, so plugin names
    * containing regex metacharacters need no escaping.
    */
  private def pluginsDescribe(name: String,
                              baseUrl: String): (Int, String) =
    (for {
      procs <- get(baseUrl, "/v1/processors/plugins")
      conns <- get(baseUrl, "/v1/connectors/plugins")
    } yield {
      def find(body: String, kind: String): Seq[String] = {
        val arr = JsonOps.parse(body)
        if (arr == null || !arr.isArray) Nil
        else (0 until arr.size()).map(arr.get)
          .filter(n => nameOf(n) == name)
          .map(n => s"# $kind\n${pretty(n)}")
      }
      val hits = find(procs, "processor") ++ find(conns, "connector")
      if (hits.isEmpty) (1, s"no such plugin: $name")
      else (0, hits.mkString("\n"))
    }).merge

  /** One effective runtime setting: dotted path, resolved value, and
    * WHERE the value came from (`default` / `env NAME` / `flag
    * --name`) — the reference's `conduit config` contract
    * (`cmd/conduit/root/config/config.go`: defaults merged with file,
    * env and flags, printed as `path: value`), with the provenance
    * column added because "which layer won" is the question the
    * command exists to answer.
    */
  final case class Setting(path: String, value: String, source: String,
                           doc: String)

  /** The engine's full runtime-configuration surface. Every knob a
    * graft binary reads is listed — api address (Cli), Spark
    * parallelism + shuffle partitions (RunPipeline/tools), checkpoint
    * root (RunPipeline, position persistence), data dir + streaming
    * batch size (bench/probe tools), and the registry/build version.
    * `env` is injected for testability; flags are read from the raw
    * argv (only `--api` carries config today).
    */
  private[graft] def effectiveConfig(
      args: Array[String], env: Map[String, String]): Seq[Setting] = {
    def resolve(path: String, doc: String, default: String,
                envKey: String, flag: Option[String] = None): Setting = {
      val flagVal = flag.flatMap { f =>
        val i = args.indexOf(f)
        if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
      }
      flagVal.map(v => Setting(path, v, s"flag ${flag.get}", doc))
        .orElse(env.get(envKey).map(v => Setting(path, v, s"env $envKey", doc)))
        .getOrElse(Setting(path, default, "default", doc))
    }
    Seq(
      resolve("api.url", "control-plane address the CLI talks to",
        "http://127.0.0.1:8080", "GRAFT_API", Some("--api")),
      resolve("spark.cpus", "local[] parallelism for graft run",
        "4", "SPARK_GRAFT_CPUS"),
      resolve("pipelines.checkpoint.root",
        "position-store root (unset: fresh temp dir, no resume)",
        "<temp dir>", "GRAFT_CKPT"),
      resolve("data.dir", "parquet table dir for bench/probe tools",
        "/root/testdata/sf0.1", "SPARK_GRAFT_SF_DIR"),
      resolve("stream.batch.records",
        "generator records per micro-batch (throughput tools)",
        "2000000", "SPARK_GRAFT_BATCH"),
      resolve("stream.ordered", "order guarantee: \"\" | key | global",
        "", "SPARK_GRAFT_ORDERED"),
      Setting("version", graft.ops.PluginCatalog.Version, "build",
        "engine build version"))
  }

  private def renderConfig(settings: Seq[Setting]): String =
    settings.map { s =>
      val v = if (s.value.isEmpty) "\"\"" else s.value
      s"${s.path}: $v  (${s.source})\n    # ${s.doc}"
    }.mkString("\n")

  private def pretty(n: JsonNode): String =
    JsonOps.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)

  private def pluginsLs(rest: List[String], baseUrl: String): (Int, String) = {
    val q = rest.headOption.map(r => s"?name=${URLEncoder.encode(r, UTF_8)}").getOrElse("")
    (for {
      procs <- get(baseUrl, s"/v1/processors/plugins$q")
      conns <- get(baseUrl, s"/v1/connectors/plugins$q")
    } yield {
      // both endpoints serve the specs as a bare JSON array
      def names(body: String): Seq[String] = {
        val arr = JsonOps.parse(body)
        if (arr == null || !arr.isArray) Nil
        else (0 until arr.size()).map(i => nameOf(arr.get(i)))
      }
      val rows = names(procs).map(n => Seq(n, "processor")) ++
        names(conns).map(n => Seq(n, "connector"))
      (0, table(Seq("NAME", "KIND"), rows))
    }).merge
  }

  private def nameOf(spec: JsonNode): String =
    Option(spec.get("name")).map(_.asText()).getOrElse(spec.asText())

  // ---- HTTP + rendering ------------------------------------------------

  private[tools] lazy val client = HttpClient.newHttpClient()

  private[tools] def get(base: String, path: String): Either[(Int, String), String] =
    send(base, "GET", path, "")

  private[tools] def post(base: String, path: String,
                   body: String): Either[(Int, String), String] =
    send(base, "POST", path, body)

  private[tools] def send(base: String, method: String, path: String,
                   body: String): Either[(Int, String), String] =
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() / 100 == 2) Right(r.body())
      else Left((1, s"HTTP ${r.statusCode()}: ${r.body()}"))
    } catch {
      case e: Exception =>
        Left((1, s"cannot reach control plane at $base: ${e.getMessage}"))
    }

  private def table(header: Seq[String], rows: Seq[Seq[String]]): String = {
    val all = header +: rows
    val widths = header.indices.map(i => all.map(_(i).length).max)
    def fmt(r: Seq[String]): String =
      r.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("  ").stripTrailing()
    all.map(fmt).mkString("\n")
  }

  private def stripFlag(args: List[String], flag: String,
                        hasValue: Boolean): List[String] = args match {
    case `flag` :: _ :: rest if hasValue => stripFlag(rest, flag, hasValue)
    case `flag` :: rest => stripFlag(rest, flag, hasValue)
    case a :: rest => a :: stripFlag(rest, flag, hasValue)
    case Nil => Nil
  }

  private implicit class MergeEither(
      val e: Either[(Int, String), (Int, String)]) extends AnyVal {
    def merge: (Int, String) = e.fold(identity, identity)
  }

  /** The `init` starter file: one source → one processor → one sink,
    * every line a thing the user will actually edit. */
  private val initTemplate: String =
    """# graft pipeline — edit, then:
      |#   graft pipelines apply <this file>
      |#   graft pipelines start demo-pipeline
      |# Plugin names and settings: see PLUGINS.md (`graft plugins ls`).
      |version: "2.2"
      |pipelines:
      |  - id: demo-pipeline
      |    status: running
      |    name: demo-pipeline
      |    description: starter pipeline — generator to log
      |    connectors:
      |      - type: source
      |        id: in
      |        plugin: builtin:generator
      |        settings:
      |          format.options.id: int
      |          recordCount: "100"
      |      - type: destination
      |        id: out
      |        plugin: builtin:log
      |    processors:
      |      - id: annotate
      |        plugin: field.set
      |        settings:
      |          field: .Payload.After.source
      |          value: demo
      |""".stripMargin

  private val usage: String =
    """usage: graft [--api URL] <command>
      |
      |  pipelines ls                     list pipelines
      |  pipelines describe <id>          status + provisioning YAML
      |  pipelines start <id> [--supervise]
      |  pipelines stop <id>
      |  pipelines delete <id>
      |  pipelines plan <file.yaml>       diff vs registered state
      |  pipelines apply <file.yaml>      register creates + updates
      |  connectors ls                    connectors across all pipelines
      |  connectors describe <pid:cid>    full connector doc JSON
      |  processors ls                    processors across all pipelines
      |  processors describe <pid:procid> full processor doc JSON
      |  init [file.yaml]                 write a starter pipeline file
      |  doctor                           reachability + health checklist
      |  plugins ls [regex]               processor + connector plugins
      |  plugins describe <name>          full spec of one plugin
      |  config                           effective runtime configuration
      |  healthz [service]
      |  version
      |  run <file.yaml> [--serve]        run a pipeline in-process
      |  mcp [--allow-mutations]          MCP server on stdio (AI agents)
      |
      |GRAFT_API overrides the default http://127.0.0.1:8080.""".stripMargin
}
