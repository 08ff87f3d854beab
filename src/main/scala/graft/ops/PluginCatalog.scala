package graft.ops

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import Plugins.{opt, req}
import Registry.{Setting, entries}

/** Generated plugin catalogue: renders [[Registry.entries]] (one per
  * named processor plugin, with its settings and a runnable YAML
  * snippet) and the connector catalogue. `main` renders `PLUGINS.md`;
  * the suite regenerates and diffs it AND asserts every example
  * constructs through [[Registry.create]] — so the doc cannot rot (the
  * Spark-side equivalent of the reference's generated
  * `exampleutil/specs/` JSON files, reference
  * `pkg/plugin/processor/builtin/registry.go`).
  */
object PluginCatalog {

  /** One connector plugin: its summary plus the source-side and
    * destination-side settings ([[graft.pipeline.Runner.source]] /
    * `Runner.write` are the ground truth). Empty source settings =
    * destination-only, and vice versa.
    */
  final case class ConnectorEntry(plugin: String, summary: String,
                                  kinds: Seq[String],
                                  sourceSettings: Seq[Setting],
                                  destSettings: Seq[Setting]) {
    require(kinds.nonEmpty && kinds.forall(Set("source", "destination")),
      s"$plugin: kinds=$kinds")
    /** Settings `Validate` enforces: required on EVERY served kind
      * (a source-only required key must not fail a destination
      * validate), excluding patterned keys like `format.options.<f>`.
      */
    def validateRequired: Seq[String] = kinds
      .map {
        case "source" => sourceSettings.filter(_.required).map(_.name).toSet
        case _ => destSettings.filter(_.required).map(_.name).toSet
      }
      .reduce(_ intersect _).filterNot(_.contains("<")).toSeq.sorted
  }

  /** Connector catalogue (reference parity surface:
    * `ConnectorPluginSpecifications` with source_params /
    * destination_params — `proto/api/v1/api.proto:196-218`).
    */
  val connectors: Seq[ConnectorEntry] = Seq(
    ConnectorEntry("builtin:generator",
      "Synthetic record generator (rate-limited, typed payload fields).",
      Seq("source"),
      Seq(req("format.options.<name>", "int",
          "payload field types: int|string|time|bool|duration"),
        opt("recordCount", "-1", "-1 = unbounded"),
        opt("rate", "0", "records/second; 0 = unthrottled"),
        opt("format.type", "structured"),
        opt("operations", "create"),
        opt("collections.<name>.format.options.<f>", "",
          "per-collection payload schemas")),
      Nil),
    ConnectorEntry("builtin:file",
      "Tail one append-only file (source) / append JSON lines (destination).",
      Seq("source", "destination"),
      Seq(req("path", "/var/log/app.log"),
        opt("tail", "false", "force tail mode on a directory path")),
      Seq(req("path", "/data/out"))),
    ConnectorEntry("builtin:kafka",
      "Kafka consumer (source) / producer with per-record topic (destination).",
      Seq("source", "destination"),
      Seq(req("servers", "broker:9092"), req("topics", "events"),
        opt("readFromBeginning", "false")),
      Seq(req("servers", "broker:9092"),
        opt("topic", "{{ index .Metadata \"opencdc.collection\" }}",
          "Go-template over the record"))),
    ConnectorEntry("builtin:postgres",
      "Postgres CDC source (pgoutput / log / query) / keyed-upsert destination.",
      Seq("source", "destination"),
      Seq(req("url", "jdbc:postgresql://db/app"), req("table", "users"),
        opt("slot", "", "logical-replication slot → pgoutput CDC (live-verified)"),
        opt("publication", "", "publication for the pgoutput stream"),
        opt("psql.opts", "", "psql CLI transport, e.g. '-h /sock -U app -d app'"),
        opt("logTable", "", "set for log-based CDC with deletes"),
        opt("cdc.mode", "query", "query | log")),
      Seq(req("url", "jdbc:postgresql://db/app"), req("table", "users"),
        opt("key", "id"))),
    ConnectorEntry("builtin:s3",
      "S3 object reader (one record per object, or parquet) / writer.",
      Seq("source", "destination"),
      Seq(req("aws.bucket", "my-bucket"), opt("prefix", ""),
        opt("format", "", "parquet = columnar mode; default raw objects"),
        opt("aws.accessKeyId", ""), opt("aws.secretAccessKey", ""),
        opt("aws.sessionToken", ""), opt("aws.region", ""),
        opt("aws.url", "", "custom endpoint (MinIO etc.)")),
      Seq(req("aws.bucket", "my-bucket"), opt("prefix", ""),
        opt("format", ""))),
    ConnectorEntry("builtin:log",
      "Log a bounded sample of records to the console (destination only).",
      Seq("destination"), Nil, Seq()),
    ConnectorEntry("parquet",
      "Parquet directory source (batch or streaming) / append destination.",
      Seq("source", "destination"),
      Seq(req("path", "/data/documents.parquet"),
        opt("key", "", "record-key column; default first column")),
      Seq(req("path", "/data/out"))),
    ConnectorEntry("memory",
      "In-memory test sink with a driver-side row cap (destination only).",
      Seq("destination"), Nil, Seq(opt("maxRows", "100000"))),
    ConnectorEntry("noop",
      "Discard records through a distributed no-op write (destination only).",
      Seq("destination"), Nil, Seq()))

  /** Render the connector catalogue as the reference API's
    * `ConnectorPluginSpecifications` JSON (`ListConnectorPlugins`,
    * `GET /v1/connectors/plugins` — reference
    * `proto/api/v1/api.proto:921-926`, spec shape `:196-218`).
    */
  def connectorSpecsJson(nameRegex: Option[String] = None): String =
    specs(connectors, nameRegex)(e => (e.plugin, e.summary)) { (o, e) =>
      o.set[JsonNode]("source_params", params(e.sourceSettings))
      o.set[JsonNode]("destination_params", params(e.destSettings))
    }

  /** Render the catalogue as the reference API's plugin-spec JSON
    * (`ListProcessorPlugins`, `GET /v1/processors/plugins` —
    * reference `proto/api/v1/api.proto:1132-1137`, payload shape
    * `ProcessorPluginSpecifications` at `:221-239` with the
    * `config.v1.Parameter` map: description / default / type /
    * validations). `nameRegex` filters plugins by name like the
    * reference request's `name` field.
    */
  def specsJson(nameRegex: Option[String] = None): String =
    specs(entries, nameRegex)(e => (e.plugin, e.summary)) { (o, e) =>
      o.set[JsonNode]("parameters", params(e.settings))
    }

  /** One JSON array of plugin specs sorted by name, filtered by
    * `nameRegex`; `addParams` appends each spec's parameter maps. */
  private def specs[E](all: Seq[E], nameRegex: Option[String])(
      nameAndSummary: E => (String, String))(
      addParams: (ObjectNode, E) => Unit): String = {
    val mapper = graft.functions.JsonOps.mapper
    val pat = nameRegex.filter(_.nonEmpty)
      .map(java.util.regex.Pattern.compile(_))
    val arr = mapper.getNodeFactory.arrayNode()
    for (((name, summary), e) <- all.map(e => (nameAndSummary(e), e)).sortBy(_._1._1)
         if pat.forall(_.matcher(name).find())) {
      val o = arr.addObject()
      o.put("name", name)
      o.put("summary", summary)
      o.put("description", summary)
      o.put("version", Version)
      o.put("author", "graft")
      addParams(o, e)
    }
    mapper.writeValueAsString(arr)
  }

  /** A `config.v1.Parameter` map: description, default, type and a
    * `TYPE_REQUIRED` validation on required settings. */
  private def params(ss: Seq[Setting]): ObjectNode = {
    val f = graft.functions.JsonOps.mapper.getNodeFactory
    val o = f.objectNode()
    ss.foreach { s =>
      val p = o.putObject(s.name)
      p.put("description", s.doc)
      p.put("default", if (s.required) "" else s.value)
      p.put("type", "TYPE_STRING")
      val vs = p.putArray("validations")
      if (s.required) {
        val v = vs.addObject()
        v.put("type", "TYPE_REQUIRED"); v.put("value", "")
      }
    }
    o
  }

  /** Engine version string served by `/info` and stamped on plugin
    * specs (semver with the "v" prefix, the reference convention). */
  val Version = "v0.16.0"

  /** Render the catalogue as markdown. */
  def renderMarkdown(): String = {
    val sb = new StringBuilder
    sb.append("# Plugin catalogue\n\n")
    sb.append("Generated from `graft.ops.Registry.entries`, the one " +
      "declaration each processor's factory reads its settings through " +
      "— run `sbt \"runMain graft.ops.PluginCatalog\"` to regenerate; " +
      "`PluginCatalogSpec` fails if this file is stale.\n\n")
    sb.append(s"${entries.size} named plugins. Field references use the " +
      "OpenCDC record paths (`.Payload.After.<field>`, `.Key`, " +
      "`.Metadata.<key>`). Custom plugins install via " +
      "`Registry.register` / `Registry.registerTransform`.\n\n")
    sb.append("Tuning the approximate operators (banding recall, IVF " +
      "probe budgets, streaming-sink state, scale factors) is a " +
      "MEASURED exercise: the recall meters and scale probes are " +
      "catalogued in `TOOLS.md`.\n\n")
    sb.append("Template sites (`field.set` values, `error` messages, " +
      "webhook URLs/bodies, kafka topics) accept `{{ ... }}` bodies " +
      "with Go-template pipelines over a sprig-style vocabulary, " +
      "compiled to codegen'd Spark SQL — the piped value is appended " +
      "as the call's last argument, per `text/template`: " +
      "`upper` `lower` `trim` `title` `quote` `squote` `len` " +
      "`nospace` `b64enc` `b64dec` `sha1sum` `sha256sum` " +
      "`default \"d\"` `trunc n` `abbrev n` `substr start end` " +
      "`replace old new` `printf \"fmt\" args...` (Go `%v` renders " +
      "like `%s`), plus `eq`/`ne` prefix comparators, " +
      "`index .Metadata \"k\"`, and any bare Spark SQL expression " +
      "with record-path tokens.\n\n")
    val groups = entries.groupBy(e => e.plugin.split("[.]").head)
    val order = Seq("field", "json", "base64", "avro", "unwrap", "filter",
      "error", "clone", "split", "sql", "webhook", "enrich", "openai",
      "cohere", "ollama", "dedup", "text", "sample", "sketch", "graph",
      "sim", "linkage", "link", "joins", "privacy", "retrieval", "seq",
      "cdc", "dq", "quality", "stats", "ts", "layout", "report", "url",
      "custom")
    require(groups.keySet == order.toSet,
      s"catalogue section order out of date: ${groups.keySet.diff(order.toSet)} / ${order.toSet.diff(groups.keySet)}")
    for (g <- order; e <- groups(g).sortBy(_.plugin)) {
      sb.append(s"## `${e.plugin}`\n\n${e.summary}\n\n")
      if (e.settings.nonEmpty) {
        sb.append("| setting | required | default | notes |\n")
        sb.append("| --- | --- | --- | --- |\n")
        e.settings.foreach { s =>
          val v = if (s.required || s.value.isEmpty) "" else s"`${s.value}`"
          sb.append(s"| `${s.name}` | ${if (s.required) "yes" else "no"} " +
            s"| $v | ${s.doc} |\n")
        }
        sb.append('\n')
      }
      sb.append("```yaml\n")
      sb.append(s"      - plugin: ${e.plugin}\n")
      if (e.example.nonEmpty) {
        sb.append("        settings:\n")
        e.example.toSeq.sortBy(_._1).foreach { case (k, v) =>
          sb.append(s"""          $k: "${v.replace("\"", "\\\"")}"\n""")
        }
      }
      sb.append("```\n\n")
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLUGINS.md"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      renderMarkdown())
    println(s"wrote $out (${entries.size} plugins)")
  }
}
