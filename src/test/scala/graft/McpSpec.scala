package graft

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.pipeline.ControlPlane
import graft.tools.Mcp

/** `graft mcp` — the MCP stdio server (reference
  * `cmd/conduit/root/mcp/mcp.go` + `cmd/conduit/internal/mcp/
  * catalog.go`): JSON-RPC initialize/tools flow, the read/write tool
  * split behind `--allow-mutations`, and a tools/call round trip that
  * starts and stops a real pipeline on an in-process control plane.
  */
class McpSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private val yaml =
    """version: 2.2
      |pipelines:
      |  - id: mcp-demo
      |    connectors:
      |      - id: gen
      |        type: source
      |        plugin: builtin:generator
      |        settings:
      |          format.options.id: int
      |          recordCount: "50"
      |      - id: out
      |        type: destination
      |        plugin: memory
      |""".stripMargin

  private def rpc(method: String, params: String = "{}",
                  id: Int = 1): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"$method","params":$params}"""

  private def call(line: String, base: String = "http://unused",
                   mutations: Boolean = false): JsonNode =
    Mcp.handle(line, base, mutations).getOrElse(
      fail(s"expected a response for: $line"))

  private def toolNames(mutations: Boolean): Seq[String] = {
    val resp = call(rpc("tools/list"), mutations = mutations)
    val arr = resp.get("result").get("tools")
    (0 until arr.size()).map(arr.get(_).get("name").asText())
  }

  test("initialize negotiates version and declares the tools capability") {
    val resp = call(rpc("initialize",
      """{"protocolVersion":"2025-03-26","capabilities":{},
        |"clientInfo":{"name":"spec","version":"0"}}"""
        .stripMargin.replace("\n", "")))
    assert(resp.get("jsonrpc").asText() == "2.0")
    assert(resp.get("id").asInt() == 1)
    val r = resp.get("result")
    assert(r.get("protocolVersion").asText() == "2025-03-26",
      "echoes the client's proposed revision")
    assert(r.get("capabilities").has("tools"))
    assert(r.get("serverInfo").get("name").asText() == "graft")
    // the initialized notification gets NO response (and no error)
    assert(Mcp.handle(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      "http://unused", allowMutations = false).isEmpty)
  }

  test("tools/list: read tools always; write tools only with mutations") {
    val readOnly = toolNames(mutations = false)
    assert(readOnly == Seq("validate", "plan", "list_pipelines", "inspect",
      "list_plugins", "doctor"))
    val withWrites = toolNames(mutations = true)
    assert(withWrites.containsSlice(Seq("apply", "start", "stop")))
    assert(Mcp.tools(true).filter(_.mutates).map(_.name) ==
      Seq("apply", "start", "stop"))
    // every tool carries a JSON-Schema object contract
    val resp = call(rpc("tools/list"), mutations = true)
    val arr = resp.get("result").get("tools")
    (0 until arr.size()).foreach { i =>
      assert(arr.get(i).get("inputSchema").get("type").asText() == "object")
    }
  }

  test("protocol errors: unknown method, unknown tool, parse error") {
    val e1 = call(rpc("resources/list"))
    assert(e1.get("error").get("code").asInt() == -32601)
    val e2 = call(rpc("tools/call", """{"name":"nope","arguments":{}}"""))
    assert(e2.get("error").get("code").asInt() == -32602)
    val e3 = call("{not json")
    assert(e3.get("error").get("code").asInt() == -32700)
    // a mutating tool is UNKNOWN without the operator flag — the
    // reference's "never agent-settable" contract
    val e4 = call(rpc("tools/call", """{"name":"start",
      |"arguments":{"pipeline_id":"x"}}""".stripMargin.replace("\n", "")))
    assert(e4.get("error").get("code").asInt() == -32602)
  }

  test("validate runs offline: ok for good YAML, isError for bad") {
    val good = call(rpc("tools/call",
      s"""{"name":"validate","arguments":{"yaml":${
        JsonOps.mapper.writeValueAsString(yaml)}}}"""))
    assert(!good.get("result").get("isError").asBoolean())
    assert(good.get("result").get("content").get(0).get("text").asText()
      .contains("mcp-demo"))
    val bad = call(rpc("tools/call",
      """{"name":"validate","arguments":{"yaml":"version: 2.2"}}"""))
    assert(bad.get("result").get("isError").asBoolean())
  }

  test("tools/call apply + start + stop drive a real pipeline") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("mcp-ckpt")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val base = s"http://127.0.0.1:$port"
    try {
      val yamlLit = JsonOps.mapper.writeValueAsString(yaml)
      val applied = call(rpc("tools/call",
        s"""{"name":"apply","arguments":{"yaml":$yamlLit}}"""),
        base, mutations = true)
      assert(!applied.get("result").get("isError").asBoolean(),
        applied.toString)
      val started = call(rpc("tools/call",
        """{"name":"start","arguments":{"pipeline_id":"mcp-demo"}}"""),
        base, mutations = true)
      assert(!started.get("result").get("isError").asBoolean(),
        started.toString)
      // listed and observable through the read tools
      val listed = call(rpc("tools/call",
        """{"name":"list_pipelines","arguments":{}}"""), base)
      assert(listed.get("result").get("content").get(0).get("text")
        .asText().contains("mcp-demo"))
      val inspected = call(rpc("tools/call",
        """{"name":"inspect","arguments":{"pipeline_id":"mcp-demo"}}"""),
        base)
      assert(!inspected.get("result").get("isError").asBoolean(),
        inspected.toString)
      val stopped = call(rpc("tools/call",
        """{"name":"stop","arguments":{"pipeline_id":"mcp-demo"}}"""),
        base, mutations = true)
      assert(!stopped.get("result").get("isError").asBoolean(),
        stopped.toString)
    } finally cp.stop()
  }
}
