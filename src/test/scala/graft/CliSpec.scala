package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.pipeline.ControlPlane
import graft.tools.Cli

/** Drives every admin-CLI command against an in-process control plane
  * (reference parity: `cmd/conduit/root/` — pipelines ls/describe/
  * start/stop, plan/apply, plugin listing, health, version).
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private val yaml =
    """version: 2.2
      |pipelines:
      |  - id: cli-demo
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
      |    processors:
      |      - id: note
      |        plugin: field.set
      |        settings:
      |          field: .Payload.After.note
      |          value: x
      |""".stripMargin

  test("the full command surface against an in-process control plane") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cli-ckpt")
    val cp = new ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val base = s"http://127.0.0.1:$port"
    val file = SpecSupport.tempFile("cli", ".yaml")
    java.nio.file.Files.writeString(file, yaml)
    try {
      // apply a provisioning file, then plan shows it unchanged
      val (ac, aout) = Cli.run(Array("pipelines", "apply", file.toString), base)
      assert(ac == 0, aout)
      assert(aout.contains("cli-demo"), aout)
      val (pc, pout) = Cli.run(Array("pipelines", "plan", file.toString), base)
      assert(pc == 0 && pout.contains("\"unchanged\":[\"cli-demo\"]"), pout)

      // ls renders a table with the pipeline and its state
      val (lc, lout) = Cli.run(Array("pipelines", "ls"), base)
      assert(lc == 0, lout)
      assert(lout.linesIterator.next().startsWith("ID"), lout)
      assert(lout.contains("cli-demo") && lout.contains("stopped"), lout)

      // describe = status JSON + provisioning YAML
      val (dc, dout) = Cli.run(Array("pipelines", "describe", "cli-demo"), base)
      assert(dc == 0, dout)
      assert(dout.contains("\"status\"") && dout.contains("builtin:generator"),
        dout)

      // start → running/terminated; stop → stopped
      val (sc, sout) = Cli.run(Array("pipelines", "start", "cli-demo"), base)
      assert(sc == 0, sout)
      assert(sout.contains("running") || sout.contains("terminated"), sout)
      val (tc, tout) = Cli.run(Array("pipelines", "stop", "cli-demo"), base)
      assert(tc == 0 && tout.contains("stopped"), tout)

      // plugins ls: both kinds, regex filters
      val (gc, gout) = Cli.run(Array("plugins", "ls"), base)
      assert(gc == 0, gout)
      assert(gout.contains("processor") && gout.contains("connector"), gout)
      assert(gout.contains("base64.encode") &&
        gout.contains("builtin:generator"), gout)
      val (fc, fout) = Cli.run(Array("plugins", "ls", "winnow"), base)
      assert(fc == 0 && fout.contains("dedup.winnow") &&
        !fout.contains("base64.encode"), fout)

      // connectors / processors ls + describe across the registered
      // pipeline (reference: connectors/list.go, describe.go)
      val (clc, clout) = Cli.run(Array("connectors", "ls"), base)
      assert(clc == 0, clout)
      assert(clout.contains("cli-demo:gen") && clout.contains("source") &&
        clout.contains("builtin:generator"), clout)
      val (cdc2, cdout) = Cli.run(
        Array("connectors", "describe", "cli-demo:gen"), base)
      assert(cdc2 == 0, cdout)
      assert(cdout.contains("\"gen\"") &&
        cdout.contains("builtin:generator"), cdout)
      val (plc, plout) = Cli.run(Array("processors", "ls"), base)
      assert(plc == 0, plout)
      assert(plout.contains("cli-demo:note") && plout.contains("field.set"),
        plout)
      val (pdc, pdout) = Cli.run(
        Array("processors", "describe", "cli-demo:note"), base)
      assert(pdc == 0 && pdout.contains("field.set"), pdout)
      assert(Cli.run(Array("connectors", "describe", "no:such"), base)._1 == 1)

      // plugins describe: the full spec by exact name, both kinds;
      // regex metacharacters in the name need no escaping
      val (sdc, sdout) = Cli.run(
        Array("plugins", "describe", "base64.encode"), base)
      assert(sdc == 0, sdout)
      assert(sdout.contains("# processor") && sdout.contains("base64.encode"),
        sdout)
      val (gdc, gdout) = Cli.run(
        Array("plugins", "describe", "builtin:generator"), base)
      assert(gdc == 0 && gdout.contains("# connector"), gdout)
      assert(Cli.run(Array("plugins", "describe", "nope"), base)._1 == 1)

      // healthz, overall and per-service
      assert(Cli.run(Array("healthz"), base) == ((0, "SERVING")))
      assert(Cli.run(Array("healthz", "PipelineService"), base) ==
        ((0, "SERVING")))

      // version: local build + reachable server
      val (vc, vout) = Cli.run(Array("version"), base)
      assert(vc == 0, vout)
      assert(vout.startsWith("graft ") && vout.contains("server "), vout)

      // --api flag wins over the environment default, and run() strips
      // the pair before dispatch
      assert(Cli.apiFrom(Array("--api", base, "healthz")) == base)
      val (xc, xout) = Cli.run(Array("--api", base, "healthz"), base)
      assert(xc == 0 && xout == "SERVING")

      // delete removes the pipeline
      val (delc, delout) = Cli.run(Array("pipelines", "delete", "cli-demo"), base)
      assert(delc == 0 && delout.contains("true"), delout)
      assert(!Cli.run(Array("pipelines", "ls"), base)._2.contains("cli-demo"))

      // init writes a parseable starter file whose processors
      // instantiate; a second init refuses to overwrite
      val tpl = java.nio.file.Paths.get(Fences.tempDir("cli-init"))
        .resolve("starter.yaml")
      val (ic, iout) = Cli.run(Array("init", tpl.toString), base)
      assert(ic == 0 && iout.contains("apply"), iout)
      val cfgs = graft.pipeline.Pipeline.fromYaml(
        java.nio.file.Files.readString(tpl))
      assert(cfgs.map(_.id) == Seq("demo-pipeline"))
      cfgs.head.processors.foreach(p =>
        assert(graft.ops.Registry.create(p.plugin, p.settings) != null))
      assert(Cli.run(Array("init", tpl.toString), base)._1 == 1)

      // doctor: all-ok against the live server, FAIL + exit 1 when
      // the server is gone
      val (okc, okout) = Cli.run(Array("doctor"), base)
      assert(okc == 0, okout)
      assert(okout.linesIterator.count(_.startsWith("ok ")) == 6, okout)
      val (badc, badout) = Cli.run(Array("doctor"), "http://127.0.0.1:1")
      assert(badc == 1 && badout.contains("FAIL"), badout)

      // usage and error codes: unknown command → 2, missing file → 2,
      // unreachable server → 1 with the address in the message
      assert(Cli.run(Array("nonsense"), base)._1 == 2)
      assert(Cli.run(Array("pipelines", "apply", "/no/such.yaml"), base)._1 == 2)
      val (ec, eout) = Cli.run(Array("healthz"), "http://127.0.0.1:1")
      assert(ec == 1 && eout.contains("127.0.0.1:1"), eout)
    } finally {
      cp.stop()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  test("plugins ls sends its regex URL-encoded") {
    val cp = new ControlPlane(spark, Fences.tempDir("cli-regex-ckpt"))
    val base = s"http://127.0.0.1:${cp.start(0)}"
    try {
      val (ac, aout) = Cli.run(Array("plugins", "ls", "^json\\.de"), base)
      assert(ac == 0 && aout.contains("json.decode") && !aout.contains("json.encode"),
        aout)
      val (sc, sout) = Cli.run(Array("plugins", "ls", "^(json|avro)\\.encode$| x"), base)
      assert(sc == 0 && sout.contains("json.encode") && sout.contains("avro.encode") &&
        !sout.contains("json.decode"), sout)
    } finally cp.stop()
  }

  test("config prints every documented setting with provenance") {
    // defaults: every knob present, every source `default` (version
    // is the build constant)
    val defaults = Cli.effectiveConfig(Array("config"), Map.empty)
    val paths = defaults.map(_.path)
    assert(paths == Seq("api.url", "spark.cpus",
      "pipelines.checkpoint.root", "data.dir", "stream.batch.records",
      "stream.ordered", "version"))
    assert(defaults.filter(_.path != "version").forall(_.source == "default"))
    assert(defaults.find(_.path == "api.url").get.value ==
      "http://127.0.0.1:8080")
    assert(defaults.find(_.path == "version").get.value ==
      graft.ops.PluginCatalog.Version)

    // env layer wins over default; flag layer wins over env
    val env = Map("GRAFT_API" -> "http://10.0.0.1:9999",
      "GRAFT_CKPT" -> "/data/ckpt", "SPARK_GRAFT_CPUS" -> "32")
    val fromEnv = Cli.effectiveConfig(Array("config"), env)
    assert(fromEnv.find(_.path == "api.url").get ==
      fromEnv.find(_.path == "api.url").get.copy(
        value = "http://10.0.0.1:9999", source = "env GRAFT_API"))
    assert(fromEnv.find(_.path == "pipelines.checkpoint.root").get.value ==
      "/data/ckpt")
    assert(fromEnv.find(_.path == "spark.cpus").get.source ==
      "env SPARK_GRAFT_CPUS")
    val flagged = Cli.effectiveConfig(
      Array("config", "--api", "http://flag:1"), env)
    assert(flagged.find(_.path == "api.url").get.value == "http://flag:1")
    assert(flagged.find(_.path == "api.url").get.source == "flag --api")

    // the rendered command output covers every path and source
    val (code, out) = Cli.run(Array("config"), "http://unused")
    assert(code == 0)
    paths.foreach(p => assert(out.contains(s"$p:"), s"missing $p in:\n$out"))
    assert(out.contains("(default)") || out.contains("(env "))
  }
}
