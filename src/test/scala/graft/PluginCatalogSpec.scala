package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CloneProc, FilterProc, PluginCatalog, Registry, SqlProc}

/** The plugin catalogue cannot rot: its entry set must equal the
  * registry's key set, every example must construct through the real
  * factory, every setting a factory reads must be declared, and the
  * committed PLUGINS.md must equal a regeneration.
  */
class PluginCatalogSpec extends AnyFunSuite {

  test("catalogue covers exactly the registry's plugins") {
    val catalogued = Registry.entries.map(_.plugin).toSet
    val registered = Registry.factories.keySet
    assert(catalogued == registered,
      s"missing from catalogue: ${(registered -- catalogued).toSeq.sorted}; " +
        s"stale in catalogue: ${(catalogued -- registered).toSeq.sorted}")
    assert(Registry.entries.map(_.plugin).distinct.size ==
      Registry.entries.size, "duplicate catalogue entries")
  }

  test("every example constructs through Registry.create") {
    Registry.entries.foreach { e =>
      try Registry.create(e.plugin, e.example)
      catch {
        case ex: Exception =>
          fail(s"${e.plugin}: example ${e.example} failed to construct: $ex")
      }
    }
  }

  test("every example builds a processor serving the entry's own plugin name") {
    // the aliases build the processor of the plugin they alias
    val aliases = Map("openai.embeddings" -> "openai.embed", "ollama" -> "ollama.request")
    Registry.entries.foreach { e =>
      assert(Registry.create(e.plugin, e.example).plugin ==
        aliases.getOrElse(e.plugin, e.plugin), e.plugin)
    }
  }

  test("every entry has a one-line summary and documented settings") {
    Registry.entries.foreach { e =>
      assert(e.summary.nonEmpty && !e.summary.contains('\n'), e.plugin)
      assert(e.settings.map(_.name).distinct.size == e.settings.size,
        s"${e.plugin}: duplicate setting rows")
    }
  }

  test("a factory reads required settings, given values and declared defaults") {
    val sql = Registry.factories("sql")
    assert(sql(Map("query" -> "q")) == SqlProc("q", "records"))
    assert(sql(Map("query" -> "q", "view" -> "")) == SqlProc("q", ""),
      "a value given explicitly wins, even empty")
    val e = intercept[IllegalArgumentException](sql(Map("view" -> "v")))
    assert(e.getMessage == "sql: missing required setting: query")
    assert(Registry.factories("clone")(Map("count" -> " 2 ")) == CloneProc(2))
  }

  test("a factory reading a setting its entry does not declare fails") {
    val entry = Registry.Entry("probe.undeclared", "Reads an undeclared setting.",
      Seq(Registry.Setting("declared", required = false, "1"))) { s =>
      s.str("undeclared"); FilterProc()
    }
    val e = intercept[IllegalStateException](
      entry.build(new Registry.Settings(entry, Map("undeclared" -> "x"))))
    assert(e.getMessage == "probe.undeclared: reads undeclared setting: undeclared")
  }

  test("a malformed setting value names the plugin, the setting and the value") {
    def message(plugin: String, settings: (String, String)*): String =
      intercept[IllegalArgumentException](
        Registry.create(plugin, settings.toMap)).getMessage
    assert(message("sample.kfold", "id" -> ".Payload.After.id", "k" -> "abc") ==
      "sample.kfold: setting k must be an integer, got \"abc\"")
    assert(message("sample.hash", "fraction" -> "half") ==
      "sample.hash: setting fraction must be a number, got \"half\"")
    assert(message("text.gopher", "drop" -> "yes") ==
      "text.gopher: setting drop must be true or false, got \"yes\"")
    assert(message("sample.mixture", "stratum" -> ".Payload.After.lang",
      "id" -> ".Payload.After.id", "targets" -> "en:0.8,de:lots") ==
      "sample.mixture: targets entry must be name:number, got de:lots")
    assert(message("filter", "sdk.schema.avro" -> "{}", "sdk.schema.id" -> "one") ==
      "filter: setting sdk.schema.id must be an integer, got \"one\"")
  }

  test("a malformed list item names the plugin, the setting and the item") {
    def message(plugin: String, settings: (String, String)*): String =
      intercept[IllegalArgumentException](
        Registry.create(plugin, settings.toMap)).getMessage
    assert(message("sample.split", "group" -> ".Payload.After.id",
      "fractions" -> "train:0.8,val") ==
      "sample.split: fractions entry must be name:number, got val")
    assert(message("sketch.kll", "value" -> ".Payload.After.v", "id" -> ".Payload.After.id",
      "quantiles" -> "p50:5000,p90") ==
      "sketch.kll: quantiles entry must be name:integer, got p90")
    assert(message("sketch.kll", "value" -> ".Payload.After.v", "id" -> ".Payload.After.id",
      "quantiles" -> "p50:half") ==
      "sketch.kll: quantiles entry must be name:integer, got p50:half")
    assert(message("sketch.hist", "groups" -> ".Payload.After.g",
      "value" -> ".Payload.After.v", "quantiles" -> "0.5,high") ==
      "sketch.hist: quantiles entry must be a number, got high")
    assert(message("linkage.score", "id" -> ".Payload.After.id",
      "block" -> ".Payload.After.zip", "fields" -> ".Payload.After.name:0.9") ==
      "linkage.score: fields entry must be REF:m:u, got .Payload.After.name:0.9")
    assert(message("linkage.score", "id" -> ".Payload.After.id",
      "block" -> ".Payload.After.zip", "fields" -> ".Payload.After.name:0.9:low") ==
      "linkage.score: fields entry must be REF:m:u, got .Payload.After.name:0.9:low")
    assert(message("field.rename", "mapping" -> ".Payload.After.a") ==
      "field.rename: mapping entry must be from:to, got .Payload.After.a")
    def dq(checks: String) = message("dq.validate", "checks" -> checks)
    val shape = "not_null|in_range|values_in|unique|distinct_between:REF[:args]"
    assert(dq("not_null:.Payload.After.x;in_range:.Payload.After.x:1") ==
      s"dq.validate: checks entry must be $shape, got in_range:.Payload.After.x:1")
    assert(dq("not_null:.Payload.After.x:most") ==
      s"dq.validate: checks entry must be $shape, got not_null:.Payload.After.x:most")
    assert(dq("no_such:.Payload.After.x") ==
      s"dq.validate: checks entry must be $shape, got no_such:.Payload.After.x")
  }

  test("committed PLUGINS.md matches a regeneration") {
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLUGINS.md"))
    assert(committed == PluginCatalog.renderMarkdown(),
      "PLUGINS.md is stale — run `sbt \"runMain graft.ops.PluginCatalog\"`")
  }
}
