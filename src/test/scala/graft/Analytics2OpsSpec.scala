package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.ops.Registry
import graft.pipeline.{ConnectorConfig, PipelineConfig, ProcessorConfig, Pipeline => Dsl}

/** Registry analytics plugins, part 1, on the registry/YAML surface:
  * privacy.pseudonymize / kanon / noise, layout.key, cdc.scd2,
  * graph.pagerank / links — each created from pure string settings
  * and checked against its Scala operator.
  */
class Analytics2OpsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def wrap(df: org.apache.spark.sql.DataFrame, key: String) =
    Cdc.wrap(df, key, "t")

  test("privacy.pseudonymize rewrites id fields via the keyed hash") {
    val base = wrap(Seq((1L, "alice", "x"), (2L, "bob", "y"))
      .toDF("id", "user", "v"), "id")
    val proc = Registry.create("privacy.pseudonymize",
      Map("fields" -> ".Payload.After.user", "secret" -> "42"))
    val out = proc(base).collect()
    val users = out.map(r =>
      JsonOps.parse(r.getAs[String](Cdc.PayloadAfter)).get("user").asText).toSet
    // matches the Scala operator bit for bit
    val want = graft.analytics.Privacy.pseudonymize(
        Seq(("alice"), ("bob")).toDF("user"), Seq("user"), 42L)
      .collect().map(_.getLong(0).toString).toSet
    assert(users == want, s"$users vs $want")
    // other fields untouched
    assert(out.forall(r =>
      JsonOps.parse(r.getAs[String](Cdc.PayloadAfter)).has("v")))
  }

  test("layout.key annotates metadata with the interleaved sort key") {
    val base = wrap(Seq((1L, 3L, 5L), (2L, 100L, 7L))
      .toDF("id", "x", "y"), "id")
    val z = Registry.create("layout.key",
      Map("fields" -> ".Payload.After.x,.Payload.After.y", "bits" -> "8"))
    val zk = z(base).select(col(Cdc.Metadata).getItem("layout.key"))
      .collect().map(_.getString(0)).toSet
    val want = Seq((3L, 5L), (100L, 7L)).toDF("x", "y")
      .select(graft.analytics.Layout.zorderKey(
        Seq(col("x"), col("y")), 8).cast("string"))
      .collect().map(_.getString(0)).toSet
    assert(zk == want)
    val h = Registry.create("layout.key",
      Map("fields" -> ".Payload.After.x,.Payload.After.y", "bits" -> "8",
        "kind" -> "hilbert"))
    val hk = h(base).select(col(Cdc.Metadata).getItem("layout.key"))
      .collect().map(_.getString(0)).toSet
    assert(hk.size == 2 && hk != zk)
  }

  test("cdc.scd2 stamps validity metadata and drops deletes") {
    import org.apache.spark.sql.types.BinaryType
    // key 1: create@10, update@20, delete@30; key 2: create@5
    val log = Seq(
      ("""{"id":1}""", "create", "10", """{"id":1,"v":"a"}"""),
      ("""{"id":1}""", "update", "20", """{"id":1,"v":"b"}"""),
      ("""{"id":1}""", "delete", "30", null),
      ("""{"id":2}""", "create", "5", """{"id":2,"v":"z"}"""))
      .toDF("key", "operation", "pos", "payload_after")
      .select(col("pos").cast(BinaryType).as(Cdc.Position),
        col("operation").as(Cdc.Operation),
        map(lit("k"), lit("v")).as(Cdc.Metadata),
        lit(null).cast(BinaryType).as(Cdc.KeyRaw),
        col("key").as(Cdc.Key),
        lit(null).cast("string").as(Cdc.PayloadBefore),
        col("payload_after").as(Cdc.PayloadAfter))
    val out = Registry.create("cdc.scd2", Map.empty)(log)
      .select(col(Cdc.Key), col(Cdc.Metadata)).collect()
      .map(r => (r.getString(0), r.getMap[String, String](1)))
    assert(out.length == 3) // the delete row dropped
    val k1 = out.filter(_._1 == """{"id":1}""").sortBy(_._2("scd2.valid_from"))
    assert(k1.map(_._2("scd2.valid_from")).toSeq == Seq("10", "20"))
    assert(k1.map(_._2("scd2.valid_to")).toSeq == Seq("20", "30"))
    assert(k1.map(_._2("scd2.is_current")).toSeq == Seq("false", "false"))
    val k2 = out.filter(_._1 == """{"id":2}""").head._2
    assert(k2("scd2.valid_from") == "5" && k2("scd2.valid_to") == "" &&
      k2("scd2.is_current") == "true")
  }

  test("privacy.kanon reshapes into the generalization-ladder records") {
    val rows = (1 to 20).map(i => (i.toLong, s"z${i % 2}", s"j${i % 7}"))
    val base = wrap(rows.toDF("id", "zip", "job"), "id")
    val out = Registry.create("privacy.kanon",
      Map("fields" -> ".Payload.After.zip,.Payload.After.job", "k" -> "5"))(base)
    assert(out.columns.toSeq == Cdc.columns)
    val payloads = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
    val want = graft.analytics.Privacy.kAnonymize(
        rows.map { case (_, z, j) => (z, j) }.toDF("zip", "job"),
        Seq("zip", "job"), 5L)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n"))).sorted
    val got = payloads
      .map(p => (p.get("level").asLong, p.get("n").asLong)).sorted
    assert(got.nonEmpty && got.toSeq == want.toSeq, s"$got vs $want")
  }

  test("privacy.noise emits one seeded noisy count per group") {
    val base = wrap((1 to 300).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("id", "g"), "id")
    val out = Registry.create("privacy.noise",
      Map("fields" -> ".Payload.After.g", "epsilon" -> "0.5",
        "seed" -> "7"))(base)
    val got = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("g").asText -> p.get("noisy_n").asDouble).toMap
    val want = graft.analytics.Privacy.noisyCount(
        (1 to 300).map(i => s"g${i % 4}").toDF("g"), Seq("g"), 0.5, 7L)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("noisy_n")).toMap
    assert(got == want)
  }

  test("graph.pagerank reshapes an edge batch into node-rank records") {
    val base = wrap(Seq((1L, "1", "3"), (2L, "2", "3"), (3L, "3", "4"))
      .toDF("id", "s", "d"), "id")
    val out = Registry.create("graph.pagerank",
      Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
        "iterations" -> "10"))(base)
    val ranks = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("node").asText -> p.get("rank").asDouble).toMap
    assert(ranks.size == 4)
    assert(ranks("4") > ranks("3") && ranks("3") > ranks("1"))
  }

  test("graph.links predicts the wedge pair from string settings") {
    val base = wrap(Seq((1L, "a", "b"), (2L, "b", "c"))
      .toDF("id", "s", "d"), "id")
    val out = Registry.create("graph.links",
      Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
        "minJaccard" -> "0.5"))(base)
    val pairs = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => (p.get("node_a").asText, p.get("node_b").asText,
        p.get("jaccard").asDouble))
    assert(pairs.toSeq == Seq(("a", "c", 1.0)))
  }

  test("dq.validate processor runs a parsed suite and wraps verdicts") {
    val base = Cdc.wrap((1 to 20).map(i =>
      (i.toLong, if (i % 5 == 0) null else s"v$i", i * 10.0))
      .toDF("id", "name", "score"), "id", "t")
    val proc = Registry.create("dq.validate", Map("checks" ->
      ("not_null:.Payload.After.name:0.3;" +
        "in_range:.Payload.After.score:0:150;" +
        "unique:.Payload.After.id;" +
        "distinct_between:.Payload.After.name:10:20")))
    val out = proc(base)
    assert(out.columns.toSeq == Cdc.columns)
    val verdicts = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("check_id").asText -> p.get("passed").asBoolean).toMap
    // 4 nulls / 20 = 0.2 <= 0.3 passes; 160..200 > 150 fails range;
    // ids unique; 16 distinct names in [10,20]
    assert(verdicts == Map("c0" -> true, "c1" -> false, "c2" -> true,
      "c3" -> true), verdicts.toString)
  }

  test("text.scripts processor annotates metadata with script stats") {
    import org.apache.spark.sql.functions.col
    val base = Cdc.wrap(Seq((1L, "hello world"), (2L, "привет мир"))
      .toDF("id", "text"), "id", "t")
    val proc = Registry.create("text.scripts",
      Map("field" -> ".Payload.After.text"))
    val out = proc(base)
      .select(col(Cdc.Key), col(Cdc.Metadata).getItem("script.dominant"),
        col(Cdc.Metadata).getItem("script.latin_frac"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(out("""{"id":1}""")._1 == "latin")
    assert(out("""{"id":2}""")._1 == "cyrillic")
    assert(out("""{"id":1}""")._2.toDouble > 0.8)
  }

  test("sample.kfold-style operator: folds deterministic and balanced") {
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    val a = graft.analytics.Sampling.kFold(df, "id", k = 5, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.analytics.Sampling.kFold(df.repartition(7), "id", 5, 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "folds must be partition-stable")
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 5 && sizes.values.forall(s =>
      s > 600 && s < 1000), sizes.toMap.toString)
  }

  test("new factories survive the YAML export/import round trip") {
    val procs = Seq(
      ProcessorConfig("p1", "privacy.pseudonymize",
        Map("fields" -> ".Payload.After.user", "secret" -> "42"), None),
      ProcessorConfig("p2", "layout.key",
        Map("fields" -> ".Payload.After.x,.Payload.After.y",
          "kind" -> "hilbert", "bits" -> "8"), None),
      ProcessorConfig("p3", "cdc.scd2", Map("deleteOp" -> "delete"), None),
      ProcessorConfig("p4", "privacy.kanon",
        Map("fields" -> ".Payload.After.zip", "k" -> "3"), None),
      ProcessorConfig("p5", "privacy.noise",
        Map("fields" -> ".Payload.After.g", "epsilon" -> "0.5"), None),
      ProcessorConfig("p6", "graph.pagerank",
        Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d"), None),
      ProcessorConfig("p7", "graph.links",
        Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
          "minJaccard" -> "0.25"), None),
      // round-9 families, promoted round 10
      ProcessorConfig("p8", "sketch.kmv",
        Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v",
          "k" -> "64"), None),
      ProcessorConfig("p9", "graph.hits",
        Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
          "iterations" -> "2"), None),
      ProcessorConfig("p10", "graph.kcore",
        Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
          "k" -> "2"), None),
      ProcessorConfig("p11", "linkage.score",
        Map("id" -> ".Payload.After.id", "block" -> ".Payload.After.blk",
          "fields" -> ".Payload.After.a:0.9:0.3;.Payload.After.b:0.8:0.4",
          "minScore" -> "-10"), None),
      ProcessorConfig("p12", "retrieval.keywords",
        Map("id" -> ".Payload.After.doc", "field" -> ".Payload.After.text",
          "k" -> "3"), None),
      ProcessorConfig("p13", "joins.skyline",
        Map("groups" -> ".Payload.After.g", "x" -> ".Payload.After.x",
          "y" -> ".Payload.After.y"), None),
      // round-10 families
      ProcessorConfig("p14", "dq.reconcile",
        Map("key" -> ".Payload.After.id", "compare" -> ".Payload.After.v",
          "table" -> "/tmp/ref"), None),
      ProcessorConfig("p15", "sample.fixed",
        Map("groups" -> ".Payload.After.g", "id" -> ".Payload.After.id",
          "k" -> "100"), None),
      ProcessorConfig("p16", "text.hashing",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "dim" -> "256"), None))
    val cfg = PipelineConfig("pl", "analytics families",
      processors = procs)
    val back = Dsl.fromYaml(Dsl.toYaml(Seq(cfg)))
    assert(back == Seq(cfg))
    // every named plugin resolves through the registry
    back.head.processors.foreach { p =>
      assert(Registry.create(p.plugin, p.settings) != null, p.plugin)
    }
  }

  test("linkage.jw / seq.ngrams / sketch.bloom processors (round 13)") {
    // linkage.jw: the near-identical pair in the shared block survives
    val jw = Registry.create("linkage.jw",
      Map("id" -> ".Payload.After.id", "block" -> ".Payload.After.blk",
        "field" -> ".Payload.After.name", "minSim" -> "0.9"))
    val base = wrap(Seq(
      (1L, "b1", "chocolate lace"), (2L, "b1", "chocolate lake"),
      (3L, "b1", "zz qq ww"), (4L, "b2", "chocolate lace"))
      .toDF("id", "blk", "name"), "id")
    val pairs = jw(base).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => (p.get("id_a").asText, p.get("id_b").asText))
    assert(pairs.toSeq == Seq(("1", "2")), pairs.mkString(","))

    // seq.ngrams: trigram counts from a keyed stream
    val sq = Registry.create("seq.ngrams",
      Map("entity" -> ".Payload.After.u", "order" -> ".Payload.After.t",
        "tie" -> ".Payload.After.id", "state" -> ".Payload.After.s",
        "n" -> "3", "minSupport" -> "1"))
    val stream = wrap(Seq(
      (1L, 7L, 1L, "a"), (2L, 7L, 2L, "b"), (3L, 7L, 3L, "a"),
      (4L, 7L, 4L, "b"), (5L, 7L, 5L, "a"))
      .toDF("id", "u", "t", "s")
      .select(col("id"), col("u"), col("t"), col("s")), "id")
    val grams = sq(stream).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("gram").asText -> p.get("support").asLong).toMap
    assert(grams == Map("a>b>a" -> 2L, "b>a>b" -> 1L), grams.toString)

    // sketch.bloom: word table matches the Scala operator over the
    // same fnv1a pre-hash
    val bl = Registry.create("sketch.bloom",
      Map("value" -> ".Payload.After.name", "mBits" -> "4096"))
    val got = bl(base).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("word_idx").asLong -> p.get("bits").asLong).toMap
    import graft.analytics.HashFunctions.fnv1a_hash
    val want = graft.analytics.Sketch.bloomWords(
      Seq("chocolate lace", "chocolate lake", "zz qq ww", "chocolate lace")
        .toDF("v").select(fnv1a_hash(col("v")).as("h")),
      "h", mBits = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"$got vs $want")
  }

  test("sketch.kmv processor matches the Scala sketch estimate") {
    val base = wrap((1 to 300).map(i => (i.toLong, s"g${i % 2}", s"u${i % 37}"))
      .toDF("id", "g", "u"), "id")
    val proc = Registry.create("sketch.kmv",
      Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.u",
        "k" -> "64"))
    val got = proc(base).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("g").asText -> p.get("estimate").asDouble).toMap
    // 37 distinct < k=64: the sketch is EXACT per group
    assert(got == Map("g0" -> 37.0, "g1" -> 37.0), got.toString)
  }

  test("graph.hits / graph.kcore processors rank and peel via the operators") {
    // bipartite: customers 1,2,3 all touch supplier 10; 3 also 11
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (3L, 11L))
    val base = wrap(edges.zipWithIndex.map { case ((s, d), i) =>
      (i.toLong, s, d) }.toDF("id", "s", "d"), "id")
    val hits = Registry.create("graph.hits",
      Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
        "iterations" -> "2"))
    val auth = hits(base).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("node").asText -> p.get("authority").asDouble).toMap
    assert(auth("10") > auth("11"), auth.toString)
    val kcore = Registry.create("graph.kcore",
      Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d",
        "k" -> "2"))
    // no node has undirected degree >= 2 on both endpoints after the
    // peel except none — a triangle graph keeps its 2-core
    val tri = wrap(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L))
      .zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d) }
      .toDF("id", "s", "d"), "id")
    val nodes = kcore(tri).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)).get("node").asText).toSet
    assert(nodes == Set("1", "2", "3"), nodes.toString)
  }

  test("linkage.score / retrieval.keywords / joins.skyline processors") {
    val link = Registry.create("linkage.score",
      Map("id" -> ".Payload.After.id", "block" -> ".Payload.After.blk",
        "fields" -> ".Payload.After.f1:0.9:0.3",
        "minScore" -> "-100"))
    val base = wrap(Seq((1L, 10L, "x"), (2L, 10L, "x"), (3L, 99L, "x"))
      .toDF("id", "blk", "f1"), "id")
    val pairs = link(base).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => (p.get("id_a").asText, p.get("id_b").asText,
        p.get("n_agree").asLong))
    assert(pairs.toSeq == Seq(("1", "2", 1L)), pairs.mkString(","))

    val kw = Registry.create("retrieval.keywords",
      Map("id" -> ".Payload.After.doc", "field" -> ".Payload.After.text",
        "k" -> "2", "minDf" -> "1"))
    val docs = wrap(Seq((1L, "alpha alpha beta"), (2L, "beta gamma"))
      .toDF("doc", "text"), "doc")
    val terms = kw(docs).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("doc_id").asText -> p.get("term").asText)
    assert(terms.contains(("1", "alpha")), terms.mkString(","))

    val sky = Registry.create("joins.skyline",
      Map("groups" -> ".Payload.After.g", "x" -> ".Payload.After.x",
        "y" -> ".Payload.After.y"))
    val pts = wrap(Seq((1L, "a", 1L, 9L), (2L, "a", 9L, 1L),
      (3L, "a", 2L, 2L), (4L, "a", 9L, 9L))
      .toDF("id", "g", "x", "y"), "id")
    val kept = sky(pts).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => (p.get("_x").asLong, p.get("_y").asLong)).toSet
    // (9,9) dominates everything else; (2,2) etc. are dominated
    assert(kept == Set((9L, 9L)), kept.toString)
  }

  test("sample.fixed / text.hashing / dq.reconcile processors") {
    // fixed-size sampling keeps the CDC schema and exactly k per group
    val base = wrap((1 to 200).map(i => (i.toLong, s"g${i % 2}"))
      .toDF("id", "grp"), "id")
    val proc = Registry.create("sample.fixed",
      Map("groups" -> ".Payload.After.grp", "id" -> ".Payload.After.id",
        "k" -> "10", "seed" -> "3"))
    val out = proc(base)
    assert(out.columns.toSeq == Cdc.columns)
    val perGroup = out.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)).get("grp").asText)
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(perGroup == Map("g0" -> 10, "g1" -> 10), perGroup.toString)

    val hash = Registry.create("text.hashing",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.txt",
        "dim" -> "64"))
    val docs = wrap(Seq((1L, "alpha alpha"), (2L, "beta"))
      .toDF("id", "txt"), "id")
    val feats = hash(docs).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("doc_id").asText ->
        math.abs(p.get("feature").asLong)).toMap
    assert(feats == Map("1" -> 2L, "2" -> 1L), feats.toString)

    val refDir = Fences.tempDir("recon")
    Seq((1L, "x"), (2L, "CHANGED"), (3L, "z"))
      .toDF("id", "v")
      .select(col("id").cast("string").as("id"), col("v"))
      .write.mode("overwrite").parquet(refDir)
    val recon = Registry.create("dq.reconcile",
      Map("key" -> ".Payload.After.id", "compare" -> ".Payload.After.v",
        "table" -> refDir))
    val cur = wrap(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), "id")
    val statuses = recon(cur).select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))
      .map(p => p.get("id").asText -> p.get("status").asText).toMap
    assert(statuses == Map("1" -> "match", "2" -> "mismatch",
      "3" -> "only_b"), statuses.toString)
  }

  test("a YAML pipeline drives a round-9 family end to end") {
    val p = Dsl("kmv-e2e")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "500")
      .processor("kmv", "sketch.kmv",
        "groups" -> ".Operation", "value" -> ".Payload.After.id",
        "k" -> "4096")
    // through YAML and back, then the batch runner
    val cfg = Dsl.fromYaml(Dsl.toYaml(Seq(p))).head
    val out = graft.pipeline.Runner.build(spark, cfg, streaming = false)
    val rows = graft.model.Cdc.ok(out).select(col(Cdc.PayloadAfter))
      .collect().map(r => JsonOps.parse(r.getString(0)))
    assert(rows.length == 1)
    // generator ids are splitmix64 mod 1e6 — 500 draws collide a few
    // times (the documented birthday trap) — and the count sits far
    // below k, so the estimate is the EXACT distinct count
    val est = rows.head.get("estimate").asDouble
    assert(est >= 490.0 && est <= 500.0, rows.head.toString)
    assert(est == rows.head.get("n_state").asLong.toDouble,
      "below k the sketch is the exact distinct set")
  }
}
