package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.pipeline.{ConnectorConfig, Pipeline, Runner}

/** End-to-end pipeline tests mirroring the reference's example
  * pipelines (FIXTURES.md §4): generator→processor→sink, fan-in,
  * fan-out, DLQ routing, YAML provisioning, streaming execution.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def tmp(prefix: String): String =
    Fences.tempDir(prefix)

  test("generator → field.set → memory (batch): records flow and transform") {
    Runner.memorySinks.clear()
    val p = Pipeline("p1")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "format.options.name" -> "string",
        "recordCount" -> "100")
      .processor("set", "field.set",
        "field" -> ".Payload.After.department", "value" -> "finance")
      .destination("out", "memory")
    val counts = Runner.runBatch(spark, p)
    assert(counts("ok") == 100 && counts("dlq") == 0)
    val lines = Runner.memorySink("out")
    assert(lines.size == 100)
    val rec = JsonOps.parse(lines.head)
    assert(rec.get("payload").get("after").get("department").asText() == "finance")
    assert(rec.get("operation").asText() == "create")
  }

  test("fan-in: two generators union into one stream") {
    Runner.memorySinks.clear()
    val p = Pipeline("p2")
      .source("gen1", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "30", "collection" -> "a")
      .source("gen2", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "20", "collection" -> "b")
      .destination("out", "memory")
    val counts = Runner.runBatch(spark, p)
    assert(counts("ok") == 50)
    val byCollection = Runner.memorySink("out")
      .map(l => JsonOps.parse(l).get("metadata").get("opencdc.collection").asText())
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(byCollection == Map("a" -> 30, "b" -> 20))
  }

  test("fan-out: one source, two file destinations get identical records") {
    val out1 = tmp("fanout1")
    val out2 = tmp("fanout2")
    val p = Pipeline("p3")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "40")
      .destination("d1", "builtin:file", "path" -> out1)
      .destination("d2", "builtin:file", "path" -> out2)
    Runner.runBatch(spark, p)
    val r1 = spark.read.text(out1).collect().map(_.getString(0)).sorted
    val r2 = spark.read.text(out2).collect().map(_.getString(0)).sorted
    assert(r1.length == 40)
    assert(r1.sameElements(r2))
  }

  test("DLQ: failed records route to the DLQ sink, healthy ones continue") {
    Runner.memorySinks.clear()
    val p = Pipeline("p4")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "100")
      .processorWhen("err", "error",
        condition = "cast(.Payload.After.id as long) % 10 = 0",
        "message" -> "synthetic failure")
      .destination("ok", "memory")
      .withDlq("memory", windowSize = 0, nackThreshold = 0)
    val counts = Runner.runBatch(spark, p)
    assert(counts("ok") + counts("dlq") == 100)
    assert(counts("dlq") > 0)
    assert(Runner.memorySink("ok").size == counts("ok"))
    assert(Runner.memorySink("p4-dlq").size == counts("dlq"))
  }

  test("per-source processors run before fan-in") {
    Runner.memorySinks.clear()
    val p = Pipeline("p5").copy(sources = Seq(
      ConnectorConfig("gen1", "builtin:generator",
        Map("format.options.id" -> "int", "recordCount" -> "10"),
        processors = Seq(graft.pipeline.ProcessorConfig("tag", "field.set",
          Map("field" -> ".Payload.After.src", "value" -> "one")))),
      ConnectorConfig("gen2", "builtin:generator",
        Map("format.options.id" -> "int", "recordCount" -> "10"),
        processors = Seq(graft.pipeline.ProcessorConfig("tag", "field.set",
          Map("field" -> ".Payload.After.src", "value" -> "two"))))))
      .destination("out", "memory")
    Runner.runBatch(spark, p)
    val srcs = Runner.memorySink("out")
      .map(l => JsonOps.parse(l).get("payload").get("after").get("src").asText())
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(srcs == Map("one" -> 10, "two" -> 10))
  }

  test("destination-level processor failures nack to the DLQ, not the sink") {
    Runner.memorySinks.clear()
    val p = Pipeline("p-dest-nack").copy(
      sources = Seq(ConnectorConfig("gen", "builtin:generator",
        Map("format.options.id" -> "int", "recordCount" -> "50"))),
      destinations = Seq(ConnectorConfig("out", "memory",
        processors = Seq(graft.pipeline.ProcessorConfig("boom", "error",
          Map("message" -> "dest rejects"),
          condition = Some("cast(.Payload.After.id as long) % 2 = 0"))))))
      .withDlq("memory", windowSize = 0, nackThreshold = 0)
    val counts = Runner.runBatch(spark, p)
    val sunk = Runner.memorySink("out").size
    val dlqd = Runner.memorySink("p-dest-nack-dlq").size
    assert(dlqd > 0, "destination failures must reach the DLQ")
    assert(sunk + dlqd == 50, s"sunk=$sunk dlq=$dlqd")
    assert(counts("dlq") == dlqd)
  }

  test("DLQ records carry their error in conduit.dlq.nack.error (JSON DLQ, batch and streaming)") {
    // source-level rejects (id % 4 = 0) and destination-level ones (id % 4 = 1)
    def pipeline(id: String, dlq: String) = Pipeline(id)
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "40")
      .processorWhen("err", "error", condition = "cast(.Payload.After.id as long) % 4 = 0",
        "message" -> "rejected {{ .Payload.After.id }}")
      .copy(destinations = Seq(ConnectorConfig(s"$id-out", "memory",
        processors = Seq(graft.pipeline.ProcessorConfig("boom", "error",
          Map("message" -> "dest rejects {{ .Payload.After.id }}"),
          condition = Some("cast(.Payload.After.id as long) % 4 = 1"))))))
      .withDlq("builtin:file", windowSize = 0, nackThreshold = 0, "path" -> dlq)
    def checkDlq(id: String, dlq: String): Unit = {
      val recs = spark.read.text(dlq).collect().map(r => JsonOps.parse(r.getString(0)))
      assert(recs.nonEmpty)
      assert(recs.length + Runner.memorySink(s"$id-out").size == 40)
      recs.foreach { r =>
        val recId = r.get("payload").get("after").get("id").asLong()
        val want = if (recId % 4 == 0) s"rejected $recId" else s"dest rejects $recId"
        assert(r.get("metadata").get(Runner.DlqErrorKey).asText() == want, r.toString)
      }
    }
    Runner.memorySinks.clear()
    val batchDlq = tmp("dlq-batch")
    Runner.runBatch(spark, pipeline("p-dlqmsg-b", batchDlq))
    checkDlq("p-dlqmsg-b", batchDlq)
    val streamDlq = tmp("dlq-stream")
    Runner.start(spark, pipeline("p-dlqmsg-s", streamDlq), tmp("ckpt-dlqmsg"),
      Trigger.AvailableNow()).awaitTermination(60000)
    checkDlq("p-dlqmsg-s", streamDlq)
  }

  test("streaming: generator runs as a StructuredStreaming query to memory") {
    Runner.memorySinks.clear()
    val p = Pipeline("p6")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "500")
      .processor("set", "field.set",
        "field" -> ".Payload.After.tagged", "value" -> "yes")
      .destination("out", "memory")
    val q = Runner.start(spark, p, tmp("ckpt"), Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(Runner.memorySink("out").size == 500)
    val rec = JsonOps.parse(Runner.memorySink("out").head)
    assert(rec.get("payload").get("after").get("tagged").asText() == "yes")
  }

  test("a restart reuses the code the first start compiled") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val isolation = "spark.sql.artifact.isolation.enabled"
    // a literal no other test compiles, so the first start must compile
    val nonce = 1000000000000L + System.nanoTime() % 1000000000L
    val p = Pipeline("p-reuse")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "200")
      .processorWhen("set", "field.set",
        condition = s"cast(.Payload.After.id as long) < $nonce",
        "field" -> ".Payload.After.tag", "value" -> "x")
    def start(): Long = {
      val before = spark.conf.getOption(isolation)
      val c0 = METRIC_COMPILATION_TIME.getCount
      val out = tmp("reuse-out")
      Runner.start(spark, p.destination("out", "builtin:file", "path" -> out),
        tmp("reuse-ckpt"), Trigger.AvailableNow()).awaitTermination(60000)
      val compiles = METRIC_COMPILATION_TIME.getCount - c0
      assert(spark.conf.getOption(isolation) == before)
      assert(spark.read.text(out).count() == 200)
      compiles
    }
    assert(start() > 0, "the first start compiles its generated code")
    assert(start() == 0, "a restart compiles nothing again")
  }

  test("DLQ circuit breaker trips the pipeline") {
    Runner.memorySinks.clear()
    val p = Pipeline("p7")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "100")
      .processor("err", "error", "message" -> "always fails")
      .destination("out", "memory")
      .withDlq("memory", windowSize = 20, nackThreshold = 10)
    val q = Runner.start(spark, p, tmp("ckpt2"), Trigger.AvailableNow())
    val ex = intercept[Exception] { q.awaitTermination(60000) }
    def rootCauses(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: rootCauses(t.getCause)
    assert(rootCauses(ex).exists(_.contains("DLQ circuit breaker")),
      s"unexpected failure chain: ${rootCauses(ex)}")
  }

  test("YAML provisioning parses the reference pipeline schema") {
    val yaml =
      """version: 2.2
        |pipelines:
        |  - id: file-to-file
        |    status: running
        |    name: demo
        |    connectors:
        |      - id: employees-source
        |        type: source
        |        plugin: builtin:generator
        |        settings:
        |          format.options.id: int
        |          recordCount: "5"
        |      - id: file-destination
        |        type: destination
        |        plugin: builtin:file
        |        settings:
        |          path: /tmp/out.txt
        |    processors:
        |      - id: extract-name
        |        plugin: field.set
        |        condition: '{{ eq .Metadata.filter "true" }}'
        |        settings:
        |          field: .Payload.After.name
        |          value: hello
        |    dead-letter-queue:
        |      plugin: builtin:log
        |      window-size: 20
        |      window-nack-threshold: 10
        |""".stripMargin
    val ps = Pipeline.fromYaml(yaml)
    assert(ps.size == 1)
    val p = ps.head
    assert(p.id == "file-to-file")
    assert(p.sources.map(_.plugin) == Seq("builtin:generator"))
    assert(p.sources.head.settings("recordCount") == "5")
    assert(p.destinations.map(_.id) == Seq("file-destination"))
    assert(p.processors.head.condition.contains("""{{ eq .Metadata.filter "true" }}"""))
    assert(p.dlq.exists(d => d.windowSize == 20 && d.windowNackThreshold == 10))
  }

  test("keyed ordered delivery: per-key position order at shuffle parallelism") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt > 1,
      "the keyed mode must be exercised with more than one shuffle partition")
    Runner.memorySinks.clear()
    // 4 collections round-robin over 8000 records; field.set collapses
    // the key to the collection name → 4 keys, 2000 records each, with
    // globally interleaved positions (0,4,8,... / 1,5,9,... / ...)
    val p = Pipeline("orderedkey1")
      .source("gen", "builtin:generator",
        "collections.a.format.options.id" -> "int",
        "collections.b.format.options.id" -> "int",
        "collections.c.format.options.id" -> "int",
        "collections.d.format.options.id" -> "int",
        "recordCount" -> "8000")
      .processor("setkey", "field.set",
        "field" -> ".Key", "value" -> "{{ index .Metadata \"opencdc.collection\" }}")
      .destination("out", "memory")
      .withKeyOrderedDelivery
    Runner.runBatch(spark, p)
    val rows = Runner.memorySink("out").map { l =>
      val j = JsonOps.parse(l)
      val pos = new String(java.util.Base64.getDecoder.decode(
        j.get("position").asText()), "UTF-8").toLong
      j.get("key").asText() -> pos
    }
    assert(rows.size == 8000)
    assert(rows.map(_._1).distinct.size == 4, rows.map(_._1).distinct)
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val ps = rs.map(_._2)
      assert(ps == ps.sorted, s"key $k delivered out of position order")
      assert(ps.size == 2000)
    }
    // and it is NOT the global single-writer order: the collected
    // sequence groups by key partition, so globally positions interleave
    val global = rows.map(_._2)
    assert(global != global.sorted,
      "keyed mode must not collapse to the global 1-task total order")
  }

  test("ordered setting YAML round-trip: global stays 'true', key is 'key'") {
    val g = Pipeline("pg").source("s", "builtin:generator")
      .destination("d", "memory").withOrderedDelivery
    val k = Pipeline("pk").source("s", "builtin:generator")
      .destination("d", "memory").withKeyOrderedDelivery
    val yaml = Pipeline.toYaml(Seq(g, k))
    assert(yaml.contains("ordered: \"true\"") || yaml.contains("ordered: true"),
      s"global mode must serialize as the backward-compatible 'true':\n$yaml")
    assert(yaml.contains("ordered: \"key\"") || yaml.contains("ordered: key"), yaml)
    val back = Pipeline.fromYaml(yaml)
    assert(back.map(_.ordered) == Seq("global", "key"))
    // pre-keyed-mode configs ('true') still parse as the global mode
    assert(Pipeline.fromYaml(yaml.replace("key", "true")).map(_.ordered) ==
      Seq("global", "global"))
  }

  test("generator rate limiting bounds batch size") {
    val df = spark.read.format("conduit-generator")
      .option("format.options.id", "int").option("recordCount", "1000").load()
    assert(df.count() == 1000)
    // deterministic: same index → same record
    val a = df.filter(col(Cdc.Key) === """{"id":7}""").select(col(Cdc.PayloadAfter)).collect()
    assert(a.length == 1)
  }
}
