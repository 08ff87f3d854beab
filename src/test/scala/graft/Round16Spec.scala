package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.model.Cdc
import graft.ops.Registry

/** Round-16 hardening: friendly batch-only guards on every plan-time-
  * collect processor, consistent null-text handling in the BPE
  * segmenter, and the POST create/import route enforcing the same
  * running-config invariant as /apply.
  */
class Round16Spec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  /** Every batch-only config processor must reject a STREAMING frame
    * with a require message naming the plugin and the real reason —
    * not Spark's opaque streaming-source AnalysisException raised from
    * deep inside the plan (the text.bpe guard contract).
    */
  test("plan-time-collect processors reject streaming frames with the real reason") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val streamDf = Cdc.wrap(in.toDF().toDF("id", "text", "tokens"), "id", "docs")
    assert(streamDf.isStreaming)
    val guarded: Seq[(String, Map[String, String])] = Seq(
      "text.oov" -> Map("id" -> ".Payload.After.id",
        "trainTable" -> "/nonexistent/oov-train"),
      "text.dsir" -> Map("id" -> ".Payload.After.id",
        "targetTable" -> "/nonexistent/dsir-target"),
      "sample.pack" -> Map("id" -> ".Payload.After.id",
        "tokens" -> ".Payload.After.tokens", "budget" -> "512"),
      "sample.interleave" -> Map("id" -> ".Payload.After.id"),
      "sample.token_mixture" -> Map("stratum" -> ".Payload.After.text",
        "id" -> ".Payload.After.id", "tokens" -> ".Payload.After.tokens",
        "targets" -> "en:1.0"),
      "sketch.overlap" -> Map("historyTable" -> "/nonexistent/overlap-hist"),
      "dedup.softweight" -> Map("id" -> ".Payload.After.id"),
      "text.bpe" -> Map("id" -> ".Payload.After.id",
        "mergesTable" -> "/nonexistent/bpe-merges"),
      "text.bpe_train" -> Map("id" -> ".Payload.After.id"),
      "text.zipf" -> Map.empty[String, String],
      "sample.curriculum" -> Map("id" -> ".Payload.After.id",
        "score" -> ".Payload.After.tokens"),
      "sample.mixture_kl" -> Map("stratum" -> ".Payload.After.text",
        "tokens" -> ".Payload.After.tokens", "targets" -> "en:1.0"),
      "text.nb_train" -> Map("id" -> ".Payload.After.id",
        "label" -> ".Payload.After.text", "posValue" -> "x"),
      "text.nb" -> Map("id" -> ".Payload.After.id",
        "modelTable" -> "/nonexistent/nb-model"))
    for ((plugin, settings) <- guarded) {
      val e = intercept[IllegalArgumentException] {
        Registry.create(plugin, settings)(streamDf)
      }
      assert(e.getMessage.contains("batch-only"),
        s"$plugin: ${e.getMessage}")
      assert(e.getMessage.contains(plugin.split('.').last) ||
        e.getMessage.contains(plugin), s"$plugin: ${e.getMessage}")
    }
  }

  test("bpeSegment: null text yields n_tokens = 0, never -1") {
    import graft.analytics.Text
    val df = Seq((1L, Some("hello world hello")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val got = Text.bpeSegment(df, "doc_id", "text",
      Seq(("hello", "world"))).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[String]("tokens"))).toMap
    // doc 1: "hello world" merges, trailing "hello" survives → 2 tokens
    assert(got(1L) == (2L, "hello worldhello"), got(1L).toString)
    // doc 2 (null text): present, empty — NOT n_tokens = -1 / null
    assert(got(2L) == (0L, ""), got(2L).toString)
    // bpeApply consistency: the null doc contributes nothing
    val vocab = Text.bpeApply(df, "doc_id", "text", Seq(("hello", "world")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab == Map("hello world" -> 1L, "hello" -> 1L), vocab.toString)
  }

  test("GET /metrics serves Prometheus text exposition for a running pipeline") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cp-met-ckpt")
    val cp = new graft.pipeline.ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def get(p: String): String =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    try {
      cp.register(graft.pipeline.Pipeline("cp-met")
        .source("gen", "builtin:generator",
          "format.options.id" -> "int", "recordCount" -> "300")
        .destination("out", "memory"))
      cp.startPipeline("cp-met")
      var waited = 0
      while (graft.pipeline.Runner.memorySink("out").size < 300 && waited < 300) {
        Thread.sleep(100); waited += 1
      }
      assert(graft.pipeline.Runner.memorySink("out").size == 300)
      // the sink fills mid-batch; totals land at batch COMMIT — poll
      waited = 0
      while (graft.pipeline.Metrics.statsFor("cp-met").records.get() < 300
        && waited < 300) { Thread.sleep(100); waited += 1 }
      val body = get("/metrics")
      // well-formed headers for every family
      for (m <- Seq("graft_info", "graft_pipelines", "graft_pipeline_status",
        "graft_pipeline_records_total", "graft_pipeline_bytes_total",
        "graft_pipeline_nacks_total", "graft_pipeline_batches_total",
        "graft_pipeline_batch_duration_seconds"))
        assert(body.contains(s"# TYPE $m "), s"missing TYPE line for $m")
      assert(body.contains("# TYPE graft_pipeline_batch_duration_seconds histogram"))
      def sample(name: String): Long =
        body.linesIterator.find(_.startsWith(
          s"""$name{pipeline_name="cp-met"}""")).map(_.split(' ').last.toLong)
          .getOrElse(fail(s"no sample for $name"))
      assert(sample("graft_pipeline_records_total") == 300L)
      assert(sample("graft_pipeline_bytes_total") > 300L) // >1 byte/record
      assert(sample("graft_pipeline_nacks_total") == 0L)
      val batches = sample("graft_pipeline_batches_total")
      assert(batches >= 1L)
      // histogram invariants: cumulative buckets, +Inf == _count == batches
      val inf = body.linesIterator.find(_.startsWith(
        """graft_pipeline_batch_duration_seconds_bucket{pipeline_name="cp-met",le="+Inf"}"""))
        .map(_.split(' ').last.toLong).getOrElse(fail("no +Inf bucket"))
      assert(inf == batches, s"+Inf=$inf batches=$batches")
      assert(sample("graft_pipeline_batch_duration_seconds_count") == batches)
      val bucketCounts = body.linesIterator.filter(_.startsWith(
        "graft_pipeline_batch_duration_seconds_bucket{pipeline_name=\"cp-met\""))
        .map(_.split(' ').last.toLong).toSeq
      assert(bucketCounts == bucketCounts.sorted, "buckets must be cumulative")
      // status gauge present with a numeric value
      assert(body.linesIterator.exists(l =>
        l.startsWith("""graft_pipeline_status{pipeline_name="cp-met"} """)))
      cp.stopPipeline("cp-met")
      val after = get("/metrics")
      assert(after.contains("""graft_pipeline_status{pipeline_name="cp-met"} 0"""))
    } finally cp.stop()
  }

  test("POST create/import refuses to swap a RUNNING pipeline's config") {
    graft.pipeline.Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("cp-import-ckpt")
    val cp = new graft.pipeline.ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def url(p: String) = URI.create(s"http://127.0.0.1:$port/v1/pipelines$p")
    def send(p: String, body: String = ""): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(url(p))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val yaml =
      """version: 2.2
        |pipelines:
        |  - id: cp-imp
        |    connectors:
        |      - id: gen
        |        type: source
        |        plugin: builtin:generator
        |        settings:
        |          format.options.id: int
        |          recordCount: "1000000"
        |          rate: "1000"
        |      - id: out
        |        type: destination
        |        plugin: memory
        |""".stripMargin
    try {
      assert(send("", yaml).statusCode() == 201)
      send("/cp-imp/start")
      // changed config against the running pipeline → 409, config kept
      val changed = yaml.replace("rate: \"1000\"", "rate: \"2000\"")
      val resp = send("", changed)
      assert(resp.statusCode() == 409, s"${resp.statusCode()} ${resp.body()}")
      assert(cp.config("cp-imp").get.sources.head.settings("rate") == "1000")
      // identical config re-import is an idempotent 201
      assert(send("/import", yaml).statusCode() == 201)
      // stopped → the update lands through mutate()
      send("/cp-imp/stop")
      assert(send("", changed).statusCode() == 201)
      assert(cp.config("cp-imp").get.sources.head.settings("rate") == "2000")
    } finally cp.stop()
  }

  test("text.zipf fits the vocabulary head of a synthetic Zipf corpus") {
    // freq(token i) = 64/i for i=1..64 — an exact slope −1 corpus
    val docs = (1 to 64).flatMap(i => Seq.fill(64 / i)(s"w$i"))
      .grouped(8).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("id", "text")
    val got = Registry.create("text.zipf",
      Map("field" -> ".Payload.After.text", "minCount" -> "1"))(
        Cdc.wrap(docs, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
    assert(got.length == 1)
    assert(got.head.get("n_types").asLong == 64L)
    // 64/i floors to steps, so the fit is near −1, not exactly
    val slope = got.head.get("slope").asDouble
    assert(slope < -0.8 && slope > -1.2, s"slope=$slope")
  }

  test("sample.curriculum annotates exact NTILE phases by score") {
    // 10 docs, scores 1..10, 4 phases → sizes 3,3,2,2 (NTILE split)
    val docs = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "difficulty")
    val out = Registry.create("sample.curriculum",
      Map("id" -> ".Payload.After.id",
        "score" -> ".Payload.After.difficulty", "phases" -> "4"))(
        Cdc.wrap(docs, "id", "t"))
    val phases = out.select(col(Cdc.PayloadAfter), col(Cdc.Metadata)).collect()
      .map(r => (graft.functions.JsonOps.parse(r.getString(0)).get("id").asLong,
        r.getMap[String, String](1)("curriculum.phase").toLong))
      .toMap
    assert(phases.size == 10)
    assert((1L to 3L).forall(phases(_) == 1L), phases.toString())
    assert((4L to 6L).forall(phases(_) == 2L))
    assert((7L to 8L).forall(phases(_) == 3L))
    assert((9L to 10L).forall(phases(_) == 4L))
  }

  test("supervisor stop during a slow query start cannot leak the query") {
    import graft.pipeline.{Pipeline, Runner, Supervisor}
    // slow startQuery: stop() will land while the start is in flight,
    // so the supervisor sees no current query to stop — the exact race
    // that used to leak a RUNNING query past stop()'s join timeout
    val startGate = new java.util.concurrent.CountDownLatch(1)
    val p = Pipeline("sup-race")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "100000000",
        "rate" -> "100000")
      .destination("sup-race-out", "memory")
    val ckpt = Fences.tempDir("sup-race")
    val sup = new Supervisor(() => {
      startGate.countDown()
      Thread.sleep(400) // stop() arrives inside this window
      Runner.start(spark, p, ckpt,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    }).start()
    startGate.await()
    val t0 = System.nanoTime()
    sup.stop()
    val stopSecs = (System.nanoTime() - t0) / 1e9
    assert(sup.status == sup.Status.Stopped)
    // the query started during stop() must be dead, promptly — not
    // leaked past a 30 s join timeout
    assert(stopSecs < 15, s"stop took ${stopSecs}s (join-timeout leak)")
    assert(sup.query.forall(!_.isActive), "leaked a running query")
  }

  test("curriculum hot-score refinement is bit-identical to the single window") {
    import graft.analytics.Sampling
    // one score value (7) carries 40 ties — with maxTaskRows = 4 it
    // must split into id-range buckets; phases must not change
    val rows = (1 to 40).map(i => (i.toLong, 7L)) ++
      (41 to 50).map(i => (i.toLong, i.toLong))
    val df = rows.toDF("id", "difficulty")
    val naive = Sampling.curriculum(df, "id", "difficulty", phases = 4,
        maxTaskRows = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val refined = Sampling.curriculum(df, "id", "difficulty", phases = 4,
        maxTaskRows = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(refined == naive, s"refined=$refined naive=$naive")
    // sanity: the split actually balances phases like NTILE (50/4 →
    // 13,13,12,12)
    assert(naive.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(1L -> 13, 2L -> 13, 3L -> 12, 4L -> 12))
  }

  test("sample.mixture_kl reads zero divergence at the target mix") {
    // 80 en tokens vs 20 de tokens against an 0.8/0.2 target → KL 0
    val docs = Seq((1L, "en", 50L), (2L, "en", 30L),
      (3L, "de", 15L), (4L, "de", 5L)).toDF("id", "lang", "tokens")
    val got = Registry.create("sample.mixture_kl",
      Map("stratum" -> ".Payload.After.lang",
        "tokens" -> ".Payload.After.tokens",
        "targets" -> "en:0.8,de:0.2"))(Cdc.wrap(docs, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("stratum").asText ->
        (p.get("share").asDouble, p.get("kl_term").asDouble)).toMap
    assert(got.keySet == Set("en", "de"))
    assert(got("en") == ((0.8, 0.0)) && got("de") == ((0.2, 0.0)), got.toString())
  }

  test("vocabCountSink totals cross batches and replays are idempotent") {
    import graft.streaming.StreamingOps
    val state = Fences.tempDir("vocab-sink")
    val b1 = Seq("alpha beta", "alpha").toDF("text")
    val b2 = Seq("beta gamma").toDF("text")
    val sink = StreamingOps.vocabCountSink(state, "text")
    sink(b1, 0L); sink(b2, 1L)
    def read() = spark.read.parquet(s"$state/batch=1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // beta appears ONCE per batch: a per-batch minCount=2 would have
    // dropped it from both; the state must carry its total of 2
    assert(read() == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    // at-least-once replay of batch 1 rewrites the same state
    sink(b2, 1L)
    assert(read() == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
  }

  test("mixtureKlSink state matches the batch verdict after any prefix") {
    import graft.analytics.Sampling
    import graft.streaming.StreamingOps
    val state = Fences.tempDir("mixkl-sink")
    val targets = Seq(("en", 0.8), ("de", 0.2))
    val b1 = Seq(("en", 50L), ("de", 10L)).toDF("lang", "n_tokens")
    val b2 = Seq(("en", 30L), ("de", 10L), ("xx", 99L)).toDF("lang", "n_tokens")
    val sink = StreamingOps.mixtureKlSink(state, "lang", "n_tokens", targets)
    sink(b1, 0L); sink(b2, 1L)
    val got = Sampling.mixtureKlFromCounts(
      spark.read.parquet(s"$state/batch=1"), "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(4))).toMap
    // 80 en / 20 de (xx outside the target set is excluded) → exactly
    // the target mix → zero KL terms
    assert(got == Map("en" -> ((80L, 0.8, 0.0)), "de" -> ((20L, 0.2, 0.0))),
      got.toString())
  }

  test("curriculum satisfies the NTILE laws on random corpora") {
    import graft.analytics.Sampling
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 8) {
      val n = 1 + rnd.nextInt(60)
      val k = 2 + rnd.nextInt(5)
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(6).toLong))
      val got = Sampling.curriculum(rows.toDF("id", "s"), "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == n)
      // sizes: first n%k phases get ceil(n/k), the rest floor — and
      // every phase 1..min(n,k) is non-empty
      val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
      val expect = (1 to math.min(n, k)).map(p =>
        p.toLong -> (n / k + (if (p <= n % k) 1 else 0))).toMap
        .filter(_._2 > 0)
      assert(sizes == expect, s"n=$n k=$k sizes=$sizes expect=$expect")
      // monotone: phases never decrease along the (score, id) order
      val phases = got.sortBy(t => (t._2, t._1)).map(_._3)
      assert(phases.zip(phases.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("curriculum ignores null scores in the histogram AND the output") {
    import graft.analytics.Sampling
    // a null score must neither join nor count — Row.getLong(null)
    // reads 0, which used to inflate score-0's prefix counts and
    // shift every later phase boundary
    val df = Seq((1L, Some(0L)), (2L, Some(0L)), (3L, None),
      (4L, Some(5L)), (5L, Some(9L))).toDF("id", "s")
      .withColumn("_s", col("s"))
    val got = Sampling.withCurriculumPhase(df, "id", phases = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("phase")).toMap
    // 4 scored rows → phases of size 2/2; the null row is absent
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 2L, 5L -> 2L), got.toString())
  }

  test("mixtureKl shares sum to one and the KL total is non-negative") {
    import graft.analytics.Sampling
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 6) {
      val strata = Seq("a", "b", "c", "d")
      val raw = strata.map(_ => 0.05 + rnd.nextDouble())
      val targets = strata.zip(raw.map(_ / raw.sum))
      // fix the rounding drift so the proportions sum to exactly 1
      val fixed = targets.init :+
        (targets.last._1, 1.0 - targets.init.map(_._2).sum)
      val rows = (1 to 200).map(i =>
        (strata(rnd.nextInt(4)), 1L + rnd.nextInt(100)))
      val got = Sampling.mixtureKl(rows.toDF("lang", "tk"), "lang", "tk",
        fixed).collect()
      assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-4)
      assert(got.map(_.getDouble(4)).sum > -1e-6,
        "KL(realized||target) must be >= 0 (Gibbs)")
    }
  }

  test("zipfFit recovers the exponent of a synthetic power law") {
    import graft.analytics.Text
    for (a <- Seq(0.8, 1.0, 1.3)) {
      val counts = (1 to 400).map(r =>
        (s"w$r", math.max(1L, math.round(100000.0 / math.pow(r, a)))))
        .toDF("token", "freq")
      val row = Text.zipfFitFromCounts(counts, topN = 4096).head()
      val slope = row.getDouble(1)
      // integer rounding of the counts flattens the tail slightly
      assert(math.abs(slope + a) < 0.1, s"a=$a slope=$slope")
    }
  }

  test("DataCard composes the profiling operators into one datasheet") {
    val card = graft.tools.DataCard.build(spark, "/root/testdata/sf0.001")
    val f = card.fields.toMap
    assert(f("n_docs") == 500L)
    assert(f("n_tokens").asInstanceOf[Long] > 10000L)
    assert(f("lang_tokens").asInstanceOf[Map[String, Long]].keySet ==
      Set("en", "fr", "es", "zh", "de"))
    val dup = f("exact_dup_rate").asInstanceOf[Double]
    assert(dup >= 0.0 && dup < 1.0)
    assert(f("zipf_slope").asInstanceOf[Double] < 0.0)
    val keep = f("gopher_keep_rate").asInstanceOf[Double]
    assert(keep >= 0.0 && keep <= 1.0)
    assert(f("gopher_pass_words_rate").asInstanceOf[Double] > 0.0)
    val fwk = f("fineweb_keep_rate").asInstanceOf[Double]
    assert(fwk >= 0.0 && fwk <= 1.0)
    // the synthetic corpus has a CLOSED ~31-token vocabulary: it
    // saturates in the first checkpoint, so β = 0 — exactly the
    // "stopped growing" reading the card is there to surface
    val hb = f("heaps_beta").asInstanceOf[Double]
    assert(hb >= 0.0 && hb <= 1.2, s"heaps_beta=$hb")
    // both renderings carry every metric
    assert(card.fields.forall { case (k, _) =>
      card.markdown.contains(k) && card.json.contains(s""""$k":""") })
    val parsed = graft.functions.JsonOps.parse(card.json)
    assert(parsed.get("n_docs").asLong == 500L)
    assert(parsed.get("lang_tokens").get("en").asLong > 0L)
    // 5 languages → 10 unordered pairs, each a bounded JSD
    val jsd = f("lang_jsd").asInstanceOf[Map[String, Double]]
    assert(jsd.size == 10)
    assert(jsd.values.forall(v => v >= 0.0 && v <= math.log(2.0) + 1e-9))
  }

  test("REST DLQ config round-trips and respects the running invariant") {
    val ckpt = Fences.tempDir("cp-dlq-ckpt")
    val cp = new graft.pipeline.ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def url(p: String) = URI.create(s"http://127.0.0.1:$port/v1/pipelines$p")
    def get(p: String) = client.send(HttpRequest.newBuilder(url(p)).GET()
      .build(), HttpResponse.BodyHandlers.ofString()).body()
    def put(p: String, body: String) = client.send(HttpRequest.newBuilder(
      url(p)).PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    val yaml =
      """version: 2.2
        |pipelines:
        |  - id: cp-dlq
        |    connectors:
        |      - id: gen
        |        type: source
        |        plugin: builtin:generator
        |        settings:
        |          format.options.id: int
        |          recordCount: "10"
        |      - id: out
        |        type: destination
        |        plugin: memory
        |""".stripMargin
    try {
      client.send(HttpRequest.newBuilder(url(""))
        .POST(HttpRequest.BodyPublishers.ofString(yaml)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get("/cp-dlq/dead-letter-queue") == """{"dlq":null}""")
      val resp = put("/cp-dlq/dead-letter-queue",
        """{"dlq":{"plugin":"builtin:log","windowSize":100,"windowNackThreshold":5}}""")
      assert(resp.statusCode() == 200, resp.body())
      assert(get("/cp-dlq/dead-letter-queue").contains("\"windowSize\":100"))
      assert(cp.config("cp-dlq").get.dlq.get.windowNackThreshold == 5)
      // the bare-object body form is accepted too
      assert(put("/cp-dlq/dead-letter-queue",
        """{"plugin":"builtin:log","windowSize":7,"windowNackThreshold":1}""")
        .statusCode() == 200)
      assert(get("/cp-dlq/dead-letter-queue").contains("\"windowSize\":7"))
      assert(get("/nope/dead-letter-queue").contains("error"))
    } finally cp.stop()
  }

  test("sprig-style template pipelines compile to SQL (field.set values)") {
    val df = Cdc.wrap(Seq((1L, "Ada Lovelace", "en"))
      .toDF("id", "name", "lang"), "id", "t")
    def setVal(tpl: String): String =
      Registry.create("field.set",
        Map("field" -> ".Payload.After.out", "value" -> tpl))(df)
        .select(col(Cdc.PayloadAfter)).collect().map(r =>
          graft.functions.JsonOps.parse(r.getString(0)).get("out").asText)
        .head
    // pipelines append the piped value as the last argument (Go rule)
    assert(setVal("{{ .Payload.After.name | upper }}") == "ADA LOVELACE")
    assert(setVal("{{ .Payload.After.name | lower | trunc 3 }}") == "ada")
    assert(setVal("{{ .Payload.After.name | replace \"Ada\" \"A.\" }}") == "A. Lovelace")
    assert(setVal("{{ .Payload.After.name | abbrev 6 }}") == "Ada...")
    assert(setVal("{{ .Payload.After.missing | default \"n/a\" }}") == "n/a")
    assert(setVal("{{ .Payload.After.name | sha256sum | trunc 8 }}")
      .matches("[0-9a-f]{8}"))
    // prefix calls without a pipe; %v renders like %s
    assert(setVal("{{ printf \"%s-%v\" .Payload.After.lang .Payload.After.id }}") == "en-1")
    assert(setVal("{{ b64enc .Payload.After.lang }}") == "ZW4=")
    assert(setVal("{{ .Payload.After.lang | b64enc | b64dec }}") == "en")
    // mixed literal text + pipeline segments
    assert(setVal("user:{{ .Payload.After.name | upper | trunc 3 }}!") == "user:ADA!")
    // bare SQL with `||` (concat) must NOT be parsed as a pipeline
    assert(setVal("{{ .Payload.After.lang || '-x' }}") == "en-x")
    // an unknown pipeline head falls back to plain SQL, untouched
    assert(setVal("{{ coalesce(.Payload.After.missing, 'z') }}") == "z")
  }

  test("GET /v1/processors/plugins serves the full catalogue with specs") {
    val ckpt = Fences.tempDir("cp-plug-ckpt")
    val cp = new graft.pipeline.ControlPlane(spark, ckpt)
    val port = cp.start(0)
    val client = HttpClient.newHttpClient()
    def get(p: String): String =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    try {
      val all = graft.functions.JsonOps.parse(get("/v1/processors/plugins"))
      assert(all.isArray)
      // one spec per catalogue entry == per registry factory
      assert(all.size() == graft.ops.Registry.entries.size)
      val names = (0 until all.size()).map(all.get(_).get("name").asText).toSet
      assert(names == graft.ops.Registry.factories.keySet)
      // spec shape: required settings carry a TYPE_REQUIRED validation
      val fieldSet = (0 until all.size()).map(all.get)
        .find(_.get("name").asText == "field.set").get
      val p = fieldSet.get("parameters").get("field")
      assert(p.get("validations").get(0).get("type").asText == "TYPE_REQUIRED")
      assert(fieldSet.get("version").asText.startsWith("v"))
      // served defaults are the ones the factories run with
      def params(name: String) = (0 until all.size()).map(all.get)
        .find(_.get("name").asText == name).get.get("parameters")
      assert(params("text.quality").get("field").get("default").asText == ".Payload.After")
      assert(params("text.c4").get("badWords").get("default").asText == "")
      assert(params("sketch.bloom").has("field"))
      // every setting an LLM processor reads is listed, aliases included
      def lists(plugin: String, names: String*) =
        names.foreach(n => assert(params(plugin).has(n), s"$plugin lists $n"))
      for (p <- Seq("openai.embed", "openai.embeddings"))
        lists(p, "url", "field", "result.field", "dimensions", "encoding_format", "user")
      lists("openai.textgen", "field", "result.field", "developer_message",
        "temperature", "top_p", "max_tokens", "max_completion_tokens")
      for (p <- Seq("ollama.request", "ollama")) lists(p, "url", "prompt", "field", "result.field")
      lists("cohere.embed", "inputField", "outputField", "field", "result.field")
      for (p <- Seq("cohere.command", "cohere.rerank"))
        lists(p, "request.body", "response.body", "field", "result.field")
      for (p <- Seq("openai.embed", "openai.embeddings", "openai.textgen",
          "cohere.command", "cohere.embed", "cohere.rerank", "ollama.request", "ollama"))
        lists(p, "batchSize", "maxTextsPerRequest", "backoffRetry.count", "max_retries",
          "backoffRetry.min", "initial_backoff", "backoffRetry.max", "max_backoff",
          "backoffRetry.factor", "backoff_factor", "apiKey", "api_key")
      assert(params("cohere.embed").get("batchSize").get("default").asText == "96")
      assert(params("openai.textgen").get("batchSize").get("default").asText == "1")
      assert(params("ollama").get("backoffRetry.min").get("default").asText == "100ms")
      lists("webhook.http", "request.contentType", "response.status")
      assert(params("openai.embed").get("field").get("default").asText == ".Payload.After")
      assert(params("ollama").get("url").get("default").asText == "http://localhost:11434")
      // name-regex filter narrows like the reference request
      val deduped = graft.functions.JsonOps.parse(
        get("/v1/processors/plugins?name=%5Ededup%5C."))
      assert(deduped.size() > 0 && deduped.size() < all.size())
      assert((0 until deduped.size()).forall(
        deduped.get(_).get("name").asText.startsWith("dedup.")))
      // GET /info: version/os/arch (reference InformationService)
      val info = graft.functions.JsonOps.parse(get("/info"))
      assert(info.get("version").asText == graft.ops.PluginCatalog.Version)
      assert(info.get("os").asText.nonEmpty && info.get("arch").asText.nonEmpty)
      // connector specs: source/destination param maps per plugin
      val conns = graft.functions.JsonOps.parse(get("/v1/connectors/plugins"))
      assert(conns.isArray &&
        conns.size() == graft.ops.PluginCatalog.connectors.size)
      val kafka = (0 until conns.size()).map(conns.get)
        .find(_.get("name").asText == "builtin:kafka").get
      assert(kafka.get("source_params").has("topics"))
      assert(kafka.get("destination_params").has("topic"))
      val log = (0 until conns.size()).map(conns.get)
        .find(_.get("name").asText == "builtin:log").get
      assert(log.get("source_params").isEmpty, "log is destination-only")
    } finally cp.stop()
  }

  // ---- wave 7: epochs up-sampling, Gopher rules, streaming exact dedup

  test("epochsUpsample: integer epochs give exact multiplicities, fractions gate deterministically") {
    import graft.analytics.Sampling
    val df = (0L until 400L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de"
          else if (i % 4 == 2) "fr" else "zh"))
      .toDF("doc_id", "lang")
    val out = Sampling.epochsUpsample(df, "doc_id", "lang",
      Seq(("en", 2.0), ("de", 0.5), ("fr", 0.0)), seed = 7).cache()
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: exactly 2 copies each (100 docs -> 200 rows), epochs {0,1}
    assert(byLang("en") == 200L)
    assert(out.filter($"lang" === "en").groupBy("doc_id").count()
      .filter($"count" =!= 2).isEmpty)
    // fr: explicit 0.0 -> dropped; zh unnamed -> dropped
    assert(!byLang.contains("fr") && !byLang.contains("zh"))
    // de: fraction 0.5 -> cut floor(.5*4096)=2048 of 4096 buckets;
    // every emitted row has exactly one copy (epoch 0) and the SAME
    // rows come back on a second run (hash gate, not rand)
    assert(out.filter($"lang" === "de").groupBy("doc_id").count()
      .filter($"count" =!= 1).isEmpty)
    val de1 = out.filter($"lang" === "de").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val de2 = Sampling.epochsUpsample(df, "doc_id", "lang",
      Seq(("de", 0.5)), seed = 7).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(de1.sameElements(de2))
    assert(de1.length > 20 && de1.length < 80, s"de kept ${de1.length}/100")
    // epoch index is contiguous from 0 per (doc, stratum)
    val eps = out.filter($"lang" === "en" && $"doc_id" === 0L)
      .select("epoch").collect().map(_.getLong(0)).sorted
    assert(eps.sameElements(Array(0L, 1L)))
    intercept[IllegalArgumentException] {
      Sampling.epochsUpsample(df, "doc_id", "lang",
        Seq(("en", 1.0), ("en", 2.0)))
    }
    intercept[IllegalArgumentException] {
      Sampling.epochsUpsample(df, "doc_id", "lang", Seq(("en", 65.0)))
    }
    out.unpersist()
  }

  test("gopherRules: each rule fires on a crafted violator and the clean doc keeps") {
    import graft.analytics.Text
    val clean = (("w" * 4) + " ") * 55 + "the of and that" // 59 words, len 4ish
    val docs = Seq(
      (0L, clean),                                    // passes all
      (1L, "the of and that tiny doc"),               // < 50 words
      (2L, (("w" * 20) + " ") * 60 + "the of"),       // mean word len > 10
      (3L, (("w" * 4) + "# ") * 60 + "the of"),       // symbol ratio > 0.1
      (4L, Array.fill(60)("• bullet the of").mkString("\n")), // bullets
      (5L, Array.fill(60)("the of words...").mkString("\n")), // ellipses
      (6L, (("9" * 4) + " ") * 60 + "the of"),        // alpha frac < 0.8
      (7L, (("w" * 4) + " ") * 60)                    // no stop words
    ).toDF("doc_id", "text")
    val got = Text.gopherRules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def b(id: Long, f: String) =
      got(id).getBoolean(got(id).fieldIndex(f))
    assert(b(0, "keep"), got(0).toString)
    assert(!b(1, "pass_words") && !b(1, "keep"))
    assert(!b(2, "pass_word_len") && !b(2, "keep"))
    assert(!b(3, "pass_symbol") && !b(3, "keep"))
    assert(!b(4, "pass_bullet") && !b(4, "keep"))
    assert(!b(5, "pass_ellipsis") && !b(5, "keep"))
    assert(!b(6, "pass_alpha") && !b(6, "keep"))
    assert(!b(7, "pass_stop") && !b(7, "keep"))
    // the violators fail ONLY their own rule (plus keep): crafted
    // docs stay clean on every other dimension
    assert(b(1, "pass_word_len") && b(1, "pass_symbol") && b(1, "pass_alpha"))
    assert(b(3, "pass_words") && b(3, "pass_word_len") && b(3, "pass_stop"))
  }

  test("text.gopher annotates metadata and drop=true filters; null text passes through") {
    val clean = (("w" * 4) + " ") * 55 + "the of and that"
    val recs = Cdc.wrap(Seq(
      (0L, clean), (1L, "too short the of")).toDF("id", "text"), "id", "docs")
    // a record whose payload has no text field at all
    val noText = Cdc.wrap(Seq(Tuple1(9L)).toDF("id"), "id", "docs")
    val both = recs.unionByName(noText, allowMissingColumns = true)
    val annotated = Registry.create("text.gopher",
      Map("field" -> ".Payload.After.text"))(both)
    val meta = annotated.select(
      col(Cdc.Metadata).getItem("gopher.keep").as("keep"),
      col(Cdc.Metadata).getItem("gopher.pass_words").as("pw"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(meta.count(_._1 == "true") == 1)
    assert(meta.count(_._1 == "false") == 1)
    assert(meta.count(_._1 == null) == 1, "absent text stays unannotated")
    val dropped = Registry.create("text.gopher",
      Map("field" -> ".Payload.After.text", "drop" -> "true"))(both)
    assert(dropped.count() == 1, "drop keeps only the passing record")
  }

  test("sample.epochs emits metadata-indexed copies with exact integer multiplicity") {
    val recs = Cdc.wrap((0L until 100L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang"), "id", "docs")
    val out = Registry.create("sample.epochs",
      Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
        "epochs" -> "en:2.0,de:0.5", "seed" -> "7"))(recs).cache()
    val en = out.filter(
      get_json_object(col(Cdc.PayloadAfter), "$.lang") === "en")
    assert(en.count() == 100L, "50 en docs x exactly 2 copies")
    val idx = en.select(
      col(Cdc.Metadata).getItem("epoch.index").as("i"))
      .groupBy("i").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == Map("0" -> 50L, "1" -> 50L), idx.toString)
    val de = out.filter(
      get_json_object(col(Cdc.PayloadAfter), "$.lang") === "de").count()
    assert(de > 5 && de < 45, s"de fractional kept $de/50")
    intercept[IllegalArgumentException] {
      Registry.create("sample.epochs", Map("stratum" -> ".Payload.After.lang",
        "id" -> ".Payload.After.id", "epochs" -> "en:1.0,en:2.0"))(recs)
    }
    out.unpersist()
  }

  test("stripHtml removes blocks, strips tags to spaces, decodes entities in order") {
    import graft.analytics.Text
    val html = "<div>a &amp;lt; b</div><script>if (1<2) bad()</script>" +
      "<style>p{}</style><p>x&nbsp;&#39;y&#39;</p><!-- gone --><b>keep</b>"
    val got = Text.stripHtml(Seq((1L, html)).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    // &amp;lt; decodes to &lt; (amp LAST, no double decode); the
    // script's 1<2 comparison goes with its block, not parsed as a tag
    assert(got.getString(1) == "a &lt; b x 'y' keep", got.getString(1))
    assert(got.getLong(2) == "a &lt; b x 'y' keep".length.toLong)
  }

  test("text.strip_html rewrites the payload field in place") {
    val recs = Cdc.wrap(Seq((1L, "<b>hi</b> &amp; bye"))
      .toDF("id", "text"), "id", "docs")
    val out = Registry.create("text.strip_html",
      Map("field" -> ".Payload.After.text"))(recs)
    val p = graft.functions.JsonOps.parse(
      out.select(col(Cdc.PayloadAfter)).head.getString(0))
    assert(p.get("text").asText == "hi & bye")
    assert(p.get("id").asLong == 1L, "other fields untouched")
  }

  test("naive bayes: disjoint vocabularies separate and OOV docs are omitted") {
    import graft.analytics.Text
    val docs = Seq(
      (0L, "good clean prose here", true),
      (1L, "good clean text here", true),
      (2L, "spam junk noise blob", false),
      (3L, "junk noise blob spam", false)).toDF("doc_id", "text", "lab")
    val model = Text.nbTrain(docs, "doc_id", "text", "lab").cache()
    val odds = model.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(odds("good") > 0 && odds("spam") < 0, odds.toString)
    val good = model.filter($"tok" === "good").head
    assert(good.getLong(1) == 2L && good.getLong(2) == 0L)
    val scored = Text.nbScore(docs, "doc_id", "text", model,
        Text.nbPrior(docs, "lab"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(scored == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false),
      scored.toString)
    // a doc with zero in-vocabulary tokens drops (OOV occurrences are
    // ignored, and nothing remains to fold)
    val oov = Seq((9L, "zzz qqq")).toDF("doc_id", "text")
    assert(Text.nbScore(oov, "doc_id", "text", model,
      Text.nbPrior(docs, "lab")).isEmpty)
    model.unpersist()
  }

  test("text.nb_train -> parquet -> text.nb composes in pure config") {
    val recs = Cdc.wrap(Seq(
      (0L, "good clean prose here", "en"),
      (1L, "good clean text here", "en"),
      (2L, "spam junk noise blob", "zz"),
      (3L, "junk noise blob spam", "zz"))
      .toDF("id", "text", "lang"), "id", "docs")
    val dir = Fences.tempDir("nb-model")
    Registry.create("text.nb_train", Map(
      "id" -> ".Payload.After.id", "label" -> ".Payload.After.lang",
      "posValue" -> "en"))(recs)
      .write.mode("overwrite").parquet(dir) // CDC-shaped model parquet
    val scored = Registry.create("text.nb", Map(
      "id" -> ".Payload.After.id", "modelTable" -> dir))(recs)
    val byDoc = scored.select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("doc_id").asLong -> p.get("pred_pos").asBoolean).toMap
    assert(byDoc == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false),
      byDoc.toString)
  }

  test("exactDedupSink: state equals the batch vote after any prefix and replays are idempotent") {
    import graft.streaming.StreamingOps
    import graft.analytics.Dedup
    val state = Fences.tempDir("exact-sink")
    val b1 = Seq((5L, "aaa"), (3L, "bbb"), (9L, "aaa")).toDF("doc_id", "text")
    val b2 = Seq((1L, "aaa"), (7L, "ccc"), (2L, "bbb")).toDF("doc_id", "text")
    val sink = StreamingOps.exactDedupSink(state, "doc_id", "text")
    sink(b1, 0L); sink(b2, 1L)
    def read() = spark.read.parquet(s"$state/batch=1")
      .select("keep_id", "dup_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchVote = Dedup.exact(b1.unionByName(b2), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(read() == batchVote && batchVote ==
      Map(1L -> 3L, 2L -> 2L, 7L -> 1L), read().toString)
    sink(b2, 1L) // at-least-once replay rewrites the same state
    assert(read() == batchVote)
  }
}
