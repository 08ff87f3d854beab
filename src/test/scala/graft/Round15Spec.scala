package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.{Dedup, Sketch}
import graft.model.Cdc
import graft.ops.Registry

/** Round-15 additions: KMV set algebra (pairwise union/intersection/
  * Jaccard estimates from grouped states), duplicate-aware soft
  * weights, and their registry promotions.
  */
class Round15Spec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("kmvSetOps: exact below k, pair coverage, partition invariance") {
    // a = {1..40}, b = {21..60}, c = {100..104}: all below k=64, so
    // every estimate must be EXACT (the states are the full sets)
    val rows = (1 to 40).map(i => ("a", i.toLong)) ++
      (21 to 60).map(i => ("b", i.toLong)) ++
      (100 to 104).map(i => ("c", i.toLong))
    val df = rows.toDF("g", "v")
    val st = Sketch.kmvState(df, Seq("g"), "v", k = 64)
    val out = Sketch.kmvSetOps(st, "g", k = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // every unordered pair, exactly once
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("n_common") == 20L)
    assert(ab.getAs[Double]("union_est") == 60.0)
    assert(ab.getAs[Double]("jaccard_est") == 20.0 / 60.0)
    assert(math.abs(ab.getAs[Double]("inter_est") - 20.0) < 1e-9)
    // disjoint pair: zero overlap, exact union
    val ac = out(("a", "c"))
    assert(ac.getAs[Long]("n_common") == 0L)
    assert(ac.getAs[Double]("union_est") == 45.0)
    assert(ac.getAs[Double]("inter_est") == 0.0)
    // partition invariance: the state is a pure function of the set
    val rep = Sketch.kmvSetOps(
      Sketch.kmvState(df.repartition(7), Seq("g"), "v", k = 64), "g", 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_common")).toMap
    assert(rep == out.view.mapValues(_.getAs[Long]("n_common")).toMap)
  }

  test("kmvSetOps: estimator accuracy above k") {
    // |A| = |B| = 5000, |A ∩ B| = 2500 → union 7500, jaccard 1/3
    val rows = (1 to 5000).map(i => ("a", i.toLong)) ++
      (2501 to 7500).map(i => ("b", i.toLong))
    val st = Sketch.kmvState(rows.toDF("g", "v"), Seq("g"), "v", k = 256)
    val r = Sketch.kmvSetOps(st, "g", k = 256).collect().head
    val uni = r.getAs[Double]("union_est")
    val jac = r.getAs[Double]("jaccard_est")
    val inter = r.getAs[Double]("inter_est")
    assert(uni > 6000 && uni < 9000, s"union $uni")
    assert(jac > 0.2 && jac < 0.5, s"jaccard $jac")
    assert(inter > 1500 && inter < 3700, s"inter $inter")
  }

  test("kmvSetOps equals exact set algebra on random sets below k") {
    // randomized cross-formulation equivalence (the RandomizedEquivSpec
    // class of evidence): with every group below k the sketch IS the
    // set, so union/intersection/jaccard must be EXACT on any input
    val rnd = new scala.util.Random(2718)
    for (trial <- 1 to 3) {
      val groups = Seq("a", "b", "c", "d")
      val sets = groups.map(g => g ->
        (1 to 300).map(_ => rnd.nextInt(500).toLong).toSet).toMap
      val rows = sets.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      val st = Sketch.kmvState(rows.toDF("g", "v"), Seq("g"), "v", k = 1024)
      val got = Sketch.kmvSetOps(st, "g", k = 1024).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n_common"), r.getAs[Double]("union_est"),
            r.getAs[Double]("jaccard_est"))).toMap
      assert(got.size == 6, s"trial $trial: ${got.keySet}")
      for (Seq(a, b) <- groups.combinations(2)) {
        val (sa, sb) = (sets(a), sets(b))
        val (u, i) = ((sa | sb).size.toLong, (sa & sb).size.toLong)
        val (nc, ue, je) = got((a, b))
        assert(nc == i, s"trial $trial $a/$b common $nc != $i")
        assert(ue == u.toDouble, s"trial $trial $a/$b union $ue != $u")
        assert(je == i.toDouble / u.toDouble, s"trial $trial $a/$b jaccard")
      }
    }
  }

  test("softWeights: 1/|C| weights, each cluster sums to one doc") {
    val docs = Seq(
      (1L, "the same duplicated boilerplate paragraph body here"),
      (2L, "the same duplicated boilerplate paragraph body here"),
      (3L, "the same duplicated boilerplate paragraph body here"),
      (10L, "a completely different unique document about graphs"),
      (11L, "another unrelated text concerning streaming engines"))
      .toDF("doc_id", "text")
    val w = Dedup.softWeights(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Double]("weight"))).toMap
    assert(w.size == 5) // no document dropped
    assert(w(1L) == ((1L, 3L, 1.0 / 3.0)))
    assert(w(2L) == ((1L, 3L, 1.0 / 3.0)))
    assert(w(3L) == ((1L, 3L, 1.0 / 3.0)))
    assert(w(10L) == ((10L, 1L, 1.0)))
    assert(w(11L) == ((11L, 1L, 1.0)))
    // invariant: Σ weight per cluster == 1.0 (3 · 1/3 is IEEE-exact
    // only by luck; assert within one ulp-scale tolerance)
    val sums = Dedup.softWeights(docs, "doc_id", "text")
      .groupBy("cluster_id").agg(sum("weight").as("s"))
      .collect().map(_.getAs[Double]("s"))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-12), sums.mkString(","))
  }

  test("dedup.url plugin canonicalizes into metadata") {
    val rows = Seq(
      (1L, "HTTP://User:Pw@Example.COM:80/a?utm_source=x&b=2&a=1#frag"),
      (2L, "https://site.org:443"),
      (3L, "not a url at all"),
      (4L, null: String)) // null field: metadata untouched, no null key
    val base = Cdc.wrap(rows.toDF("id", "url"), "id", "t")
    val got = Registry.create("dedup.url",
      Map("field" -> ".Payload.After.url"))(base)
    assert(got.columns.toSeq == Cdc.columns) // schema kept, composes
    val m = got.select(col(Cdc.Key),
      col(Cdc.Metadata).getItem("url.canonical")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m("""{"id":1}""") == Some("http://example.com/a?a=1&b=2"))
    assert(m("""{"id":2}""") == Some("https://site.org/"))
    assert(m("""{"id":3}""") == Some("not a url at all"))
    assert(m("""{"id":4}""") == None)
  }

  test("kmvSetOps fails loudly when k is smaller than the build k") {
    val rows = (1 to 500).map(i => ("a", i.toLong)) ++
      (1 to 500).map(i => ("b", i.toLong))
    val st = Sketch.kmvState(rows.toDF("g", "v"), Seq("g"), "v", k = 128)
    val e = intercept[Exception] {
      Sketch.kmvSetOps(st, "g", k = 64).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("built with")), e.toString)
  }

  test("bpeSegment: per-doc sequences are consistent with bpeApply") {
    import graft.analytics.Text
    val docs = Seq(
      (1L, "fast sort fast sort merge"),
      (2L, "fast sort and fast hash"),
      (3L, ""),
      (4L, "sort fast"))
      .toDF("doc_id", "text")
    val merges = Seq(("fast", "sort"), ("fast sort", "merge"))
    val seg = Text.bpeSegment(docs, "doc_id", "text", merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[String]("tokens"))).toMap
    // (fast, sort) fuses both occurrences in doc 1, then
    // (fast sort, merge) fuses the trailing pair
    assert(seg(1L) == ((2L, "fast sort\u001ffast sort merge")), seg(1L))
    assert(seg(2L) == ((4L, "fast sort\u001fand\u001ffast\u001fhash")))
    assert(seg(3L) == ((0L, "")))
    assert(seg(4L) == ((2L, "sort\u001ffast"))) // order matters: no merge
    // exploding the segment tokens reproduces bpeApply's vocabulary
    val fromSeg = Text.bpeSegment(docs, "doc_id", "text", merges)
      .select(explode(split(col("tokens"), "\u001f")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = Text.bpeApply(docs, "doc_id", "text", merges)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(fromSeg == vocab)
  }

  test("text.bpe plugin segments with a trained parquet merge list") {
    import graft.analytics.Text
    val docs = Seq(
      (1L, "fast sort fast sort fast sort"),
      (2L, "fast sort wins"))
      .toDF("doc_id", "text")
    val mergesDir = Fences.tempDir("bpe-merges")
    Text.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .write.mode("overwrite").parquet(mergesDir)
    val got = Registry.create("text.bpe",
      Map("id" -> ".Payload.After.doc_id", "field" -> ".Payload.After.text",
        "mergesTable" -> mergesDir))(Cdc.wrap(docs, "doc_id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("doc_id").asLong ->
        (p.get("n_tokens").asLong, p.get("tokens").asText)).toMap
    val merges = Text.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val want = Text.bpeSegment(docs, "doc_id", "text", merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[String]("tokens"))).toMap
    assert(got == want)
  }

  test("enrich.asof joins the most recent version into metadata") {
    val versions = Seq(
      (1L, 100L, 9.99), (1L, 200L, 12.50), (2L, 150L, 3.00))
      .toDF("key", "ts", "price")
    val dir = Fences.tempDir("asof-tab")
    versions.write.mode("overwrite").parquet(dir)
    val recs = Seq(
      (10L, 1L, 150L),  // between v100 and v200 -> 9.99
      (11L, 1L, 200L),  // inclusive tie -> 12.50
      (12L, 2L, 500L),  // after the only version -> 3.0
      (13L, 2L, 100L),  // BEFORE every version -> no asof key
      (14L, 9L, 300L))  // unknown key -> no asof key
      .toDF("id", "k", "t")
    val got = Registry.create("enrich.asof",
      Map("key" -> ".Payload.After.k", "time" -> ".Payload.After.t",
        "table" -> dir, "values" -> "price"))(Cdc.wrap(recs, "id", "t"))
    assert(got.columns.toSeq == Cdc.columns)
    val m = got.select(col(Cdc.Key),
      col(Cdc.Metadata).getItem("asof.price"),
      col(Cdc.Metadata).getItem("asof.matched")).collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)), r.getString(2))))
      .toMap
    assert(m("""{"id":10}""") == ((Some("9.99"), "true")))
    assert(m("""{"id":11}""") == ((Some("12.5"), "true")))
    assert(m("""{"id":12}""") == ((Some("3.0"), "true")))
    assert(m("""{"id":13}""") == ((None, "false")))
    assert(m("""{"id":14}""") == ((None, "false")))
  }

  test("enrich.asof: a matched version with a NULL value is not a no-match") {
    val versions = Seq((1L, 100L, Some(9.99)), (1L, 200L, None))
      .toDF("key", "ts", "price")
    val dir = Fences.tempDir("asof-null-tab")
    versions.write.mode("overwrite").parquet(dir)
    val recs = Seq((20L, 1L, 250L)).toDF("id", "k", "t") // matches the NULL version
    val got = Registry.create("enrich.asof",
      Map("key" -> ".Payload.After.k", "time" -> ".Payload.After.t",
        "table" -> dir, "values" -> "price"))(Cdc.wrap(recs, "id", "t"))
      .select(col(Cdc.Metadata)).collect().head.getMap[String, String](0)
    assert(got.get("asof.matched").contains("true"), got.toString())
    assert(!got.contains("asof.price"), got.toString()) // null value omits its key
  }

  test("enrich.asof is stream-static: streamed records enrich identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val versions = Seq((1L, 100L, 9.99), (1L, 200L, 12.50))
      .toDF("key", "ts", "price")
    val dir = Fences.tempDir("asof-stream-tab")
    versions.write.mode("overwrite").parquet(dir)
    val settings = Map("key" -> ".Payload.After.k",
      "time" -> ".Payload.After.t", "table" -> dir, "values" -> "price")
    val rows = Seq((10L, 1L, 150L), (11L, 1L, 250L), (12L, 1L, 50L))
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col(Cdc.Key), col(Cdc.Metadata).getItem("asof.price"))
    val batch = proj(Registry.create("enrich.asof", settings)(
      Cdc.wrap(rows.toDF("id", "k", "t"), "id", "t"))).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val in = MemoryStream[(Long, Long, Long)]
    val q = Registry.create("enrich.asof", settings)(
      Cdc.wrap(in.toDF().toDF("id", "k", "t"), "id", "t"))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try { in.addData(rows); q.processAllAvailable() } finally q.stop()
    val got = proj(spark.table("asof_stream")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == batch && got("""{"id":12}""") == None)
  }

  test("tokenMixture: token-weighted budget, binding stratum keeps all") {
    import graft.analytics.Sampling
    // en: 10 docs x 100 tokens = 1000; de: 20 docs x 10 tokens = 200.
    // targets 0.8/0.2 -> budget = min(1000/0.8, 200/0.2) = 1000, so de
    // (the binding stratum) keeps EVERYTHING and en keeps 80% in
    // expectation (cut = floor(0.8*1000/1000 * 4096) = 3276)
    val rows = (1 to 10).map(i => (i.toLong, "en", 100L)) ++
      (100 to 119).map(i => (i.toLong, "de", 10L))
    val df = rows.toDF("doc_id", "lang", "n_tokens")
    val got = Sampling.tokenMixture(df, "doc_id", "lang", "n_tokens",
      Seq(("en", 0.8), ("de", 0.2)), seed = 7).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(got.count(_._2 == "de") == 20, "binding stratum must keep all")
    assert(got.count(_._2 == "en") < 10, "en must downsample")
    // deterministic: same rows every run, any partitioning
    val rep = Sampling.tokenMixture(df.repartition(5), "doc_id", "lang",
      "n_tokens", Seq(("en", 0.8), ("de", 0.2)), seed = 7).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rep.toSet == got.toSet)
    // duplicate stratum rejected (the sample.mixture ADVICE class)
    intercept[IllegalArgumentException] {
      Sampling.tokenMixture(df, "doc_id", "lang", "n_tokens",
        Seq(("en", 0.5), ("en", 0.3), ("de", 0.2)))
    }
  }

  test("sample.token_mixture plugin gates by token-weighted cuts") {
    import graft.analytics.Sampling
    val rows = (1 to 10).map(i => (i.toLong, "en", 100L)) ++
      (100 to 119).map(i => (i.toLong, "de", 10L))
    val df = rows.toDF("id", "lang", "n")
    val got = Registry.create("sample.token_mixture",
      Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
        "tokens" -> ".Payload.After.n", "targets" -> "en:0.8,de:0.2",
        "seed" -> "7"))(Cdc.wrap(df, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("lang").asText)
    assert(got.count(_ == "de") == 20) // binding stratum keeps all
    assert(got.count(_ == "en") < 10)
    assert(got.toSet == Set("en", "de"))
  }

  test("text.entropy plugin matches the library operator") {
    val docs = Seq((1L, "a a a a"), (2L, "w x y z"), (3L, ""))
      .toDF("id", "text")
    val got = Registry.create("text.entropy",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"))(
        Cdc.wrap(docs, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("_id").asLong ->
        (p.get("n_distinct").asLong, p.get("entropy").asDouble)).toMap
    // single token repeated -> entropy 0; 4 distinct -> ln 4
    assert(got(1L) == ((1L, 0.0)), got.toString)
    assert(got(2L)._1 == 4L && math.abs(got(2L)._2 - math.log(4)) < 1e-12)
  }

  test("text.bpe_train + text.bpe compose: train to parquet, apply") {
    import graft.analytics.Text
    val docs = Seq((1L, "fast sort fast sort fast sort"),
      (2L, "fast sort beats slow sort")).toDF("id", "text")
    val base = Cdc.wrap(docs, "id", "t")
    val trained = Registry.create("text.bpe_train",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "rounds" -> "2"))(base)
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => (p.get("round").asLong, p.get("sym_a").asText,
        p.get("sym_b").asText, p.get("pair_count").asLong))
    val want = Text.bpeTrain(docs, "id", "text", rounds = 2).collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(trained.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
    // the parquet-destination handoff the Scaladoc promises
    val dir = Fences.tempDir("bpe-pipe")
    Text.bpeTrain(docs, "id", "text", rounds = 2)
      .write.mode("overwrite").parquet(dir)
    val applied = Registry.create("text.bpe",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "mergesTable" -> dir))(base)
    assert(applied.count() == 2)
  }

  test("sketch.overlap estimates batch-vs-history overlap exactly below k") {
    // history = ids 1..60, batch = ids 41..100: overlap 20, union 100
    // — both below k=256, so the estimates are EXACT
    val dir = Fences.tempDir("overlap-hist")
    (1 to 60).map(i => s"doc$i").toDF("text")
      .write.mode("overwrite").parquet(dir)
    val batch = (41 to 100).map(i => (i.toLong, s"doc$i")).toDF("id", "text")
    val got = Registry.create("sketch.overlap",
      Map("field" -> ".Payload.After.text", "historyTable" -> dir,
        "k" -> "256"))(Cdc.wrap(batch, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
    assert(got.length == 1)
    val p = got.head
    assert(p.get("type_a").asText == "batch" &&
      p.get("type_b").asText == "history")
    assert(p.get("n_common").asLong == 20L, p.toString)
    assert(p.get("union_est").asDouble == 100.0)
    assert(p.get("jaccard_est").asDouble == 0.2)
  }

  test("dedup.softweight plugin matches the library operator") {
    val rows = Seq(
      (1L, "the same duplicated boilerplate paragraph body here"),
      (2L, "the same duplicated boilerplate paragraph body here"),
      (7L, "a lone unique document body"))
    val df = rows.toDF("id", "text")
    val got = Registry.create("dedup.softweight",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"))(
        Cdc.wrap(df, "id", "t"))
      .select(col(Cdc.PayloadAfter)).collect()
      .map(r => graft.functions.JsonOps.parse(r.getString(0)))
      .map(p => p.get("doc_id").asLong ->
        (p.get("cluster_size").asLong, p.get("weight").asDouble)).toMap
    val want = Dedup.softWeights(df, "id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Double]("weight"))).toMap
    assert(got == want)
    assert(got(1L) == ((2L, 0.5)) && got(7L) == ((1L, 1.0)))
  }
}
