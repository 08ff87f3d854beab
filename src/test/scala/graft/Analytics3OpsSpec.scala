package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.ops.Registry
import graft.pipeline.{PipelineConfig, ProcessorConfig, Pipeline => Dsl}

/** Registry analytics plugins, part 2: text curation
  * annotators, near-dup/semantic dedup reshapes, similarity search,
  * temperature sampling, outlier screens, and sketches — each created
  * from pure string settings and checked against its Scala operator.
  */
class Analytics3OpsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def wrap(df: org.apache.spark.sql.DataFrame, key: String) =
    Cdc.wrap(df, key, "t")

  private def payloads(df: org.apache.spark.sql.DataFrame) =
    df.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))

  test("text.quality annotates metadata with the oracled feature set") {
    val texts = Seq((1L, "The quick brown fox, it jumps over 3 lazy dogs."),
      (2L, "word"))
    val base = wrap(texts.toDF("id", "text"), "id")
    val out = Registry.create("text.quality",
      Map("field" -> ".Payload.After.text"))(base)
    assert(out.columns.toSeq == Cdc.columns)
    val got = out.select(col(Cdc.Key), col(Cdc.Metadata)).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)).toMap
    val want = graft.analytics.Text.qualityScore(
        texts.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    texts.foreach { case (id, _) =>
      val m = got(s"""{"id":$id}""")
      val w = want(id)
      assert(m("quality.n_tokens") == w.getAs[Long]("n_tokens").toString)
      assert(m("quality.stopword_ratio") ==
        w.getAs[Double]("stopword_ratio").toString)
      assert(m("quality.mean_token_len") ==
        w.getAs[Double]("mean_token_len").toString)
    }
  }

  test("text.langid / text.fingerprint / text.tokens annotators match operators") {
    val texts = Seq((1L, "the house is on the hill and the cat is in it"),
      (2L, "der hund und die katze gehen in den garten"))
    val df = texts.toDF("id", "text")
    val base = wrap(df, "id")

    val lang = Registry.create("text.langid",
      Map("field" -> ".Payload.After.text"))(base)
      .select(col(Cdc.Key), col(Cdc.Metadata).getItem("lang.pred"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantLang = graft.analytics.Text.langId(df, "id", "text")
      .collect().map(r => s"""{"id":${r.getLong(0)}}""" -> r.getString(1)).toMap
    assert(lang == wantLang, s"$lang vs $wantLang")
    assert(lang("""{"id":1}""") == "en" && lang("""{"id":2}""") == "de")

    val fp = Registry.create("text.fingerprint",
      Map("field" -> ".Payload.After.text"))(base)
      .select(col(Cdc.Key), col(Cdc.Metadata).getItem("fingerprint"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantFp = graft.analytics.Text.fingerprint(df, "id", "text")
      .collect().map(r => s"""{"id":${r.getLong(0)}}""" -> r.getLong(1).toString)
      .toMap
    assert(fp == wantFp)

    val tok = Registry.create("text.tokens",
      Map("field" -> ".Payload.After.text"))(base)
      .select(col(Cdc.Key), col(Cdc.Metadata).getItem("tokens.ws"),
        col(Cdc.Metadata).getItem("tokens.bpeish"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(tok("""{"id":1}""")._1 == "12", tok.toString)
    assert(tok("""{"id":2}""")._1 == "9")
    assert(tok.values.forall(_._2.toLong > 0))
  }

  test("text.pii redacts the payload field in place and counts in metadata") {
    val base = wrap(Seq(
      (1L, "mail me at a.b@example.com or 10.0.0.1 thanks"),
      (2L, "call +1 555-123-4567 now"))
      .toDF("id", "text"), "id")
    val out = Registry.create("text.pii",
      Map("field" -> ".Payload.After.text"))(base)
    assert(out.columns.toSeq == Cdc.columns)
    val rows = out.select(col(Cdc.Key), col(Cdc.PayloadAfter), col(Cdc.Metadata))
      .collect().map(r => (r.getString(0),
        JsonOps.parse(r.getString(1)).get("text").asText,
        r.getMap[String, String](2)))
    val r1 = rows.find(_._1 == """{"id":1}""").get
    assert(r1._2 == "mail me at <EMAIL> or <IP> thanks", r1._2)
    assert(r1._3("pii.n_emails") == "1" && r1._3("pii.n_ips") == "1" &&
      r1._3("pii.n_phones") == "0")
    val r2 = rows.find(_._1 == """{"id":2}""").get
    assert(r2._2 == "call <PHONE> now", r2._2)
    assert(r2._3("pii.n_phones") == "1")
  }

  test("dedup.minhash / dedup.simhash / dedup.clusters reshape into pair/cluster records") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      // hamming(simhash) = 3 from doc 1 (probed) and 3-shingle
      // Jaccard 9/11 — inside both operators' default gates
      (2L, "a quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark catalyst optimizer rules"))
    val base = wrap(docs.toDF("id", "text"), "id")

    // r=2 rows per band: J=9/11 pairs collide with probability
    // 1-(1-J²)^16 ≈ 1-1e-8 — the default r=8 geometry is tuned for
    // J≥0.8 corpora and can miss this 0.82 pair
    val mh = payloads(Registry.create("dedup.minhash",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "numHashes" -> "32", "numBands" -> "16",
        "threshold" -> "0.5"))(base))
      .map(p => (p.get("id_a").asText, p.get("id_b").asText))
    assert(mh.toSeq == Seq(("1", "2")), mh.mkString(","))

    val sh = payloads(Registry.create("dedup.simhash",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "maxHamming" -> "3"))(base))
      .map(p => (p.get("id_a").asText, p.get("id_b").asText))
    assert(sh.toSeq == Seq(("1", "2")), sh.mkString(","))

    val cl = payloads(Registry.create("dedup.clusters",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"))(base))
      .map(p => p.get("doc_id").asText ->
        (p.get("cluster_id").asText, p.get("keep").asBoolean)).toMap
    assert(cl("1") == ("1", true) && cl("2") == ("1", false) &&
      cl("3") == ("3", true), cl.toString)
  }

  test("dedup.semantic / sim.topk parse embedding payloads and match operators") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.045, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)))
    val base = wrap(vecs.toDF("id", "vec"), "id")

    val sd = payloads(Registry.create("dedup.semantic",
      Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
        "k" -> "1", "threshold" -> "0.99"))(base))
      .map(p => p.get("vec_id").asText ->
        (p.get("rep_id").asText, p.get("keep").asBoolean)).toMap
    assert(sd("1") == ("1", true) && sd("2") == ("1", false) &&
      sd("3") == ("3", true), sd.toString)

    val tk = payloads(Registry.create("sim.topk",
      Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
        "k" -> "1", "nlist" -> "1"))(base))
      .map(p => p.get("node").asText -> p.get("nbr").asText).toMap
    assert(tk("1") == "2" && tk("2") == "1", tk.toString)
  }

  test("text.decontaminate flags corpus docs sharing eval 8-grams") {
    val evalDir = Fences.tempDir("decon")
    Seq("alpha beta gamma delta epsilon zeta eta theta iota")
      .toDF("text").write.mode("overwrite").parquet(evalDir)
    val base = wrap(Seq(
      (1L, "prefix alpha beta gamma delta epsilon zeta eta theta iota suffix"),
      (2L, "nothing shared here at all with the held out evaluation texts"))
      .toDF("id", "text"), "id")
    val got = payloads(Registry.create("text.decontaminate",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "evalTable" -> evalDir))(base))
      .map(p => p.get("_id").asText -> p.get("contaminated").asBoolean).toMap
    assert(got == Map("1" -> true, "2" -> false), got.toString)
  }

  test("sample.temperature flattens skewed strata and keeps the CDC schema") {
    val rows = (1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 110).map(i => (i.toLong, "small"))
    val base = wrap(rows.toDF("id", "lang"), "id")
    val proc = Registry.create("sample.temperature",
      Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
        "temperature" -> "2.0", "seed" -> "1"))
    val out = proc(base)
    assert(out.columns.toSeq == Cdc.columns)
    val kept = payloads(out).map(p => p.get("lang").asText)
      .groupBy(identity).view.mapValues(_.length).toMap
    // sqrt weights: the small stratum keeps everything (f capped at 1),
    // the big one downsamples to ~84%
    assert(kept("small") == 10, kept.toString)
    assert(kept("big") < 100 && kept("big") > 60, kept.toString)
    // deterministic: same settings, same sample
    val again = payloads(proc(base)).map(p => p.get("id").asLong).toSet
    assert(again == payloads(out).map(p => p.get("id").asLong).toSet)
  }

  test("stats.outliers keeps exactly the z-flagged records, schema untouched") {
    val rows = Seq((1L, "g", 10.0), (2L, "g", 10.5), (3L, "g", 9.5),
      (4L, "g", 10.0), (5L, "g", 100.0))
    val base = wrap(rows.toDF("id", "grp", "v"), "id")
    val out = Registry.create("stats.outliers",
      Map("groups" -> ".Payload.After.grp", "value" -> ".Payload.After.v",
        "z" -> "1"))(base)
    assert(out.columns.toSeq == Cdc.columns)
    val ids = payloads(out).map(_.get("id").asLong).toSet
    assert(ids == Set(5L), ids.toString)
  }

  test("sketch.hll / sketch.topk match their Scala operators") {
    val rows = (1 to 300).map(i => (i.toLong, s"g${i % 2}", s"u${i % 37}"))
    val base = wrap(rows.toDF("id", "g", "u"), "id")
    val hll = payloads(Registry.create("sketch.hll",
      Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.u"))(base))
      .map(p => p.get("g").asText -> p.get("estimate").asDouble).toMap
    import graft.analytics.HashFunctions.fnv1a_hash
    val want = graft.analytics.Sketch.hllDistinct(
        rows.map { case (_, g, u) => (g, u) }.toDF("g", "u")
          .select(col("g"), fnv1a_hash(col("u")).as("h")),
        Seq("g"), "h")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("estimate")).toMap
    assert(hll == want, s"$hll vs $want")
    assert(hll.values.forall(e => e > 30 && e < 45), hll.toString)

    val items = Seq.fill(5)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold")
    val tbase = wrap(items.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "item"), "id")
    val topk = payloads(Registry.create("sketch.topk",
      Map("value" -> ".Payload.After.item", "threshold" -> "2"))(tbase))
      .map(p => p.get("item").asText -> p.get("cnt").asLong).toMap
    assert(topk == Map("hot" -> 5L, "warm" -> 3L), topk.toString)
  }

  test("privacy.ldiv / privacy.tclose audit disclosure per QI group") {
    // group z0: sensitive constant (diversity 1); z1: two values
    val rows = (1 to 20).map(i =>
      (i.toLong, s"z${i % 2}", if (i % 2 == 0) "flu" else s"d${i % 4}"))
    val base = wrap(rows.toDF("id", "zip", "diag"), "id")
    val ld = payloads(Registry.create("privacy.ldiv",
      Map("fields" -> ".Payload.After.zip",
        "sensitive" -> ".Payload.After.diag", "l" -> "2"))(base))
      .map(p => p.get("zip").asText -> p.get("ok").asBoolean).toMap
    assert(ld == Map("z0" -> false, "z1" -> true), ld.toString)

    val tc = payloads(Registry.create("privacy.tclose",
      Map("fields" -> ".Payload.After.zip",
        "sensitive" -> ".Payload.After.diag"))(base))
      .map(p => p.get("zip").asText -> p.get("emd").asDouble).toMap
    val want = graft.analytics.Privacy.tCloseness(
        rows.map { case (_, z, d) => (z, d) }.toDF("zip", "diag"),
        Seq("zip"), "diag")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("emd")).toMap
    assert(tc == want, s"$tc vs $want")
    // two complementary groups sit equally far from the pooled
    // distribution; the point is a nonzero, bounded EMD
    assert(tc.values.forall(e => e > 0 && e <= 1), tc.toString)
  }

  test("sketch.kll / sketch.hist quantiles match their Scala operators") {
    val rows = (1 to 1000).map(i => (i.toLong, s"g${i % 2}", i.toDouble))
    val base = wrap(rows.toDF("id", "g", "v"), "id")
    val kll = payloads(Registry.create("sketch.kll",
      Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v",
        "id" -> ".Payload.After.id"))(base))
      .map(p => p.get("g").asText -> p.get("p50").asDouble).toMap
    import graft.analytics.HashFunctions.fnv1a_hash
    val flat = rows.map { case (i, g, v) => (i.toString, g, v) }
      .toDF("id", "g", "v")
      .select(col("g"), col("v"), fnv1a_hash(col("id")).as("rid"))
    val want = graft.analytics.Sketch.kllQuantiles(
        graft.analytics.Sketch.kllState(flat, Seq("g"), "v", "rid"),
        Seq("g"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("p50")).toMap
    assert(kll == want, s"$kll vs $want")
    kll.values.foreach(m => assert(m > 300 && m < 700, kll.toString))

    val hist = payloads(Registry.create("sketch.hist",
      Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v",
        "lo" -> "0", "width" -> "10", "bins" -> "128",
        "quantiles" -> "0.5"))(base))
      .map(p => p.get("g").asText -> p.get("est").asDouble).toMap
    assert(hist.size == 2 &&
      hist.values.forall(m => m > 400 && m < 600), hist.toString)
  }

  test("text.normalize rewrites in place; repetition/novelty reshape") {
    val base = wrap(Seq((1L, "  Hello\t WORLD  "), (2L, "a a a a b"))
      .toDF("id", "text"), "id")
    val norm = Registry.create("text.normalize",
      Map("field" -> ".Payload.After.text"))(base)
    assert(norm.columns.toSeq == Cdc.columns)
    val texts = payloads(norm).map(p =>
      p.get("id").asLong -> p.get("text").asText).toMap
    assert(texts(1L) == "hello world", texts.toString)

    val rep = payloads(Registry.create("text.repetition",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"))(base))
      .map(p => p.get("_id").asText -> p.get("frac_dup_words").asDouble).toMap
    assert(rep("2") == 0.6, rep.toString) // 3 repeated of 5 tokens

    val docs = wrap(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"))
      .toDF("id", "text"), "id")
    val nov = payloads(Registry.create("text.novelty",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "n" -> "3"))(docs))
      .map(p => p.get("doc_id").asText -> p.get("novelty").asDouble).toMap
    // doc 1 owns both its trigrams; doc 2 shares one of two
    assert(nov == Map("1" -> 1.0, "2" -> 0.5), nov.toString)
  }

  test("sample.mixture keeps the target mix as a pure filter") {
    val rows = (1 to 300).map(i => (i.toLong,
      if (i <= 200) "en" else if (i <= 280) "de" else "fr"))
    val base = wrap(rows.toDF("id", "lang"), "id")
    val out = Registry.create("sample.mixture",
      Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
        "targets" -> "en:0.5,de:0.5", "seed" -> "3"))(base)
    assert(out.columns.toSeq == Cdc.columns)
    val kept = payloads(out).map(_.get("lang").asText)
      .groupBy(identity).view.mapValues(_.length).toMap
    // de binds (80 rows / 0.5 = 160 budget): de kept whole, en ≈ 80,
    // fr (unnamed) dropped entirely
    assert(!kept.contains("fr"), kept.toString)
    assert(kept("de") == 80, kept.toString)
    assert(kept("en") > 50 && kept("en") < 110, kept.toString)
  }

  test("sample.mixture rejects a duplicated target stratum") {
    // a:0.5,a:0.3,b:0.2 sums to 1 on the raw list but toMap would
    // silently sample with a=0.3 — must be rejected, not mis-mixed
    val e = intercept[IllegalArgumentException] {
      Registry.create("sample.mixture",
        Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
          "targets" -> "a:0.5,a:0.3,b:0.2", "seed" -> "3"))
    }
    assert(e.getMessage.contains("duplicate target stratum"), e.getMessage)
  }

  test("retrieval.bm25 / dedup.incremental reshape with external state") {
    val docs = wrap(Seq(
      (1L, "spark catalyst optimizer rules"),
      (2L, "spark streaming watermarks"),
      (3L, "cooking pasta at home"))
      .toDF("id", "text"), "id")
    val hits = payloads(Registry.create("retrieval.bm25",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "query" -> "spark optimizer", "topK" -> "2"))(docs))
      .map(p => (p.get("rank").asInt, p.get("doc_id").asText))
    assert(hits.sorted.head == (1, "1"), hits.mkString(","))
    assert(!hits.exists(_._2 == "3"), hits.mkString(","))

    val histDir = Fences.tempDir("hist")
    Seq("spark catalyst optimizer rules").toDF("text")
      .write.mode("overwrite").parquet(histDir)
    val inc = payloads(Registry.create("dedup.incremental",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "historyTable" -> histDir))(docs))
      .map(p => p.get("doc_id").asText -> p.get("status").asText).toMap
    assert(inc == Map("1" -> "dup_history", "2" -> "kept", "3" -> "kept"),
      inc.toString)
  }

  test("graph.components / link.clusters resolve entities from config") {
    // edges 1-2, 2-3 (one component), 9-10 (another)
    val edges = wrap(Seq((1L, "1", "2"), (2L, "2", "3"), (3L, "9", "10"))
      .toDF("id", "s", "d"), "id")
    val cc = payloads(Registry.create("graph.components",
      Map("src" -> ".Payload.After.s", "dst" -> ".Payload.After.d"))(edges))
      .map(p => p.get("id").asText -> p.get("label").asText).toMap
    // payload fields are strings, so the representative is the
    // LEXICOGRAPHIC min: "10" < "9"
    assert(cc == Map("1" -> "1", "2" -> "1", "3" -> "1",
      "9" -> "10", "10" -> "10"), cc.toString)

    // near-identical names in one block cluster to one entity
    val recs = wrap(Seq(
      (1L, "b1", "chocolate lace"), (2L, "b1", "chocolate lace!"),
      (3L, "b1", "zz qq ww"), (4L, "b2", "chocolate lace"))
      .toDF("id", "blk", "name"), "id")
    val ent = payloads(Registry.create("link.clusters",
      Map("id" -> ".Payload.After.id", "block" -> ".Payload.After.blk",
        "field" -> ".Payload.After.name", "minSim" -> "0.9"))(recs))
      .map(p => p.get("record").asText -> p.get("entity").asText).toMap
    assert(ent == Map("1" -> "1", "2" -> "1"), ent.toString)
  }

  test("seq.transitions / retrieval.tfidf / sketch.cms / sample.weighted") {
    // transitions: a b a b → a>b x2 (p=1), b>a x1 (p=1)
    val stream = wrap(Seq((1L, 7L, 1L, "a"), (2L, 7L, 2L, "b"),
      (3L, 7L, 3L, "a"), (4L, 7L, 4L, "b"))
      .toDF("id", "u", "t", "s"), "id")
    val tr = payloads(Registry.create("seq.transitions",
      Map("entity" -> ".Payload.After.u", "order" -> ".Payload.After.t",
        "tie" -> ".Payload.After.id", "state" -> ".Payload.After.s"))(stream))
      .map(p => (p.get("prev").asText, p.get("next").asText) ->
        (p.get("cnt").asLong, p.get("p").asDouble)).toMap
    assert(tr == Map(("a", "b") -> (2L, 1.0), ("b", "a") -> (1L, 1.0)),
      tr.toString)

    // tfidf: corpus-common terms weigh zero, rare ones positive
    val docs = wrap(Seq((1L, "alpha beta"), (2L, "alpha gamma"))
      .toDF("id", "text"), "id")
    val tf = payloads(Registry.create("retrieval.tfidf",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "minDf" -> "1"))(docs))
      .map(p => (p.get("doc_id").asText, p.get("term").asText) ->
        p.get("weight").asDouble).toMap
    assert(tf(("1", "alpha")) == 0.0, tf.toString) // df = n → idf 0
    assert(tf(("1", "beta")) > 0.0, tf.toString)

    // cms: estimates from the wrapped counter table upper-bound truth
    // and are exact here (width >> distinct items)
    val items = wrap((1 to 9).map(i =>
      (i.toLong, if (i <= 6) "hot" else "cold")).toDF("id", "item"), "id")
    val cells = payloads(Registry.create("sketch.cms",
      Map("value" -> ".Payload.After.item", "width" -> "1024"))(items))
      .map(p => (p.get("_row").asLong, p.get("_idx").asLong) ->
        p.get("_c").asLong).toMap
    assert(cells.size == 8, cells.toString) // 2 items x depth 4
    assert(cells.values.toSeq.sorted == Seq(3L, 3L, 3L, 3L, 6L, 6L, 6L, 6L),
      cells.toString)

    // weighted: exactly k survive, CDC schema intact, heavy ids favored
    val weighted = wrap((1 to 200).map(i =>
      (i.toLong, if (i <= 10) 1000.0 else 0.1)).toDF("id", "w"), "id")
    val out = Registry.create("sample.weighted",
      Map("id" -> ".Payload.After.id", "weight" -> ".Payload.After.w",
        "k" -> "10", "seed" -> "5"))(weighted)
    assert(out.columns.toSeq == Cdc.columns)
    val kept = payloads(out).map(_.get("id").asLong).toSet
    assert(kept.size == 10)
    assert(kept.count(_ <= 10) >= 7,
      s"heavy-weight rows should dominate the sample: $kept")
  }

  test("a YAML curation chain runs end to end: normalize -> quality -> pii -> gate -> sample") {
    // the full config-driven LLM-curation story in one pipeline:
    // in-place normalization, metadata quality features, in-place PII
    // redaction, a metadata-driven filter, then temperature sampling
    val p = Dsl("curation-e2e")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "format.options.name" -> "string",
        "format.options.dept" -> "string", "recordCount" -> "300")
      .processor("norm", "text.normalize", "field" -> ".Payload.After.name")
      .processor("q", "text.quality", "field" -> ".Payload.After.name")
      .processor("pii", "text.pii", "field" -> ".Payload.After.name")
      .processorWhen("gate", "filter",
        "CAST(.Metadata.quality.n_chars AS LONG) < 1")
      .processor("samp", "sample.temperature",
        "stratum" -> ".Payload.After.dept", "id" -> ".Payload.After.id",
        "temperature" -> "1.5")
    val cfg = Dsl.fromYaml(Dsl.toYaml(Seq(p))).head
    val out = graft.model.Cdc.ok(
      graft.pipeline.Runner.build(spark, cfg, streaming = false))
    val rows = out.select(col(Cdc.Metadata), col(Cdc.PayloadAfter)).collect()
    assert(rows.nonEmpty && rows.length <= 300)
    rows.foreach { r =>
      val m = r.getMap[String, String](0)
      assert(m.contains("quality.n_chars") && m.contains("pii.n_emails"), m)
      val name = JsonOps.parse(r.getString(1)).get("name").asText
      assert(name == name.toLowerCase, s"not normalized: $name")
    }
  }

  test("round-14 factories survive the YAML export/import round trip") {
    val procs = Seq(
      ProcessorConfig("q1", "text.quality",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q2", "text.langid",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q3", "text.fingerprint",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q4", "text.tokens",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q5", "text.pii",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q6", "dedup.minhash",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "threshold" -> "0.7"), None),
      ProcessorConfig("q7", "dedup.simhash",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"), None),
      ProcessorConfig("q8", "dedup.clusters",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"), None),
      ProcessorConfig("q9", "dedup.semantic",
        Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
          "k" -> "4"), None),
      ProcessorConfig("q10", "sim.topk",
        Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
          "k" -> "5"), None),
      ProcessorConfig("q11", "text.decontaminate",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "evalTable" -> "/tmp/eval"), None),
      ProcessorConfig("q12", "sample.temperature",
        Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id"),
        None),
      ProcessorConfig("q13", "stats.outliers",
        Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v"),
        None),
      ProcessorConfig("q14", "sketch.hll",
        Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.u"),
        None),
      ProcessorConfig("q15", "sketch.topk",
        Map("value" -> ".Payload.After.item", "threshold" -> "3"), None),
      ProcessorConfig("q16", "privacy.ldiv",
        Map("fields" -> ".Payload.After.zip",
          "sensitive" -> ".Payload.After.diag", "l" -> "3"), None),
      ProcessorConfig("q17", "privacy.tclose",
        Map("fields" -> ".Payload.After.zip",
          "sensitive" -> ".Payload.After.diag"), None),
      ProcessorConfig("q18", "sketch.kll",
        Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v",
          "id" -> ".Payload.After.id"), None),
      ProcessorConfig("q19", "sketch.hist",
        Map("groups" -> ".Payload.After.g", "value" -> ".Payload.After.v",
          "lo" -> "0", "width" -> "5", "bins" -> "32"), None),
      ProcessorConfig("q20", "text.normalize",
        Map("field" -> ".Payload.After.text"), None),
      ProcessorConfig("q21", "text.repetition",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text"),
        None),
      ProcessorConfig("q22", "text.novelty",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "n" -> "4"), None),
      ProcessorConfig("q23", "sample.mixture",
        Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
          "targets" -> "en:0.6,de:0.4"), None),
      ProcessorConfig("q24", "retrieval.bm25",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "query" -> "spark"), None),
      ProcessorConfig("q25", "dedup.incremental",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "historyTable" -> "/tmp/hist"), None))
    val cfg = PipelineConfig("r14", "round-14 families", processors = procs)
    val back = Dsl.fromYaml(Dsl.toYaml(Seq(cfg)))
    assert(back == Seq(cfg))
    back.head.processors.foreach { p =>
      assert(Registry.create(p.plugin, p.settings) != null, p.plugin)
    }
  }

  test("a YAML pipeline drives quality-gated curation end to end") {
    // generator → text.quality → filter on the metadata it wrote:
    // the C4-style quality gate as pure config
    val p = Dsl("quality-e2e")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "format.options.name" -> "string",
        "recordCount" -> "200")
      .processor("q", "text.quality", "field" -> ".Payload.After.name")
      // reference filter semantics: drop records MATCHING the
      // per-processor condition — here, empty documents
      .processorWhen("gate", "filter",
        "CAST(.Metadata.quality.n_chars AS LONG) < 1")
    val cfg = Dsl.fromYaml(Dsl.toYaml(Seq(p))).head
    val out = graft.model.Cdc.ok(
      graft.pipeline.Runner.build(spark, cfg, streaming = false))
    val metas = out.select(col(Cdc.Metadata)).collect()
      .map(_.getMap[String, String](0))
    assert(metas.length == 200, metas.length.toString)
    // every surviving record carries the full quality annotation
    assert(metas.forall(m => m.contains("quality.n_chars") &&
      m.contains("quality.stopword_ratio") &&
      m.contains("quality.mean_token_len")))
  }
}
