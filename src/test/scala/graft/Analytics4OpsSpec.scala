package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.ops.Registry
import graft.pipeline.{PipelineConfig, ProcessorConfig, Pipeline => Dsl}

/** Registry analytics plugins, part 3: k-fold
  * assignment, classifier quality gates, OOV screens, sequence
  * packing, negative sampling, and int8 quantization — each created
  * from pure string settings and checked against its Scala operator.
  */
class Analytics4OpsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def wrap(df: org.apache.spark.sql.DataFrame, key: String) =
    Cdc.wrap(df, key, "t")

  private def payloads(df: org.apache.spark.sql.DataFrame) =
    df.select(col(Cdc.PayloadAfter)).collect()
      .map(r => JsonOps.parse(r.getString(0)))

  test("sample.kfold annotates a stable fold in [0, k)") {
    val rows = (1 to 400).map(i => (i.toLong, s"doc $i"))
    val base = wrap(rows.toDF("id", "text"), "id")
    def run() = Registry.create("sample.kfold",
      Map("id" -> ".Payload.After.id", "k" -> "5", "seed" -> "11"))(base)
      .select(col(Cdc.Key), col(Cdc.Metadata).getItem("fold"))
      .collect().map(r => r.getString(0) -> r.getString(1).toInt).toMap
    val folds = run()
    assert(run() == folds, "fold assignment must be deterministic")
    assert(folds.values.forall(f => f >= 0 && f < 5), folds.values.max.toString)
    // hash uniformity: every fold populated, none pathologically fat
    val sizes = folds.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 5 && sizes.values.forall(s => s > 40 && s < 120),
      sizes.toMap.toString)
    // CDC schema untouched — it composes mid-chain
    assert(Registry.create("sample.kfold",
      Map("id" -> ".Payload.After.id"))(base).columns.toSeq == Cdc.columns)
  }

  test("text.classifier matches the classifierScore operator") {
    val texts = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzz qqq xxx"), (3L, ""))
    val df = texts.toDF("id", "text")
    val got = Registry.create("text.classifier",
      Map("field" -> ".Payload.After.text", "seed" -> "42"))(wrap(df, "id"))
      .select(col(Cdc.Key), col(Cdc.Metadata)).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)).toMap
    val want = graft.analytics.Text.classifierScore(df, "id", "text", 42L)
      .collect().map(r => r.getLong(0) -> r).toMap
    texts.foreach { case (id, _) =>
      val m = got(s"""{"id":$id}""")
      val w = want(id)
      assert(m("classifier.n_features") == w.getAs[Long]("n_features").toString,
        s"id=$id $m")
      assert(m("classifier.margin") == w.getAs[Double]("margin").toString,
        s"id=$id $m")
      assert(m("classifier.keep") == w.getAs[Boolean]("keep").toString,
        s"id=$id $m")
    }
  }

  test("text.oov screens a batch against a trained vocabulary") {
    val trainDir = Fences.tempDir("oov-train")
    Seq("the cat sat", "the dog ran", "the cat ran")
      .toDF("text").write.mode("overwrite").parquet(trainDir)
    val evalRows = Seq((1L, "the cat flew"), (2L, "quantum flux"))
    val base = wrap(evalRows.toDF("id", "text"), "id")
    val got = payloads(Registry.create("text.oov",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "trainTable" -> trainDir, "minCount" -> "2"))(base))
      .map(p => p.get("doc_id").asText ->
        (p.get("n_tokens").asLong, p.get("n_oov").asLong)).toMap
    // vocab at minCount=2: {the, cat, ran} — "flew" is OOV; doc 2 all OOV
    assert(got("1") == ((3L, 1L)), got.toString)
    assert(got("2") == ((2L, 2L)), got.toString)
    val want = graft.analytics.Text.oovRate(
      spark.read.parquet(trainDir), evalRows.toDF("id", "text"),
      "id", "text", 2)
      .collect().map(r => r.get(0).toString ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("sample.pack / sample.negatives match the sampling operators") {
    val rows = (1 to 60).map(i => (i.toLong, (i % 7 + 1).toLong))
    val df = rows.toDF("id", "tokens")
    val base = wrap(df, "id")

    val packed = payloads(Registry.create("sample.pack",
      Map("id" -> ".Payload.After.id", "tokens" -> ".Payload.After.tokens",
        "budget" -> "16", "streams" -> "4", "seed" -> "3"))(base))
      .map(p => p.get("_id").asLong ->
        (p.get("pack_id").asLong, p.get("pack_pos").asInt)).toMap
    val wantPack = graft.analytics.Sampling.packSequences(
        df.select(col("id").as("_id"), col("tokens").as("_tokens")),
        "_id", "_tokens", 16L, 4, 3L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(packed == wantPack)
    assert(packed.size == 60, "every doc lands in exactly one pack slot")

    val negs = payloads(Registry.create("sample.negatives",
      Map("id" -> ".Payload.After.id", "k" -> "3", "bucketBits" -> "4",
        "seed" -> "7"))(base))
      .map(p => (p.get("_id").asLong, p.get("draw").asLong,
        p.get("neg_id").asLong)).toSet
    val wantNeg = graft.analytics.Sampling.negativeSample(
        df.select(col("id").as("_id")), "_id", 3, 4, 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(negs == wantNeg)
    assert(negs.nonEmpty && negs.forall { case (id, _, neg) => id != neg })
  }

  test("sim.quantize emits (vec_id, scale, qvec) matching the operator") {
    val vecs = Seq((1L, Seq(0.5, -1.0, 0.25)), (2L, Seq(0.0, 0.0, 0.0)))
    val base = wrap(vecs.toDF("id", "vec"), "id")
    val got = payloads(Registry.create("sim.quantize",
      Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec"))(base))
      .map(p => p.get("vec_id").asText ->
        (p.get("scale").asDouble,
          (0 until p.get("qvec").size).map(p.get("qvec").get(_).asLong)))
      .toMap
    val want = graft.analytics.Similarity.quantizeInt8(
        vecs.toDF("id", "vec"), "id", "vec")
      .collect().map(r => r.get(0).toString ->
        (r.getDouble(1), r.getSeq[Long](2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (s, q)) =>
      assert(s == want(k)._1 && q == want(k)._2, s"$k: $s $q vs ${want(k)}")
    }
    // max |x| = 1.0 → q = round(x * 127): (64, -127, 32)
    assert(got("1")._2 == Seq(64L, -127L, 32L), got("1").toString)
  }

  test("sample.split assigns whole groups and rejects duplicate names") {
    val rows = (1 to 300).map(i => (i.toLong, s"domain${i % 20}"))
    val base = wrap(rows.toDF("id", "grp"), "id")
    val got = Registry.create("sample.split",
      Map("group" -> ".Payload.After.grp",
        "fractions" -> "train:0.8,val:0.1,test:0.1", "seed" -> "4"))(base)
      .select(col(Cdc.PayloadAfter), col(Cdc.Metadata).getItem("split"))
      .collect()
      .map(r => JsonOps.parse(r.getString(0)).get("grp").asText -> r.getString(1))
    // leakage-free: every row of a group lands in the SAME split
    val byGroup = got.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byGroup.values.forall(_.size == 1), byGroup.toString)
    val splits = got.map(_._2).distinct.sorted
    assert(splits.forall(Set("train", "val", "test")), splits.mkString(","))
    assert(got.count(_._2 == "train") > got.length / 2, "train is the fat slice")
    intercept[IllegalArgumentException] {
      Registry.create("sample.split",
        Map("group" -> ".Payload.After.grp",
          "fractions" -> "train:0.5,train:0.5"))
    }
  }

  test("sample.interleave matches the interleave operator") {
    val rows = (1 to 100).map(i => (i.toLong, s"d$i"))
    val base = wrap(rows.toDF("id", "text"), "id")
    val got = payloads(Registry.create("sample.interleave",
      Map("id" -> ".Payload.After.id", "seed" -> "9"))(base))
      .map(p => p.get("_id").asLong -> p.get("shuffle_rank").asLong).toMap
    val want = graft.analytics.Sampling.interleave(
        rows.toDF("id", "text").select(col("id").as("_id")), "_id", 9L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.toSeq.sorted == (0L until 100L), "ranks are a permutation")
  }

  test("text.dsir weights a batch toward a target parquet domain") {
    val targetDir = Fences.tempDir("dsir-tgt")
    Seq("spark catalyst optimizer", "spark shuffle exchange",
      "spark codegen stage")
      .toDF("text").write.mode("overwrite").parquet(targetDir)
    val batch = Seq((1L, "spark catalyst shuffle"), (2L, "cooking pasta sauce"))
    val base = wrap(batch.toDF("id", "text"), "id")
    val got = payloads(Registry.create("text.dsir",
      Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
        "targetTable" -> targetDir, "buckets" -> "4096"))(base))
      .map(p => p.get("doc_id").asText ->
        (p.get("n_tokens").asLong, p.get("log_weight").asDouble)).toMap
    // the on-domain doc outweighs the off-domain one
    assert(got("1")._2 > got("2")._2, got.toString)
    val want = graft.analytics.Text.dsirWeights(
        batch.toDF("id", "text"), spark.read.parquet(targetDir)
          .select(lit(0L).as("id"), col("text")), "id", "text", 4096)
      .collect().map(r => r.get(0).toString ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("log_weight"))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("sim.cluster assigns vectors to seeded spherical centroids") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.9, 0.1)), (4L, Seq(0.1, 0.9)))
    val base = wrap(vecs.toDF("id", "vec"), "id")
    val got = payloads(Registry.create("sim.cluster",
      Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
        "k" -> "2"))(base))
      .map(p => p.get("vec_id").asText -> p.get("cluster").asInt).toMap
    // seeds = two lowest ids: 1 → cluster 0's axis, 2 → cluster 1's;
    // 3 joins 1, 4 joins 2
    assert(got("3") == got("1") && got("4") == got("2") &&
      got("1") != got("2"), got.toString)
    val want = graft.analytics.Similarity.clusterAssign(
        vecs.toDF("id", "vec"), "id", "vec", 2)
      .collect().map(r => r.get(0).toString -> r.getInt(1)).toMap
    assert(got == want, s"$got vs $want")
  }

  test("round-15 plugins round-trip through pipeline YAML") {
    val procs = Seq(
      ProcessorConfig("p1", "sample.kfold",
        Map("id" -> ".Payload.After.id", "k" -> "10", "seed" -> "1"), None),
      ProcessorConfig("p2", "text.classifier",
        Map("field" -> ".Payload.After.text", "seed" -> "42"), None),
      ProcessorConfig("p3", "text.oov",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "trainTable" -> "/tmp/train"), None),
      ProcessorConfig("p4", "sample.pack",
        Map("id" -> ".Payload.After.id", "tokens" -> ".Payload.After.n",
          "budget" -> "512"), None),
      ProcessorConfig("p5", "sample.negatives",
        Map("id" -> ".Payload.After.id", "k" -> "4"), None),
      ProcessorConfig("p6", "sim.quantize",
        Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec"), None),
      ProcessorConfig("p7", "sample.split",
        Map("group" -> ".Payload.After.domain",
          "fractions" -> "train:0.9,eval:0.1"), None),
      ProcessorConfig("p8", "sample.interleave",
        Map("id" -> ".Payload.After.id", "seed" -> "2"), None),
      ProcessorConfig("p9", "text.dsir",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "targetTable" -> "/tmp/target"), None),
      ProcessorConfig("p10", "sim.cluster",
        Map("id" -> ".Payload.After.id", "vec" -> ".Payload.After.vec",
          "k" -> "16"), None),
      ProcessorConfig("p11", "dedup.url",
        Map("field" -> ".Payload.After.url"), None),
      ProcessorConfig("p12", "dedup.softweight",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "maxHamming" -> "3"), None),
      ProcessorConfig("p13", "text.bpe",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "mergesTable" -> "/tmp/merges"), None),
      ProcessorConfig("p14", "enrich.asof",
        Map("key" -> ".Payload.After.k", "time" -> ".Payload.After.t",
          "table" -> "/tmp/versions", "values" -> "price,qty"), None),
      ProcessorConfig("p15", "sample.token_mixture",
        Map("stratum" -> ".Payload.After.lang", "id" -> ".Payload.After.id",
          "tokens" -> ".Payload.After.n",
          "targets" -> "en:0.5,de:0.3,fr:0.2"), None),
      ProcessorConfig("p16", "text.entropy",
        Map("id" -> ".Payload.After.id",
          "field" -> ".Payload.After.text"), None),
      ProcessorConfig("p17", "text.bpe_train",
        Map("id" -> ".Payload.After.id", "field" -> ".Payload.After.text",
          "rounds" -> "4"), None),
      ProcessorConfig("p18", "sketch.overlap",
        Map("field" -> ".Payload.After.text",
          "historyTable" -> "/tmp/hist", "k" -> "512"), None))
    val cfg = PipelineConfig("r15", "round-15 families", processors = procs)
    val back = Dsl.fromYaml(Dsl.toYaml(Seq(cfg)))
    assert(back == Seq(cfg))
    back.head.processors.foreach { p =>
      assert(Registry.create(p.plugin, p.settings) != null, p.plugin)
    }
  }

  test("a YAML pipeline drives fold-gated training split end to end") {
    // generator → sample.kfold → filter on the fold it wrote: the
    // cross-validation train/eval split as pure config
    val p = Dsl("kfold-e2e")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "300")
      .processor("folds", "sample.kfold",
        "id" -> ".Payload.After.id", "k" -> "3", "seed" -> "5")
      // drop fold 0 (the eval slice) — reference filter semantics
      // drop records MATCHING the condition
      .processorWhen("gate", "filter",
        "CAST(.Metadata.fold AS LONG) = 0")
    val cfg = Dsl.fromYaml(Dsl.toYaml(Seq(p))).head
    val out = graft.model.Cdc.ok(
      graft.pipeline.Runner.build(spark, cfg, streaming = false))
    val metas = out.select(col(Cdc.Metadata)).collect()
      .map(_.getMap[String, String](0))
    assert(metas.nonEmpty && metas.length < 300)
    assert(metas.forall(m => m.get("fold").exists(f => f == "1" || f == "2")),
      metas.take(3).mkString(","))
  }
}
