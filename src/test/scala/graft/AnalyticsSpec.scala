package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Dedup, Similarity, Text}

/** Validates the approximate dedup/similarity operators against exact
  * brute-force ground truth at sf0.001, and the text operators against
  * fixed golden values.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  /** Exact word-3-gram Jaccard pairs by brute force (ground truth). */
  private def brutePairs(threshold: Double) = {
    val sh = docs.select(col("doc_id"),
      graft.analytics.HashFunctions.word_shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  test("minhash LSH finds every true near-duplicate pair (recall = 1 here)") {
    val truth = brutePairs(0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test data should contain near-duplicates")
    // verification step makes precision exact; banding should catch all
    // pairs this similar (16 bands × 8 rows at j≥0.5 → miss prob ≈ 0)
    assert(found == truth,
      s"missed=${truth -- found} extra=${found -- truth}")
  }

  test("jaccardPrefixJoin finds EXACTLY the brute-force pair set (provable recall)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over a lazy dog"), // high overlap w/ 1
      (3L, "quick brown fox jumps over lazy dog"),       // subset of 1
      (4L, "entirely different words about spark engines"),
      (5L, "entirely different words about spark engines"), // identical to 4
      (6L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val tau = 0.6
    val got = graft.analytics.Dedup
      .jaccardPrefixJoin(docs, "doc_id", "text", tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force over word sets
    val sets = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over a lazy dog",
      3L -> "quick brown fox jumps over lazy dog",
      4L -> "entirely different words about spark engines",
      5L -> "entirely different words about spark engines",
      6L -> "one two three four five six seven eight"
    ).map { case (id, t) => id -> t.split("\\s+").toSet }.toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      j = inter.toDouble / uni if j >= tau
    } yield (a, b) -> j).toMap
    assert(got == brute, s"got $got, want $brute")
    assert(got.contains((4L, 5L)) && got((4L, 5L)) == 1.0, "identical pair must score 1.0")
  }

  private def levRef(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  test("editDistanceJoin: known edit pairs, distances exact, far pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),  // identical → dist 0
      (3L, "the quick browm fox jumps"),  // 1 substitution
      (4L, "the quick brown fox jump"),   // 1 deletion
      (5L, "a completely unrelated str"),
      (6L, "xthe quick brown fox jumps")  // 1 insertion at front
    ).toDF("doc_id", "s")
    val got = Dedup.editDistanceJoin(docs, "doc_id", "s", maxDist = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((1L, 2L)) == 0L)
    assert(got((1L, 3L)) == 1L && got((1L, 4L)) == 1L && got((1L, 6L)) == 1L)
    assert(got((2L, 3L)) == 1L && got((3L, 4L)) == 2L)
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L), "unrelated string must not pair")
  }

  test("editDistanceJoin: exact duplicate rows collapse; conflicting strings under one id fail loudly") {
    import spark.implicits._
    // exact (id, s) duplicates are legal and collapse to one row
    val dup = Seq(
      (1L, "the quick brown fox jumps"), (1L, "the quick brown fox jumps"),
      (2L, "the quick browm fox jumps")).toDF("doc_id", "s")
    val got = Dedup.editDistanceJoin(dup, "doc_id", "s", maxDist = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 2L) -> 1L), s"got $got")
    // two DIFFERENT strings under one id: grams from both would enter
    // one prefix window and an arbitrary string would verify — the
    // operator must fail, not answer nondeterministically
    val conflict = Seq(
      (1L, "the quick brown fox jumps"), (1L, "a wholly different string"),
      (2L, "the quick browm fox jumps")).toDF("doc_id", "s")
    val ex = intercept[Exception] {
      Dedup.editDistanceJoin(conflict, "doc_id", "s", maxDist = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("conflicting strings")), ex.toString)
  }

  test("editDistanceJoin: 150 random mutated strings match the brute-force scan exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val alpha = "abcdef"
    def randStr(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      for (_ <- 0 until edits if cur.length > 8) {
        val i = rnd.nextInt(cur.length)
        cur = rnd.nextInt(3) match {
          case 0 => cur.updated(i, alpha(rnd.nextInt(alpha.length))) // sub
          case 1 => cur.substring(0, i) + cur.substring(i + 1)       // del
          case _ => cur.substring(0, i) +
            alpha(rnd.nextInt(alpha.length)) + cur.substring(i)      // ins
        }
      }
      cur
    }
    val base = (0 until 50).map(i => randStr(15 + rnd.nextInt(15)))
    val strs = (base ++ base.map(mutate(_, 1 + rnd.nextInt(3))) ++
      (0 until 50).map(_ => randStr(15 + rnd.nextInt(15))))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val d = 2
    val got = Dedup.editDistanceJoin(strs.toDF("doc_id", "s"), "doc_id", "s",
        maxDist = d, q = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val minLen = 2 * (d + 1) // the operator's documented length floor (q=2)
    val eligible = strs.filter(_._2.length >= minLen)
    val brute = (for {
      (ia, sa) <- eligible; (ib, sb) <- eligible if ia < ib
      if math.abs(sa.length - sb.length) <= d
      dist = levRef(sa, sb) if dist <= d
    } yield (ia, ib) -> dist.toLong).toMap
    assert(got == brute,
      s"missed=${(brute.keySet -- got.keySet).take(5)} extra=${(got.keySet -- brute.keySet).take(5)}")
    assert(brute.nonEmpty, "test corpus must actually contain close pairs")
  }

  test("simhash: near-identical docs collide, distinct docs don't flood") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val n = pairs.count()
    assert(n > 0, "expected some near-dup pairs")
    assert(n < 500, "simhash should not pair everything")
  }

  test("embedding LSH pairs are a subset of brute-force pairs (precision = 1)") {
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "brute")
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "lsh")
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"false positives: ${lsh -- brute}")
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      assert(recall >= 0.3, s"LSH recall too low: $recall (${lsh.size}/${brute.size})")
    }
  }

  test("embedding IVF pairs: exact precision, bounded recall vs brute") {
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "brute")
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "ivf",
      nlist = 8, nassign = 2)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(brute), s"false positives: ${ivf -- brute}")
    if (brute.nonEmpty) {
      val recall = ivf.size.toDouble / brute.size
      assert(recall >= 0.3, s"IVF recall too low: $recall (${ivf.size}/${brute.size})")
    }
    // nassign = nlist degenerates to brute force (every vector in every
    // cell's candidate set) — recall must be exactly 1
    val full = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "ivf",
      nlist = 4, nassign = 4)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, s"missed=${brute -- full} extra=${full -- brute}")
  }

  test("embedding IVF auto nlist equals the explicit max(8, ceil(n/25)) formula") {
    val n = emb.select(col("vec_id")).distinct().count()
    val expected = math.max(8L, math.ceil(n / 25.0).toLong).toInt
    def pairs(nl: Int) =
      Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "ivf",
        nlist = nl, nassign = 2)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(-1) == pairs(expected),
      s"auto nlist must match the documented formula (n=$n, nlist=$expected)")
  }

  test("chooseGeometry: ivf at low thresholds, lsh (with sane planes/tables) at high; auto path routes accordingly") {
    // the round-7 measured wall: at cos 0.4 no affordable plane count
    // reaches recall without a quadratic collision floor → ivf
    assert(Similarity.chooseGeometry(0.4)._1 == "ivf")
    assert(Similarity.chooseGeometry(0.6)._1 == "ivf")
    // high thresholds: many planes are viable → exponentially small
    // random-collision floor → lsh
    val (m95, k95, l95) = Similarity.chooseGeometry(0.95)
    assert(m95 == "lsh" && k95 >= 8 && l95 >= 1 && l95 <= 32,
      s"got ($m95, $k95, $l95)")
    // the chosen geometry honors its own contract: floor within budget
    assert(l95 / math.pow(2.0, k95) <= 0.005)
    // monotone handoff: once lsh wins, higher thresholds keep it
    val regimes = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99)
      .map(t => Similarity.chooseGeometry(t)._1)
    assert(!regimes.containsSlice(Seq("lsh", "ivf")),
      s"geometry flip-flops across thresholds: $regimes")
    assert(regimes.head == "ivf" && regimes.last == "lsh", regimes.toString)
    // the auto path is the ivf path at the gate threshold — identical
    // pairs, so the gate oracle (seeded-cell SQL) applies verbatim
    def pairsOf(method: String) =
      Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, method,
        nlist = -1, nassign = 2)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf("auto") == pairsOf("ivf"))
  }

  test("IVF top-k recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
  }

  test("IVF with nprobe = nlist is exact (the gate configuration)") {
    // probing every cell scores every (query, corpus) pair exactly once
    // — identical output to brute force, which is why the gate runs
    // this configuration against the brute-force DuckDB oracle
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 16)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivf == brute, "nprobe=nlist IVF must equal brute force")
  }

  test("quantized top-k tracks float brute-force search closely") {
    val queries = emb.filter(col("vec_id") < 8)
    val floatTop = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val qTop = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .collect()
    assert(qTop.length == floatTop.size, "same result shape")
    val qSet = qTop.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (qSet & floatTop).size.toDouble / floatTop.size
    assert(recall >= 0.8, s"int8 recall vs float too low: $recall")
    // deterministic: re-run is identical including scores
    val again = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .collect()
    assert(qTop.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("semantic dedup matches brute-force within-cluster ground truth") {
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 8, threshold = 0.4).collect()
    assert(out.length == emb.count(), "one row per vector")
    val rep = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(0) == r.getLong(2)),
        "keep must mean vec is its own representative")
    }
    // independent ground truth: seeded assignment + brute-force
    // within-cluster cosine edges + driver union-find
    val assign = Similarity.clusterAssign(emb, "vec_id", "embedding", k = 8)
      .select(col("vec_id"), col("cluster"))
    val a = assign.join(emb, "vec_id")
      .select(col("vec_id").as("id_a"), col("cluster"),
        graft.analytics.HashFunctions.l2_normalize(col("embedding")).as("va"))
    val b = assign.join(emb, "vec_id")
      .select(col("vec_id").as("id_b"), col("cluster"),
        graft.analytics.HashFunctions.l2_normalize(col("embedding")).as("vb"))
    val edges = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .filter(graft.analytics.HashFunctions.dot_product(col("va"), col("vb")) >= 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "corpus should contain semantic near-dups")
    // transitive closure + minimality against the engine's labels
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (u, v) => parent(find(u)) = find(v) }
    val groundGroups = (edges.flatMap(e => Seq(e._1, e._2)).distinct)
      .groupBy(find).values.map(_.toSet).toSet
    groundGroups.foreach { g =>
      val reps = g.map(rep)
      assert(reps.size == 1, s"component $g split across reps $reps")
      assert(reps.head == g.min, s"component $g rep ${reps.head} != min ${g.min}")
    }
    val connected = groundGroups.flatten
    out.filter(r => !connected.contains(r.getLong(0))).foreach { r =>
      assert(r.getLong(2) == r.getLong(0), "singleton must keep itself")
    }
  }

  test("cross-corpus minhash: batch-vs-history pairs match brute force") {
    import graft.analytics.HashFunctions
    val toks = split(trim(col("text")), "\\s+")
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
    val found = Dedup.crossMinhashPairs(batch, docs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.nonEmpty, "mutated copies must pair with their sources")
    found.foreach { case (n, h) =>
      assert(n >= 1000000 && h < 1000000, "pairs must be cross-side only")
    }
    val shB = batch.select(col("doc_id").as("id_a"),
      HashFunctions.word_shingles(col("text"), 3).as("sh_a"))
    val shH = docs.select(col("doc_id").as("id_b"),
      HashFunctions.word_shingles(col("text"), 3).as("sh_b"))
    val truth = shB.crossJoin(shH)
      .filter(HashFunctions.jaccard_sim(col("sh_a"), col("sh_b")) >= 0.5)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missed=${truth -- found} extra=${found -- truth}")
    // grid-chunked hot path (cap=2 makes every bucket hot): same pairs
    val chunked = Dedup.crossMinhashPairs(batch, docs, "doc_id", "text",
        threshold = 0.5, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chunked == found, "bounded grid chunking must not change pairs")
  }

  test("bloom incremental dedup is exact regardless of fpp") {
    import spark.implicits._
    val hist = (0L until 200L).map(i => (i, s"hist doc $i")).toDF("doc_id", "text")
    val batch = ((0L until 50L).map(i => (1000L + i, s"hist doc $i")) ++
      (0L until 300L).map(i => (2000L + i, s"new doc $i"))).toDF("doc_id", "text")
    // fpp 0.49 floods the confirm join with false positives; the
    // result must not change — the filter is a prefilter, not an answer
    for (fpp <- Seq(0.01, 0.49)) {
      val out = Dedup.bloomIncremental(batch, hist, "doc_id", "text", fpp)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.size == 350)
      (0L until 50L).foreach(i => assert(out(1000L + i) == "dup_history"))
      (0L until 300L).foreach(i => assert(out(2000L + i) == "kept"))
    }
  }

  test("connected components: chains, cliques, and singletons") {
    import spark.implicits._
    // chain 1-2-3-4-5-6-7-8 (diameter 7 → needs real iteration),
    // clique 20-21-22, isolated pair 30-31
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L)))
      .toDF("id_a", "id_b")
    val labels = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 8L).foreach(i => assert(labels(i) == 1L, s"chain node $i"))
    Seq(20L, 21L, 22L).foreach(i => assert(labels(i) == 20L))
    Seq(30L, 31L).foreach(i => assert(labels(i) == 30L))
    // the distributed min-label loop (edge cap 0 forces it) must agree
    // with the driver union-find fast path exactly
    val distributed = Dedup.components(pairs, driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == labels, "driver and distributed paths disagree")
  }

  test("cluster labeling keeps exactly one doc per near-dup component") {
    val cl = Dedup.clusters(docs, "doc_id", "text")
    val total = docs.count()
    assert(cl.count() == total) // every doc labeled, singletons included
    // keep is true iff the doc IS its cluster's minimum
    val perCluster = cl.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keeps"),
        min("doc_id").as("min_id"), first("cluster_id").as("cid"))
    assert(perCluster.filter(col("keeps") =!= 1).count() == 0)
    assert(perCluster.filter(col("min_id") =!= col("cid")).count() == 0)
    // dropping non-keeps removes exactly the non-minimal dup members:
    // multi-member clusters cover all pair nodes, one survivor each
    val multi = cl.groupBy("cluster_id").count().filter(col("count") > 1)
    val multiMembers = multi.agg(coalesce(sum("count"), lit(0L)))
      .collect()(0).getLong(0)
    val pairNodes = Dedup.simhashPairs(docs, "doc_id", "text", 3)
    val clustered = pairNodes.select(col("id_a").as("id"))
      .unionByName(pairNodes.select(col("id_b").as("id"))).distinct().count()
    assert(multiMembers == clustered)
    assert(cl.filter(!col("keep")).count() == clustered - multi.count())
  }

  test("bounded pair generation: hot-bucket chunking loses no pairs") {
    import spark.implicits._
    // 120 identical docs all land in one LSH bucket per band; with
    // maxBucket=16 the bucket splits into 8 chunks × 36 blocks — every
    // pair must still surface exactly once after the cross-band distinct
    val dup = (1L to 120L).map(i =>
      (i, "the same boilerplate text repeated again and again for chunking"))
    val uniq = (200L to 210L).map(i =>
      (i, s"unique document number $i with its own words entirely"))
    val df = spark.createDataFrame(dup ++ uniq).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.9,
      maxBucket = 16)
    assert(pairs.count() == 120L * 119 / 2)
    val h = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0, maxBucket = 16)
      .filter(col("id_a") <= 120 && col("id_b") <= 120)
    assert(h.count() == 120L * 119 / 2)
  }

  test("dedup plans evaluate per-doc expressions at most once per branch") {
    // regression guard for the join-condition inlining trap (PERF.md):
    // predicate pushdown + alias substitution can copy the Shingles /
    // L2Normalize subtrees into join conditions and posexplode's
    // inferred filters — per-candidate-pair re-evaluation. With the
    // first()-aggregate barriers each expression appears at exactly
    // its two intended sites (signature branch + verify branch).
    // Project sites evaluate once per doc (self-join branches legally
    // duplicate them); what must NEVER happen is these expressions in
    // a Filter or Join line — those evaluate per candidate/row visit.
    def conditionSites(plan: String, exprs: Seq[String]): Seq[String] =
      plan.linesIterator.filter(l =>
        (l.contains("Join") || l.contains("Filter")) &&
          exprs.exists(l.contains)).toSeq
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .queryExecution.optimizedPlan.toString
    val mhBad = conditionSites(mh, Seq("word_shingles", "minhash_bands"))
    assert(mhBad.isEmpty, s"per-pair re-evaluation:\n${mhBad.mkString("\n")}")
    val cp = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, "lsh")
      .queryExecution.optimizedPlan.toString
    val cpBad = conditionSites(cp, Seq("l2_normalize", "hyperplane_buckets"))
    assert(cpBad.isEmpty, s"per-pair re-evaluation:\n${cpBad.mkString("\n")}")
  }

  test("per-query top-k plans as partial WindowGroupLimit below the shuffle") {
    // Scale guard: `row_number().over(query).filter(<= k)` must plan as
    //   WindowGroupLimit(Final) <- Exchange(query_id) <- WindowGroupLimit(Partial)
    // (InferWindowGroupLimit, SPARK-37099) so each map task forwards at
    // most k candidates per query and no reducer ever sorts a query's
    // FULL candidate set (for brute force that set is the whole corpus).
    // If a config change (e.g. windowGroupLimitThreshold < k) or a
    // query rewrite drops the partial stage, this fails loudly.
    def assertPartialTopK(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val fin = plan.indexOf("WindowGroupLimit")
      assert(fin >= 0, s"$what: no WindowGroupLimit in plan:\n$plan")
      assert(plan.substring(fin).contains("Final"), s"$what: no final stage")
      val ex = plan.indexOf("Exchange hashpartitioning(query_id", fin)
      assert(ex > fin, s"$what: no per-query exchange below the final rank")
      val part = plan.indexOf("WindowGroupLimit", ex)
      assert(part > ex && plan.substring(part, part + 200).contains("Partial"),
        s"$what: no PARTIAL WindowGroupLimit below the exchange — " +
          s"per-query candidates would all land in one reducer:\n$plan")
    }
    val q = emb.limit(3)
    assertPartialTopK(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5), "bruteForceTopK")
    assertPartialTopK(
      Similarity.quantizedTopK(emb, q, "vec_id", "embedding", 5), "quantizedTopK")
    assertPartialTopK(
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5), "ivfTopK")
    assertPartialTopK(
      graft.analytics.Retrieval.bm25(docs, "doc_id", "text",
        Seq(("q1", Seq("the", "data")))), "bm25")
  }

  test("topTokensPerGroup: deterministic leaderboard with the partial-top-k plan shape") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "a a a b b c"), (2L, "en", "b b d"),
      (3L, "de", "x y y"), (4L, "de", "y")
    ).toDF("doc_id", "lang", "text")
    val out = Text.topTokensPerGroup(df, "lang", "text", k = 2)
    val got = out.collect()
      .map(r => (r.getString(0), r.getLong(3)) -> ((r.getString(1), r.getLong(2))))
      .toMap
    // en: b=4 > a=3; de: y=3 > x=1 — freq desc, token asc is total
    assert(got(("en", 1L)) == (("b", 4L)) && got(("en", 2L)) == (("a", 3L)))
    assert(got(("de", 1L)) == (("y", 3L)) && got(("de", 2L)) == (("x", 1L)))
    // scale guard: the rank must plan with a PARTIAL WindowGroupLimit
    // below the per-group exchange (same contract as the ANN top-k)
    val plan = out.queryExecution.executedPlan.toString
    val fin = plan.indexOf("WindowGroupLimit")
    assert(fin >= 0 && plan.substring(fin).contains("Final"), plan.take(800))
    val ex = plan.indexOf("Exchange hashpartitioning(lang", fin)
    val part = plan.indexOf("WindowGroupLimit", math.max(ex, fin + 1))
    assert(ex > fin && part > ex &&
      plan.substring(part, math.min(part + 200, plan.length)).contains("Partial"),
      s"no partial top-k below the group exchange:\n$plan")
  }

  test("perceptual hash: local byte edits stay near, shifts move far") {
    import graft.analytics.Multimodal.MediaCodecStub.perceptualHash
    val base = ("the quick brown fox jumps over the lazy dog " * 20).getBytes("UTF-8")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a local edit (swap two bytes) flips at most 2 cells
    val swapped = base.clone()
    val (i, j) = (7, base.length - 11)
    val t = swapped(i); swapped(i) = swapped(j); swapped(j) = t
    assert(ham(perceptualHash(base), perceptualHash(swapped)) <= 2)
    // a one-byte INSERTION shifts every slice — perceptually different
    val shifted = ("x" + new String(base, "UTF-8")).getBytes("UTF-8")
    assert(ham(perceptualHash(base), perceptualHash(shifted)) > 3,
      "shifted content must not collide (that is content-hash territory)")
    // and the banding engine finds exactly the near pair
    import spark.implicits._
    val media = Seq(
      (1L, base), (2L, swapped), (3L, shifted))
      .map { case (id, c) => (id, "application/octet-stream", c.length.toLong, c) }
      .toDF("media_id", "mime", "n_bytes", "content")
    val pairs = graft.analytics.Multimodal.nearDupMedia(media, maxHamming = 3)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("duplicateSpans: overlapping duplicated windows union correctly") {
    import spark.implicits._
    // doc 1 repeats its first five tokens (windows at 0 and 5 share
    // the hash, and the two length-5 spans tile the whole doc);
    // doc 2 shares only its opening span
    val df = Seq(
      (1L, "a b c d e a b c d e"),
      (2L, "a b c d e x y z w q"),
      (3L, "p q r s t u v w x y")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(df, "doc_id", "text", window = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((10L, 10L, 1.0)), s"full coverage: ${out(1L)}")
    assert(out(2L) == ((10L, 5L, 0.5)), s"opening span only: ${out(2L)}")
    assert(out(3L) == ((10L, 0L, 0.0)), s"no dups: ${out(3L)}")
  }

  test("dsir weights rank target-domain documents above the rest") {
    // target = the English slice: English docs must receive a higher
    // mean log importance ratio than non-English docs (that is the
    // operator's entire purpose), and every raw doc must be scored
    val target = docs.filter(col("lang") === "en")
    val w = graft.analytics.Text.dsirWeights(docs, target, "doc_id", "text")
    val joined = w.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang") === "en", col("log_weight")).collect()
    assert(joined.length == docs.count(), "every doc with tokens is scored")
    val en = joined.filter(_.getBoolean(0)).map(_.getDouble(1))
    val rest = joined.filterNot(_.getBoolean(0)).map(_.getDouble(1))
    assert(en.nonEmpty && rest.nonEmpty)
    val (mEn, mRest) = (en.sum / en.length, rest.sum / rest.length)
    assert(mEn > mRest,
      s"English mean log-weight $mEn must exceed non-English $mRest")
    // weights are per-token sums; a doc's weight must be finite
    assert(joined.forall(r => !r.getDouble(1).isNaN && !r.getDouble(1).isInfinite))
  }

  test("components with a reliable checkpoint dir matches localCheckpoint labels") {
    // cluster-safe lineage truncation: with a session checkpoint dir
    // (set in a child JVM, it cannot be unset here) the rounds cut
    // lineage with reliable checkpoints instead of executor-resident
    // localCheckpoint blocks, and give the same labels
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.components(pairs, driverEdgeCap = 0L)
      .collect().map(r => s"${r.getLong(0)},${r.getLong(1)}").toSeq.sorted
    assert(local == Seq("1,1", "10,10", "11,10", "2,1", "3,1"))
    val (status, out) = CheckpointDirProbe.reliableRun
    assert(status == 0, out)
    assert(CheckpointDirProbe.tagged(out, "ROWS").get("components") ==
      Some(local.mkString(";")), out)
    val written = CheckpointDirProbe.tagged(out, "CHECKPOINTS").get("components")
    assert(written.exists(_.toInt > 0), out)
  }

  test("fingerprint is whitespace-normalized and deterministic") {
    import spark.implicits._
    val df = Seq((1L, "hello  world"), (2L, "hello world"), (3L, "hello world!"))
      .toDF("doc_id", "text")
    val fps = Text.fingerprint(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L), "whitespace variants must collide")
    assert(fps(1L) != fps(3L), "different content must differ")
    // golden: stable across releases (rolling hash base 1000003)
    assert(fps(2L) == graft.analytics.Hashing.rollingHash("hello world"))
  }

  test("langId is deterministic and handles empty text") {
    import spark.implicits._
    val df = Seq((1L, "the cat is on the mat and the dog is there"),
      (2L, "")).toDF("doc_id", "text")
    val out = Text.langId(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "und")
  }

  test("exact dedup keeps one row per distinct text") {
    val distinct = docs.select("text").distinct().count()
    assert(Dedup.exact(docs, "doc_id", "text").count() == distinct)
  }

  test("token counts: golden values") {
    import spark.implicits._
    val df = Seq((1L, "Hello, world! 42 times")).toDF("doc_id", "text")
    val r = Text.tokenCounts(df, "doc_id", "text").collect().head
    assert(r.getLong(1) == 4)  // ws tokens
    assert(r.getLong(2) == 6)  // Hello , world ! 42 times
    assert(r.getLong(3) == 22) // chars
  }

  test("int8 quantization: max element hits ±127, zero vector is safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2))).toMap
    assert(out(1L)._1 == 1.0)
    assert(out(1L)._2 == Seq(64L, -127L, 32L)) // 0.5*127=63.5 → away from 0
    assert(out(2L)._1 == 0.0 && out(2L)._2 == Seq(0L, 0L, 0L))
  }

  test("collocations: an always-adjacent pair gets the top PMI") {
    import spark.implicits._
    // "new york" always adjacent; 'the' heads two different bigrams,
    // so its unigram count doubles and dilutes both PMIs
    val df = Seq.tabulate(8)(i => (i.toLong, "new york the cat the dog"))
      .toDF("doc_id", "text")
    val out = Text.collocations(df, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("new", "york")) > out(("the", "cat")))
    assert(out(("new", "york")) > 0)
  }

  test("token entropy: golden values (uniform = ln k, constant = 0)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x x x x")).toDF("doc_id", "text")
    val out = Text.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L) - math.log(4.0)) < 1e-12)
    assert(out(2L) == 0.0)
  }

  test("bigram LM: hand-computed add-one scores, single-token doc omitted") {
    import spark.implicits._
    // vocab {x,y,z} (V=3); cb: (x,y)=2 (y,x)=1 (x,z)=1; cc: x=3 y=1
    val df = Seq((1L, "x y x y"), (2L, "x z"), (3L, "x")).toDF("doc_id", "text")
    val out = Text.bigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // d1: -ln(3/6), -ln(2/4), -ln(3/6) → mean ln 2;  d2: -ln(2/6) = ln 3
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - math.log(2.0)) < 1e-12)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - math.log(3.0)) < 1e-12)
    assert(!out.contains(3L), "single-token doc has no bigrams")
  }

  test("chunking: overlapping windows cover the document exactly") {
    import spark.implicits._
    val df = Seq((1L, (1 to 25).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = Text.chunk(df, "doc_id", "text", chunkTokens = 10, overlap = 3)
      .orderBy("chunk_idx").collect()
    // stride 7: starts 0,7,14,21 → lengths 10,10,10,4
    assert(out.length == 4)
    assert(out.map(_.getLong(3)).toSeq == Seq(10L, 10L, 10L, 4L))
    assert(out(0).getString(2).startsWith("w1 w2"))
    assert(out(1).getString(2).startsWith("w8"))   // overlap of 3
    assert(out(3).getString(2) == "w22 w23 w24 w25")
  }

  test("cluster assignment: every vector gets one cluster, seeds score 1") {
    val out = Similarity.clusterAssign(emb, "vec_id", "embedding", k = 8)
    val rows = out.collect()
    assert(rows.length == emb.count())
    assert(rows.map(_.getInt(1)).forall(c => c >= 0 && c < 8))
    // a seed vector's cosine with its own centroid is exactly 1 unless
    // an earlier seed is even closer — either way its best sim is >= its
    // self-sim minus fp noise, so every seed scores ~1
    val seedSims = rows.filter(_.getLong(0) < 8).map(_.getDouble(2))
    assert(seedSims.forall(s => s > 0.999999))
  }

  test("a streaming twin compiles nothing when it runs again") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def run(): Long = {
      val c0 = METRIC_COMPILATION_TIME.getCount
      assert(SparkEntry.queries("text_heaps_stream")(spark, dir).count() == 1)
      METRIC_COMPILATION_TIME.getCount - c0
    }
    run()
    assert(run() == 0)
  }
}
