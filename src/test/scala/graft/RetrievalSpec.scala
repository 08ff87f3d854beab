package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.Retrieval

/** BM25 / TF-IDF ranking semantics on hand-built corpora with known
  * orderings, plus the published saturation and length-normalization
  * properties of the k1/b form.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("bm25 ranks the document with more matching terms first") {
    val docs = corpus(
      1L -> "spark spark engine",
      2L -> "spark query engine planner",
      3L -> "unrelated words entirely here")
    val out = Retrieval.bm25(docs, "doc_id", "text",
      Seq("q" -> Seq("spark", "query")), topK = 10)
      .orderBy("rank").collect()
    // doc 2 matches both terms; doc 1 only 'spark'; doc 3 not returned
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 1L))
    assert(out.head.getDouble(3) > out(1).getDouble(3))
  }

  test("bm25 term-frequency saturation: tf gain is sublinear (k1 bound)") {
    val docs = corpus(
      1L -> ("term " * 1 + "pad " * 9).trim,
      2L -> ("term " * 20 + "pad " * 9).trim,
      3L -> "pad only filler")
    val out = Retrieval.bm25(docs, "doc_id", "text",
      Seq("q" -> Seq("term")), topK = 10)
      .orderBy("doc_id").collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // saturates: 20x the tf must stay under the (k1+1) multiple of tf=1
    assert(out(2L) > out(1L))
    assert(out(2L) < out(1L) * 2.2)
  }

  test("bm25 length normalization: same tf, shorter document wins") {
    val docs = corpus(
      1L -> ("term " + "pad " * 4).trim,
      2L -> ("term " + "pad " * 40).trim,
      3L -> "other text")
    val out = Retrieval.bm25(docs, "doc_id", "text",
      Seq("q" -> Seq("term")), topK = 10)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out(1L) > out(2L))
  }

  test("bm25 scores multiple queries independently in one pass") {
    val docs = corpus(
      1L -> "alpha beta", 2L -> "gamma delta", 3L -> "alpha gamma")
    val out = Retrieval.bm25(docs, "doc_id", "text",
      Seq("qa" -> Seq("alpha"), "qg" -> Seq("gamma")), topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(out == Set(("qa", 1L), ("qa", 3L), ("qg", 2L), ("qg", 3L)))
  }

  test("leak-free single scan: the corpus tokenizes once via exchange reuse, nothing persists") {
    // The no-persist design (PERF.md round 6): every consumer of the
    // tokenized corpus reads ONE canonicalized exchange, so the final
    // adaptive plan shows exactly one parquet/LocalTableScan feeding a
    // tokenize subtree and ReusedExchange nodes for the other branches
    // — and the CacheManager stays empty (a prior persist here leaked
    // for the session's lifetime). Guards the canonicalization tricks
    // (tf>0 gate, sentinel token) against optimizer-drift regressions.
    val dir = Fences.tempDir("retrieval-scan")
    corpus(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta epsilon zeta",
      3L -> "eta theta iota kappa").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
    }
    val bm = finalPlan(Retrieval.bm25(docs, "doc_id", "text",
      Seq("q1" -> Seq("alpha", "gamma"))))
    // one tokenizing scan (the split() projection), two reused branches
    val bmScans = "split\\(".r.findAllIn(bm).length
    assert("ReusedExchange".r.findAllIn(bm).length >= 2,
      s"bm25 branches must reuse the shared exchange:\n$bm")
    val tf = finalPlan(Retrieval.tfidf(docs, "doc_id", "text", minDf = 1))
    assert("ReusedExchange".r.findAllIn(tf).length >= 1,
      s"tfidf df-branch must reuse the tf exchange:\n$tf")
    // no-persist proof from the plans THEMSELVES, not the session's
    // global CacheManager: suites share one SparkSession and run in
    // parallel, so a global-emptiness assert races with any other
    // suite's transient .cache() (observed flaking once WasmSpec /
    // Round17Spec shifted the schedule). A retrieval persist would
    // surface as an InMemoryRelation/InMemoryTableScan node in the
    // executed plan — assert on that, which is immune to neighbors.
    // (InMemoryFileIndex is the parquet scan's file listing, not a
    // cache — match the cache operators specifically)
    def cached(p: String) =
      p.contains("InMemoryRelation") || p.contains("InMemoryTableScan")
    assert(!cached(bm),
      s"retrieval must not persist (bm25 plan caches):\n$bm")
    assert(!cached(tf),
      s"retrieval must not persist (tfidf plan caches):\n$tf")
    assert(bmScans >= 1) // sanity: the tokenize subtree exists at all
  }

  test("rm3 expansion recalls a doc sharing no original query term") {
    // 'spark engine' retrieves docs 1-3; their shared vocabulary
    // ('tungsten') expands the query, pulling in doc 4 — the classic
    // vocabulary-mismatch recall win PRF exists for
    val docs = corpus(
      1L -> "spark engine tungsten fast",
      2L -> "spark engine tungsten codegen",
      3L -> "spark tungsten planner",
      4L -> "tungsten metal alloy",
      5L -> "completely unrelated words here")
    val base = Retrieval.bm25(docs, "doc_id", "text",
      Seq("q" -> Seq("spark", "engine")), topK = 10)
      .collect().map(_.getLong(2)).toSet
    assert(!base.contains(4L), "baseline must miss the no-overlap doc")
    val rm3 = Retrieval.rm3(docs, "doc_id", "text",
      Seq("q" -> Seq("spark", "engine")),
      fbDocs = 3, fbTerms = 3, alpha = 0.5, topK = 10)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(rm3.contains(4L), s"expansion failed to recall doc 4: $rm3")
    assert(!rm3.contains(5L), "unrelated doc stays out")
    // originals still dominate: a feedback doc outranks the
    // expansion-only doc under the alpha interpolation
    assert(rm3(1L) < rm3(4L) || rm3(2L) < rm3(4L),
      s"feedback docs should outrank the expansion-only doc: $rm3")
  }

  test("bm25Weighted scales term contributions by their weights") {
    val docs = corpus(
      1L -> "alpha alpha beta",
      2L -> "beta beta alpha")
    // weight 'alpha' 1.0 vs 'beta' 0.0 — doc 1 must win; flip -> doc 2
    val w1 = Retrieval.bm25Weighted(docs, "doc_id", "text",
      Seq("q" -> Seq("alpha" -> 1.0, "beta" -> 0.0)), topK = 1)
      .head().getLong(2)
    val w2 = Retrieval.bm25Weighted(docs, "doc_id", "text",
      Seq("q" -> Seq("alpha" -> 0.0, "beta" -> 1.0)), topK = 1)
      .head().getLong(2)
    assert(w1 == 1L && w2 == 2L, s"got $w1 / $w2")
  }

  test("tfidf: rarer terms weigh more; sub-minDf terms are dropped") {
    val docs = corpus(
      1L -> "common rare",
      2L -> "common other",
      3L -> "common thing",
      4L -> "common rare")
    val out = Retrieval.tfidf(docs, "doc_id", "text", minDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    // 'rare' (df=2) outweighs 'common' (df=4) in the same doc
    assert(out((1L, "rare")) > out((1L, "common")))
    // df=1 terms are excluded by minDf
    assert(!out.keySet.exists(_._2 == "other"))
    // idf of an every-document term is ln(1) = 0
    assert(out((1L, "common")) == 0.0)
  }
}
