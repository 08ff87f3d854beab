package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.{Dedup, Profiling, Retrieval, Sketch, Stats}
import graft.streaming.StreamingOps

/** Semantics of the round-8 third continuation: seasonal-naive screen,
  * column profiler, phrase matching, canonical dedup selection, and
  * the additive count-min streaming sink.
  */
class ProfilePhraseSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("seasonal naive: gaps never misalign the season (value-lag)") {
    // days 0..7 except day 1 missing; a row-lag(7) would compare
    // day 8 to day 0 — the value-lag compares day 8 to day 1 = absent
    val rows = Seq(0L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      5L -> 100L, 6L -> 100L, 7L -> 100L, 8L -> 500L)
    val df = rows.map { case (d, x) => ("g", d, x) }.toDF("g", "day", "x")
    val out = Stats.seasonalNaive(df, Seq("g"), "day", "x", period = 7L)
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(5))).toMap
    assert(out(7L) == (Some(100L), false)) // day 7 vs day 0: flat
    assert(out(8L) == (None, false))       // day 8 vs missing day 1
  }

  test("seasonal naive: alarm needs BOTH relative and absolute deviation") {
    val df = Seq(("g", 0L, 10L), ("g", 7L, 15L), // +50% but |diff|=5 < 20
      ("g", 1L, 1000L), ("g", 8L, 1400L),        // +40% and |diff|=400
      ("g", 2L, 1000L), ("g", 9L, 1100L)         // +10%: relative too small
    ).toDF("g", "day", "x")
    val out = Stats.seasonalNaive(df, Seq("g"), "day", "x", period = 7L)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(!out(7L) && out(8L) && !out(9L))
  }

  test("column profile: counts, nulls, distincts, min/max by kind") {
    val df = Seq((1L, Some(2.0), Some("b")), (2L, None, Some("a")),
      (3L, Some(2.0), None), (3L, Some(5.0), Some("a")))
      .toDF("id", "v", "s")
    val out = Profiling.columnProfile(df, Seq("id", "v"), Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert(id.getLong(1) == 4L && id.getLong(2) == 0L && id.getLong(3) == 3L)
    assert(id.getDouble(4) == 1.0 && id.getDouble(5) == 3.0)
    val v = out("v")
    assert(v.getLong(1) == 3L && v.getLong(2) == 1L && v.getLong(3) == 2L)
    val s = out("s")
    assert(s.getLong(1) == 3L && s.getLong(2) == 1L && s.getLong(3) == 2L)
    assert(s.getString(6) == "a" && s.getString(7) == "b")
    assert(s.isNullAt(4) && s.isNullAt(5))
  }

  test("phrase count: overlaps count, case folds, short docs drop") {
    val df = Seq((1L, "A a a"), (2L, "x a a y"), (3L, "a"), (4L, "b a"),
      (5L, "")).toDF("id", "text")
    val out = Retrieval.phraseCount(df, "id", "text", Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L))
  }

  test("canonical: richest member wins, ties to smaller id, singletons") {
    // docs 1,2,3 near-identical (same text); 9 a singleton
    val df = Seq((1L, "x y z w q r s t u v", 10L),
      (2L, "x y z w q r s t u v", 30L),
      (3L, "x y z w q r s t u v", 30L),
      (9L, "completely different words entirely here now", 7L))
      .toDF("doc_id", "text", "sz")
    val out = Dedup.canonical(df, "doc_id", "text", "sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set((1L, 3L, 2L, 30L), (9L, 1L, 9L, 7L)))
  }

  test("runs test: clumped and alternating flagged, balanced-random not") {
    import graft.analytics.Stats
    def run(xs: Seq[Boolean]) = Stats.runsTest(
      xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
        .toDF("g", "t", "x"),
      Seq("g"), col("t"), col("t"), col("x")).collect().head
    // 30 trues then 30 falses: 2 runs — wildly too few
    val clump = run(Seq.fill(30)(true) ++ Seq.fill(30)(false))
    assert(clump.getAs[Long]("runs") == 2L &&
      clump.getAs[Boolean]("significant"))
    // perfect alternation: 60 runs — too many (two-sided)
    val alt = run((0 until 60).map(_ % 2 == 0))
    assert(alt.getAs[Long]("runs") == 60L &&
      alt.getAs[Boolean]("significant"))
    // deterministic pseudo-random balanced sequence: not significant
    val rnd = new scala.util.Random(5)
    val mixed = run(rnd.shuffle((Seq.fill(30)(true) ++
      Seq.fill(30)(false)).toVector))
    assert(!mixed.getAs[Boolean]("significant"),
      s"runs=${mixed.getAs[Long]("runs")}")
  }

  test("histogramBinSink: streamed state == batch bins; replay safe") {
    val dir = Fences.tempDir("hist-sink")
    val sink = StreamingOps.histogramBinSink(dir, Seq("g"), "v",
      lo = 0.0, width = 1.0, bins = 16)
    val all = (1 to 300).map(i => ("a", (i % 20).toDouble))
    val (b0, b1) = all.splitAt(140)
    sink(b0.toDF("g", "v"), 0L)
    sink(b1.toDF("g", "v"), 1L)
    def state(id: Long) = spark.read.parquet(s"$dir/batch=$id").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val clean = state(1L)
    sink(b1.toDF("g", "v"), 1L) // replay must not double-count
    assert(state(1L) == clean)
    val direct = Sketch.histogramBins(all.toDF("g", "v"), Seq("g"), "v",
      0.0, 1.0, 16).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(clean == direct)
  }

  test("cmsCounterSink: streamed state == batch counters; replay safe") {
    val dir = Fences.tempDir("cms-sink")
    val sink = StreamingOps.cmsCounterSink(dir, "w", depth = 4, width = 16)
    val all = (1 to 400).map(i => s"tok${i % 23}")
    val (b0, b1) = all.splitAt(170)
    sink(b0.toDF("w"), 0L)
    sink(b1.toDF("w"), 1L)
    def state(id: Long) = spark.read.parquet(s"$dir/batch=$id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val clean = state(1L)
    // crash replay of batch 1 must NOT double-count (sum is not
    // idempotent — the committed-dir guard is what protects it)
    sink(b1.toDF("w"), 1L)
    assert(state(1L) == clean)
    val direct = Sketch.cmsCounters(
      all.toDF("w").groupBy(col("w")).agg(count(lit(1)).as("n")),
      "w", "n", depth = 4, width = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(clean == direct, "stream-summed counters != batch counters")
  }
}
