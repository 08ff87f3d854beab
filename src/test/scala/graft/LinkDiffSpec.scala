package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.{Graph, Stats}
import graft.model.Cdc
import graft.streaming.StreamingOps

/** Semantics of the round-8 fifth continuation: link prediction,
  * Benford screen, snapshot diff, incremental join views.
  */
class LinkDiffSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("jaccard links: path endpoints score 1, connected pairs excluded") {
    // path a-b-c: (a,c) share {b}, degrees 1 and 1 -> jaccard 1.
    // triangle x-y-z: all pairs connected -> nothing emitted.
    val edges = Seq((1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("u", "v")
    val got = Graph.jaccardLinks(edges, "u", "v", minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == Set((1L, 3L, 1L, 1.0)))
  }

  test("jaccard links: union via inclusion-exclusion, hub dilution") {
    // star center 0 with leaves 1..4, plus edge 1-9:
    // leaves (2,3): N={0} each -> jac 1. (1,2): deg 1 = 2 -> 1/2.
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 9L))
      .toDF("u", "v")
    val got = Graph.jaccardLinks(edges, "u", "v", minJaccard = 0.0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    assert(got((2L, 3L)) == 1.0 && got((1L, 2L)) == 0.5)
  }

  test("benford: proportional corpus passes, constant-digit data flags") {
    // counts proportional to the ppm table (~0.1% rounding) pass the
    // 20% relative screen with margin
    val prop = Stats.benfordPpm.toSeq.flatMap { case (d, ppm) =>
      Seq.fill((ppm / 1000L).toInt)(("p", d.toLong)) }
    val rp = Stats.benford(prop.toDF("g", "v"), Seq("g"), "v")
      .collect()
    assert(rp.length == 9 && rp.forall(!_.getAs[Boolean]("flag")),
      rp.map(r => (r.getLong(1), r.getAs[Boolean]("flag"))).mkString(","))
    // every value starts with 9 -> digit 9 wildly over, digit 1 absent
    val nines = (0 until 100).map(i => ("n", 900L + i))
    val rn = Stats.benford(nines.toDF("g", "v"), Seq("g"), "v").collect()
    assert(rn.length == 1 && rn.head.getLong(1) == 9L &&
      rn.head.getAs[Boolean]("flag"))
  }

  test("snapshot diff: insert/update/delete classified, unchanged dropped") {
    val oldS = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"),
      (4L, Double.NaN, "d")).toDF("k", "p", "s")
    val newS = Seq((2L, 20.0, "b"), (3L, 31.0, "c"), (5L, 50.0, "e"),
      (4L, Double.NaN, "d")).toDF("k", "p", "s")
    val got = Cdc.snapshotDiff(oldS, newS, Seq("k"), Seq("p", "s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // NaN <=> NaN is TRUE under null-safe equality -> 4 unchanged
    assert(got == Map(1L -> "delete", 3L -> "update", 5L -> "insert"))
  }

  test("joinViewSink: any in-order 2-batch split equals the batch join; replay safe") {
    val rnd = new scala.util.Random(4242)
    val lefts = (1 to 60).map(i => (rnd.nextInt(12).toLong, i.toLong,
      i * 1.5))
    val rights = (1 to 12).map(k => (k.toLong, s"name$k", s"seg${k % 3}"))
    def row(side: String, k: Long, a: Option[Long], b: Option[Double],
            c: Option[String], d: Option[String]) = (side, k, a, b, c, d)
    val all = lefts.map(l => row("l", l._1, Some(l._2), Some(l._3),
      None, None)) ++ rights.map(r => row("r", r._1, None, None,
      Some(r._2), Some(r._3)))
    val shuffled = rnd.shuffle(all)
    val (b0, b1) = shuffled.splitAt(rnd.nextInt(all.size))
    val dir = Fences.tempDir("jv")
    val sink = StreamingOps.joinViewSink(dir, "cust",
      Seq("o_orderkey", "o_total"), Seq("c_name", "c_seg"))
    def toDf(rs: Seq[(String, Long, Option[Long], Option[Double],
        Option[String], Option[String])]) =
      rs.toDF("_side", "cust", "o_orderkey", "o_total", "c_name", "c_seg")
    sink(toDf(b0), 0L)
    sink(toDf(b1), 1L)
    def view(id: Long) = spark.read.parquet(s"$dir/view/batch=$id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4))).sortBy(_.toString).toSeq
    val clean = view(1L)
    sink(toDf(b1), 1L) // crash replay must not duplicate view rows
    assert(view(1L) == clean)
    val batchJoin = lefts.toDF("cust", "o_orderkey", "o_total")
      .join(rights.toDF("cust", "c_name", "c_seg"), "cust")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4))).sortBy(_.toString).toSeq
    assert(clean == batchJoin, "streamed view != batch join")
  }
}
