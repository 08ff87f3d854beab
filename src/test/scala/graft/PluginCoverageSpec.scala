package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Graph, Retrieval, Similarity, Temporal}
import graft.functions.JsonOps
import graft.model.Cdc
import graft.ops.Registry

/** Registry plugins that no other spec runs: each is built through
  * [[Registry.create]] from string settings, run on a small fixture,
  * and its records must equal the `graft.analytics` operator it wraps,
  * applied to the same fields read as the plugin reads them.
  */
class PluginCoverageSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def wrap(df: DataFrame, key: String) = Cdc.wrap(df, key, "t")

  /** The records a reshape plugin emits, as payload objects without
    * the `key` column it added; every record carries the plugin name
    * as its collection. */
  private def records(plugin: String, out: DataFrame,
                      key: Option[String]): Seq[JsonNode] = {
    val rows = out.select(col(Cdc.Metadata).getItem("opencdc.collection"),
      col(Cdc.PayloadAfter)).collect()
    assert(rows.forall(_.getString(0) == plugin), rows.map(_.getString(0)).toSet)
    sorted(rows.map { r =>
      val p = JsonOps.parse(r.getString(1)).asInstanceOf[ObjectNode]
      key.foreach(p.remove)
      p
    }.toSeq)
  }

  /** The rows of an operator's result in the payload encoding. */
  private def rows(df: DataFrame): Seq[JsonNode] =
    sorted(df.select(to_json(struct(df.columns.toSeq.map(col): _*))).collect()
      .map(r => JsonOps.parse(r.getString(0))).toSeq)

  private def sorted(ns: Seq[JsonNode]) = ns.sortBy(_.toString)

  private def check(plugin: String, settings: Map[String, String],
                    base: DataFrame, key: Option[String], want: DataFrame) = {
    val got = records(plugin, Registry.create(plugin, settings)(base), key)
    val exp = rows(want)
    assert(got.nonEmpty, plugin)
    assert(got == exp, s"$plugin:\n${got.mkString("\n")}\nvs\n${exp.mkString("\n")}")
  }

  // two triangles joined by a bridge, plus a separate 3-cycle
  private val edgeRows = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L), (8L, 9L), (9L, 7L))
  private def edgeBase =
    wrap(edgeRows.zipWithIndex.map { case ((s, d), i) => (i.toLong, s, d) }
      .toDF("id", "src", "dst"), "id")
  // payload fields are read as strings
  private def edges =
    edgeRows.map { case (s, d) => (s.toString, d.toString) }.toDF("id_a", "id_b")
  private val edgeSettings = Map("src" -> ".Payload.After.src",
    "dst" -> ".Payload.After.dst", "iterations" -> "3")

  test("graph.labelprop emits the labelPropagation communities") {
    check("graph.labelprop", edgeSettings, edgeBase, None,
      Graph.labelPropagation(edges, "id_a", "id_b", 3))
  }

  test("graph.modularity emits the modularity of the labelprop partition") {
    val e = edges
    check("graph.modularity", edgeSettings, edgeBase, Some("_k"),
      Graph.modularity(e, "id_a", "id_b",
        Graph.labelPropagation(e, "id_a", "id_b", 3)))
  }

  // two 64-point series: a level shift at day 40, and a sawtooth
  private val seriesRows = (1 to 64).flatMap { d =>
    Seq(("shift", d.toLong, if (d < 40) 10L + d % 3 else 50L + d % 5),
      ("saw", d.toLong, (d * 7 % 13).toLong))
  }
  private def seriesBase =
    wrap(seriesRows.zipWithIndex.map { case ((g, d, v), i) => (i.toLong, g, d, v) }
      .toDF("id", "event_type", "day", "cents"), "id")
  private def series = seriesRows.toDF("event_type", "_ord", "_val")
  private val seriesSettings = Map("groups" -> ".Payload.After.event_type",
    "order" -> ".Payload.After.day", "value" -> ".Payload.After.cents")

  test("ts.changepoint emits the changepoint of each series") {
    check("ts.changepoint", seriesSettings, seriesBase, Some("_k"),
      Temporal.changepoint(series, Seq("event_type"), "_ord", "_val"))
  }

  test("ts.hurst emits the rescaled-range exponent of each series") {
    check("ts.hurst", seriesSettings, seriesBase, Some("_k"),
      Temporal.hurstRs(series, Seq("event_type"), "_ord", "_val"))
  }

  test("sim.pca emits the top component's loadings and projections") {
    val vecs = Seq(Seq(1.0, 2.0, 0.5), Seq(2.0, 4.5, 1.0), Seq(3.0, 6.0, 1.5),
      Seq(-1.0, -2.5, 0.0), Seq(0.5, 1.0, -0.5), Seq(4.0, 8.0, 2.5))
    val base = wrap(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "embedding"), "id")
    val flat = vecs.zipWithIndex.map { case (v, i) => (i.toString, v) }
      .toDF("_id", "_vec")
    val settings = Map("id" -> ".Payload.After.id",
      "vec" -> ".Payload.After.embedding", "iterations" -> "4")
    check("sim.pca", settings, base, None,
      Similarity.pcaTopComponent(flat, "_id", "_vec", 4))
    check("sim.pca", settings + ("output" -> "project"), base, None,
      Similarity.pcaProject(flat, "_id", "_vec", 4))
  }

  test("retrieval.rm3 emits the feedback-expanded BM25 ranking") {
    val docs = Seq("hash join merge sort", "merge join on sorted keys",
      "hash table build and probe", "spark sql catalyst optimizer",
      "bloom filter join pruning", "hash aggregate merge phase")
    val base = wrap(docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text"), "id")
    val flat = docs.zipWithIndex.map { case (t, i) => (i.toString, t) }
      .toDF("_id", "_text")
    check("retrieval.rm3", Map("id" -> ".Payload.After.id",
        "field" -> ".Payload.After.text", "query" -> "Hash join  merge",
        "fbDocs" -> "2", "fbTerms" -> "3", "topK" -> "4"),
      base, Some("_k"),
      Retrieval.rm3(flat, "_id", "_text", Seq("q" -> Seq("hash", "join", "merge")),
        1.2, 0.75, 2, 3, 0.6, 4))
  }
}
