package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Dedup, Fences, Graph}

/** The materialization policy lives in [[Fences]] only, and its
  * reliable branch (a session checkpoint dir) gives the operators the
  * results of the local branch. */
class FencesSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  test("no fence, lineage cut or spill is made outside Fences") {
    val root = Paths.get("src/main/scala")
    val fences = root.resolve("graft/analytics/Fences.scala")
    val sources = {
      val w = Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(w.iterator()).asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(sources.contains(fences))
    def hits(files: Seq[Path], needles: Seq[String]): Seq[String] =
      for {
        f <- files.filter(_ != fences)
        (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
        n <- needles if line.contains(n)
      } yield s"$f:${i + 1}: $n"
    val policy = hits(sources, Seq("localCheckpoint(", "getCheckpointDir", ".checkpoint(true)"))
    assert(policy.isEmpty, policy.mkString("\n"))
    val spills = hits(sources.filter(_.startsWith(root.resolve("graft/analytics"))),
      Seq("mode(\"overwrite\").parquet"))
    assert(spills.isEmpty, spills.mkString("\n"))
  }

  test("with a session checkpoint dir, results equal the local ones and spills do not collide") {
    val (status, out) = CheckpointDirProbe.reliableRun
    assert(status == 0, out)
    def tagged(tag: String) = CheckpointDirProbe.tagged(out, tag)
    val reliable = tagged("ROWS")
    val local = CheckpointDirProbe.cases(spark)
    assert(reliable.keySet == local.map(_._1).toSet, out)
    local.foreach { case (name, rows) =>
      assert(reliable(name) == rows.mkString(";"), s"$name under a checkpoint dir")
    }
    assert(reliable("components") == "1,1;10,10;11,10;2,1;3,1")
    // each iterative loop cut its lineage with reliable checkpoints
    tagged("CHECKPOINTS").foreach { case (name, n) =>
      assert(n.toInt > 0, s"$name wrote no reliable checkpoint")
    }
    assert(tagged("CHECKPOINTS").keySet ==
      Set("components", "labelPropagation", "seedDistance"), out)
  }
}

/** Runs [[CheckpointDirProbe.cases]] in a session with a checkpoint
  * dir (which cannot be unset in a shared context, hence its own JVM)
  * and prints each result as `ROWS <case> <rows>`, and, per iterative
  * operator, `CHECKPOINTS <case> <n>`: the reliable checkpoints it
  * wrote. */
object CheckpointDirProbe {

  /** (exit status, output) of [[main]] in a child JVM; run once per
    * test JVM and shared by the specs that read it. */
  lazy val reliableRun: (Int, String) =
    SpecSupport.childJvm("graft.CheckpointDirProbe", "768m")

  /** The `<tag> <case> <value>` lines of `out`, as case -> value. */
  def tagged(out: String, tag: String): Map[String, String] =
    out.linesIterator.filter(_.startsWith(tag + " "))
      .map(_.drop(tag.length + 1).split(" ", 2))
      .map(a => a(0) -> (if (a.length > 1) a(1) else "")).toMap

  /** (case, sorted rows rendered as "a,b"): two pageRank results, the
    * first read after the second is built, and the three operators
    * that cut lineage every round. */
  def cases(spark: SparkSession): Seq[(String, Seq[String])] =
    run(spark, _ => ())

  private def run(spark: SparkSession,
                  after: String => Unit): Seq[(String, Seq[String])] = {
    import spark.implicits._
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(r => s"${r.get(0)},${r.get(1)}").toSeq.sorted
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val cycle = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val first = Graph.pageRank(chain, "src", "dst", deterministic = true)
    val second = Graph.pageRank(cycle, "src", "dst", deterministic = true)
    val ranks = Seq("pageRank_first" -> rows(first), "pageRank_second" -> rows(second))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = rows(Dedup.components(pairs, driverEdgeCap = 0L))
    after("components")
    // two triangles joined by one edge, and a separate pair
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (20L, 21L)).toDF("src", "dst")
    val lpa = rows(Graph.labelPropagation(g, "src", "dst"))
    after("labelPropagation")
    val bfs = rows(Graph.seedDistance(g, "src", "dst", Seq(1L).toDF("id")))
    after("seedDistance")
    ranks ++ Seq("components" -> cc, "labelPropagation" -> lpa, "seedDistance" -> bfs)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("ckpt-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val root = Paths.get(Fences.tempDir("ckpt-probe"))
      spark.sparkContext.setCheckpointDir(root.toString)
      def checkpoints(): Int = {
        val w = Files.walk(root)
        try w.filter(p => p.getFileName.toString.startsWith("rdd-")).count().toInt
        finally w.close()
      }
      var seen = checkpoints()
      val results = run(spark, { name =>
        val now = checkpoints()
        println(s"CHECKPOINTS $name ${now - seen}")
        seen = now
      })
      results.foreach { case (name, rows) => println(s"ROWS $name ${rows.mkString(";")}") }
    } finally spark.stop()
  }
}
