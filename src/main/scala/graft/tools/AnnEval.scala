package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analytics.Fences.fence
import graft.analytics.Similarity

/** ANN recall MEASURED, not guessed — the IVF twin of [[DedupEval]]:
  * recall@k of [[Similarity.ivfTopK]] against the brute-force
  * ground truth ([[Similarity.bruteForceTopK]]) as nprobe sweeps
  * 1 → nlist. nprobe = nlist probes every cell and must recover the
  * exact result (the gate row's configuration); the sweep prices how
  * much recall each saved probe costs on THIS corpus's geometry —
  * the 100 TB tuning question (probe fewer cells ⇒ scan less of the
  * corpus per query) answered from measurement.
  *
  * Usage: runMain graft.tools.AnnEval [sfDir]
  */
object AnnEval {

  def eval(spark: SparkSession, dir: String, k: Int, nlist: Int,
           nprobe: Int, nQueries: Int = 64): (Double, Double) = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < nQueries)
    val gt = fence(Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k)
      .select(col("query_id"), col("neighbor_id")))
    val t0 = System.nanoTime()
    val got = fence(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k, nlist, nprobe)
      .select(col("query_id"), col("neighbor_id")))
    val secs = (System.nanoTime() - t0) / 1e9
    val nGt = gt.count()
    val hit = got.join(gt, Seq("query_id", "neighbor_id")).count()
    (hit.toDouble / nGt, secs)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-anneval")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nlist = 16
    println(f"${"nprobe"}%7s ${"recall@10"}%10s ${"secs"}%7s")
    val rows = Seq(1, 2, 4, 8, 16).map { np =>
      val (rec, secs) = eval(spark, dir, 10, nlist, np)
      println(f"$np%7d $rec%10.4f $secs%7.2f")
      (np, rec, secs)
    }
    val js = rows.map { case (np, rec, secs) =>
      s"""{"nprobe":$np,"recall":$rec,"secs":$secs}""" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"ann_eval","nlist":$nlist,"rows":$js}""")
    spark.stop()
  }
}
