package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.analytics.Fences.fence

/** LSH banding recall MEASURED, not guessed: for each (numHashes,
  * numBands) configuration and threshold, the recall of the verified
  * MinHash pipeline ([[Dedup.minhashPairs]]) against EXACT
  * shingle-set-Jaccard ground truth — the SSJoin prefix operator
  * ([[Dedup.jaccardPrefixJoin]]) run over shingle-tokens (each word
  * 3-gram collapsed to one `_`-joined token, so its word-set Jaccard
  * IS the shingle-set Jaccard MinHash estimates). Precision is 1.0 by
  * construction — minhashPairs verifies every candidate with the
  * exact Jaccard before emitting — so the tunable risk is ONLY missed
  * pairs, and this tool prices it next to the banding theory curve
  * 1 − (1 − s^r)^b at s = threshold.
  *
  * Usage: runMain graft.tools.DedupEval [sfDir]
  */
object DedupEval {

  /** Shingle-token projection: doc text whose "words" are the doc's
    * word 3-grams — shared by ground truth so the two sides cannot
    * drift in tokenization.
    */
  private def shingleText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_join(transform(Dedup.wordShingles(col("text"), 3),
        s => regexp_replace(s, " ", "_")), " ").as("text"))

  final case class Row(threshold: Double, hashes: Int, bands: Int,
                       exact: Long, got: Long, hit: Long,
                       recall: Double, theory: Double)

  def eval(spark: SparkSession, dir: String, threshold: Double,
           numHashes: Int, numBands: Int): Row = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val norm = (d: DataFrame, a: String, b: String) => d.select(
      least(col(a), col(b)).as("a"), greatest(col(a), col(b)).as("b"))
    val exact = fence(norm(Dedup.jaccardPrefixJoin(
      shingleText(docs), "doc_id", "text", threshold), "id_a", "id_b")
      .distinct())
    val got = fence(norm(Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = numHashes, numBands = numBands,
      threshold = threshold), "id_a", "id_b")
      .distinct())
    val nExact = exact.count()
    val nGot = got.count()
    val nHit = got.join(exact, Seq("a", "b")).count()
    val r = numHashes / numBands
    val theory = 1.0 - math.pow(1.0 - math.pow(threshold, r), numBands)
    Row(threshold, numHashes, numBands, nExact, nGot, nHit,
      if (nExact == 0) 1.0 else nHit.toDouble / nExact, theory)
  }

  /** Graded near-dup corpus: every doc gets one mutated copy (id +
    * 10⁶) with a doc-determined fraction (5%…50%, cycling on doc_id)
    * of its tokens replaced by copy-unique tokens — pairs spread
    * across the whole Jaccard range, so banding recall can be traced
    * AGAINST the S-curve instead of only at the j≈1 cliff the natural
    * corpus exercises.
    */
  private def gradedCorpus(docs: DataFrame): DataFrame = {
    val frac20 = (pmod(col("doc_id"), lit(10)) + 1).cast("int") // 1..10 of 20
    val copy = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
      array_join(transform(split(lower(trim(col("text"))), "\\s+"),
        (tok, i) => when(pmod(i, lit(20)) < frac20,
          concat(lit("zz"), col("doc_id"), lit("x"), i)).otherwise(tok)),
        " ").as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(copy)
  }

  /** Recall per true-Jaccard bucket on the graded corpus, one row per
    * (config, bucket): measured recall next to the banding curve at
    * the bucket midpoint.
    */
  def gradedEval(spark: SparkSession, dir: String, numHashes: Int,
                 numBands: Int): Seq[(Double, Long, Long, Double, Double)] = {
    val corpus = fence(gradedCorpus(
      spark.read.parquet(s"$dir/documents.parquet")))
    val t = 0.25
    val exact = fence(Dedup.jaccardPrefixJoin(shingleText(corpus), "doc_id",
        "text", t)
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"), col("jaccard")))
    val got = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleSize = 3, numHashes = numHashes, numBands = numBands,
        threshold = t)
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .distinct().withColumn("hit", lit(1L))
    val r = numHashes / numBands
    exact.join(got, Seq("a", "b"), "left")
      .select((floor(col("jaccard") * 10) / 10).as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("hits"))
      .orderBy(col("bucket"))
      .collect().map { row =>
        val bucket = row.getDouble(0)
        val n = row.getLong(1); val hits = row.getLong(2)
        val mid = bucket + 0.05
        val theory = 1.0 - math.pow(1.0 - math.pow(mid, r), numBands)
        (bucket, n, hits, hits.toDouble / n, theory)
      }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-dedupeval")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = for {
      t <- Seq(0.5, 0.7, 0.9)
      (h, b) <- Seq((128, 16), (128, 32), (64, 16))
    } yield eval(spark, dir, t, h, b)
    println(f"${"thr"}%5s ${"h"}%4s ${"b"}%3s ${"exact"}%7s ${"got"}%7s " +
      f"${"hit"}%7s ${"recall"}%7s ${"theory@thr"}%10s")
    rows.foreach { r =>
      println(f"${r.threshold}%5.2f ${r.hashes}%4d ${r.bands}%3d " +
        f"${r.exact}%7d ${r.got}%7d ${r.hit}%7d ${r.recall}%7.4f " +
        f"${r.theory}%10.4f")
    }
    val js = rows.map(r => s"""{"t":${r.threshold},"h":${r.hashes},""" +
      s""""b":${r.bands},"exact":${r.exact},"got":${r.got},""" +
      s""""hit":${r.hit},"recall":${r.recall}}""").mkString("[", ",", "]")
    println(s"""{"metric":"dedup_eval","rows":$js}""")

    // graded S-curve trace: recall per true-Jaccard bucket
    for ((h, b) <- Seq((128, 16), (128, 32))) {
      println(s"\ngraded corpus, hashes=$h bands=$b (r=${h / b}):")
      println(f"${"bucket"}%7s ${"pairs"}%7s ${"hit"}%7s ${"recall"}%7s " +
        f"${"theory@mid"}%10s")
      gradedEval(spark, dir, h, b).foreach { case (bk, n, hits, rec, th) =>
        println(f"$bk%7.1f $n%7d $hits%7d $rec%7.4f $th%10.4f")
      }
    }
    spark.stop()
  }
}
