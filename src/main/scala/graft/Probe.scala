package graft
import org.apache.spark.sql.SparkSession
object Probe {
  def main(args: Array[String]): Unit = {
    val passes = passesFrom(sys.env.get("PROBE_PASSES"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", sys.env.getOrElse("CACHED_AQE","false"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.toSeq
    // warmup like Bench
    SparkEntry.queries.get("q1_pricing_summary").foreach(q =>
      try q(spark, sfDir).write.format("noop").mode("overwrite").save() catch { case _: Throwable => () })
    names.foreach { n =>
      for (i <- 1 to passes) {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"PROBE $n pass$i ${(System.nanoTime()-t0)/1e9}%.3f s")
      }
    }
    spark.stop()
  }

  /** `PROBE_PASSES`, the runs of each named query: 3 when unset. */
  private[graft] def passesFrom(v: Option[String]): Int = v.fold(3) { s =>
    val n = s.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"PROBE_PASSES must be a whole number, got '$s'"))
    if (n < 1) throw new IllegalArgumentException(s"PROBE_PASSES must be at least 1, got $n")
    n
  }
}
