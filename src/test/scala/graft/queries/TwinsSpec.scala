package graft.queries

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences

/** The feed contract of the streaming-twin harness ([[Twins.twoBatch]]). */
class TwinsSpec extends AnyFunSuite {
  lazy val spark = graft.Spark.session
  import spark.implicits._

  /** ids in a deliberately unsorted order; `first` is true for even
    * ids, false for odd ones and NULL for ids above 100. */
  private def input: DataFrame =
    Seq(8L, 3L, 101L, 6L, 1L, 4L, 103L, 9L, 2L, 7L).toDF("id")
      .withColumn("first", when(col("id") > 100, lit(null).cast("boolean"))
        .otherwise(col("id") % 2 === 0))

  /** (batch id, partition count, rows in arrival order) per batch. */
  private def feed(df: DataFrame): Seq[(Long, Int, Seq[Long])] = {
    val seen = ArrayBuffer.empty[(Long, Int, Seq[Long])]
    Twins.twoBatch(spark, df, col("first"))(Twins.sink { (b, id) =>
      seen.synchronized {
        seen += ((id, b.rdd.getNumPartitions, b.collect().map(_.getLong(0)).toSeq))
      }
    })
    seen.toSeq
  }

  test("twoBatch feeds true rows as batch 0 and false or NULL rows as batch 1") {
    val batches = feed(input)
    assert(batches.map(_._1) == Seq(0L, 1L))
    assert(batches(0)._3 == Seq(8L, 6L, 4L, 2L))
    assert(batches(1)._3 == Seq(3L, 101L, 1L, 103L, 9L, 7L))
  }

  test("twoBatch delivers each batch as one partition in input order") {
    // a 4-partition input still arrives as one block per batch, in
    // collect order
    val batches = feed(input.repartition(4, col("id")).sortWithinPartitions("id"))
    val collected = input.repartition(4, col("id")).sortWithinPartitions("id")
      .collect().map(r => (r.getLong(0), r.get(1)))
    assert(batches.map(_._2) == Seq(1, 1))
    assert(batches(0)._3 == collected.collect { case (id, true) => id }.toSeq)
    assert(batches(1)._3 == collected.collect { case (id, f) if f != true => id }.toSeq)
  }

  test("twoBatch keeps the input's column names and types") {
    val seen = ArrayBuffer.empty[String]
    Twins.twoBatch(spark, input, col("first"))(Twins.sink { (b, _) =>
      seen.synchronized {
        seen += b.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      }
    })
    assert(seen.toSeq == Seq("id:bigint,first:boolean", "id:bigint,first:boolean"))
  }

  test("twoBatch leaves the session's settings as it found them") {
    val shuffle = "spark.sql.shuffle.partitions"
    val isolation = "spark.sql.artifact.isolation.enabled"
    val prevShuffle = spark.conf.get(shuffle)
    val prevIsolation = spark.conf.getAll.get(isolation)
    spark.conf.set(shuffle, "7")
    try {
      val inside = ArrayBuffer.empty[String]
      Twins.twoBatch(spark, input, col("first"))(Twins.sink { (_, _) =>
        inside.synchronized { inside += spark.conf.get(shuffle) }
      })
      assert(inside.toSeq == Seq("4", "4"))
      assert(spark.conf.get(shuffle) == "7")
      assert(spark.conf.getAll.get(isolation) == prevIsolation)
      spark.conf.set(isolation, "true")
      Twins.twoBatch(spark, input, col("first"))(Twins.sink((_, _) => ()))
      assert(spark.conf.get(isolation) == "true")
    } finally {
      spark.conf.set(shuffle, prevShuffle)
      prevIsolation.fold(spark.conf.unset(isolation))(spark.conf.set(isolation, _))
    }
  }

  test("a failing sink reaches the caller and leaves no query running") {
    val e = intercept[StreamingQueryException] {
      Twins.twoBatch(spark, input, col("first"))(Twins.sink { (_, id) =>
        if (id == 1) throw new IllegalStateException("sink failed on batch 1")
      })
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage == "sink failed on batch 1"))
    assert(spark.streams.active.isEmpty)
  }

  test("rowLocal equals the function applied to the whole input") {
    val got = Twins.rowLocal(spark, input, col("first"))(
      _.select((col("id") * 10).as("x")))
    assert(got.as[Long].collect().sorted.toSeq ==
      input.select((col("id") * 10).as("x")).as[Long].collect().sorted.toSeq)
  }

  test("tempDir directories and their contents are deleted when the JVM exits") {
    val (status, out) = graft.SpecSupport.childJvm("graft.queries.TwinsTempDirProbe")
    assert(status == 0, out)
    val dirs = out.linesIterator.filter(_.startsWith("DIR ")).map(_.drop(4)).toSeq
    assert(dirs.size == 3, out)
    dirs.foreach(d => assert(!new java.io.File(d).exists, s"$d survived exit"))
  }
}

/** Makes two twin scratch directories and one operator spill
  * directory (the [[graft.analytics.Fences.spill]] of a local session
  * without a checkpoint dir), each with nested files, prints their
  * paths and exits; [[TwinsSpec]] checks that they are gone. */
object TwinsTempDirProbe {
  def main(args: Array[String]): Unit = {
        val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("probe").config("spark.ui.enabled", "false")
      .getOrCreate()
    val dirs = try {
      val spilled = Fences.spill(spark.range(3).toDF(), "probe", "probe_spill", Nil)
      val spillDir = new java.io.File(new java.net.URI(spilled.inputFiles.head))
        .getParentFile.getParentFile.toString
      Seq(Fences.tempDir("probe_a"), Fences.tempDir("probe_b"), spillDir)
    } finally spark.stop()
    dirs.foreach { d =>
      val nested = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d, "b0", "part"))
      java.nio.file.Files.writeString(nested.resolve("x.parquet"), "x")
      println(s"DIR $d")
    }
  }
}
