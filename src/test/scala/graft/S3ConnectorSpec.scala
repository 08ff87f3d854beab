package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.model.Cdc
import graft.pipeline.{ConnectorConfig, Runner, S3Config}

/** builtin:s3 — config mapping to fs.s3a.* + the object-per-record
  * read path. No S3 endpoint exists in this sandbox (and no
  * hadoop-aws jar), so the credentials mapping is asserted directly
  * and the read/write path runs on the same Hadoop FS machinery via
  * the `scheme` override — identical code path, local filesystem.
  */
class S3ConnectorSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  test("aws.* settings map to fs.s3a.* configuration and an s3a path") {
    val path = S3Config.configure(spark, Map(
      "aws.bucket" -> "my-bucket", "prefix" -> "in/",
      "aws.accessKeyId" -> "AKID", "aws.secretAccessKey" -> "SK",
      "aws.region" -> "eu-west-1", "aws.url" -> "http://localhost:9000"))
    assert(path == "s3a://my-bucket/in/")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.s3a.access.key") == "AKID")
    assert(conf.get("fs.s3a.secret.key") == "SK")
    assert(conf.get("fs.s3a.endpoint.region") == "eu-west-1")
    assert(conf.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(conf.get("fs.s3a.path.style.access") == "true")
  }

  test("s3 source: one record per object, key = object name") {
    val bucket = new java.io.File(Fences.tempDir("s3bucket"))
    Files.writeString(new java.io.File(bucket, "a.json").toPath, """{"x":1}""")
    Files.writeString(new java.io.File(bucket, "b.json").toPath, """{"x":2}
with a second line""")
    val src = Runner.source(spark, ConnectorConfig("s3in", "builtin:s3", Map(
      "aws.bucket" -> bucket.getAbsolutePath, "scheme" -> "file")),
      streaming = false)
    val rows = src.collect()
    assert(rows.length == 2, "one record per OBJECT, not per line")
    val byKey = rows.map(r => r.getAs[String](Cdc.Key).split("/").last ->
      r.getAs[String](Cdc.PayloadAfter)).toMap
    assert(byKey("a.json") == """{"x":1}""")
    assert(byKey("b.json").contains("second line"))
  }

  test("s3 destination: batch writes JSON objects under the prefix") {
    val bucket = new java.io.File(Fences.tempDir("s3out"))
    val recs = Runner.source(spark, ConnectorConfig("g", "builtin:generator",
      Map("format.options.id" -> "int", "recordCount" -> "5")), streaming = false)
    Runner.writeBatch(recs, ConnectorConfig("s3out", "builtin:s3", Map(
      "aws.bucket" -> bucket.getAbsolutePath, "scheme" -> "file")))
    val written = spark.read.text(bucket.getAbsolutePath).count()
    assert(written == 5)
  }
}
