package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdc
import graft.ops.Registry

/** `custom.javascript` — the reference's process(record) contract run
  * in a per-partition Node subprocess: modify, filter (null), error
  * (throw → _error on the original record), the helper surface, and
  * the script/script.path config rules.
  */
class JsProcessorSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def docs(n: Int) = Cdc.wrap(
    (0L until n.toLong).map(i => (i, s"text $i", i * 10))
      .toDF("id", "text", "score"), "id", "docs")

  test("process(record) modifies structured payload and metadata") {
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  r.Payload.After.shout = String(r.Payload.After.text).toUpperCase();
        |  r.Metadata["js.seen"] = "yes";
        |  return r;
        |}""".stripMargin))
    val out = proc.transform(docs(5)).cache()
    assert(out.count() == 5)
    val row = out.filter(
      get_json_object(col(Cdc.PayloadAfter), "$.id") === "3").head()
    assert(get_json_object(lit(row.getAs[String](Cdc.PayloadAfter)),
      "$.shout") != null)
    val payload = graft.functions.JsonOps.parse(
      row.getAs[String](Cdc.PayloadAfter))
    assert(payload.get("shout").asText() == "TEXT 3")
    assert(payload.get("score").asLong() == 30L)
    val meta = row.getMap[String, String](
      out.schema.fieldIndex(Cdc.Metadata))
    assert(meta("js.seen") == "yes")
    assert(meta("opencdc.collection") == "docs", "existing metadata survives")
  }

  test("returning null filters the record; throwing errors it to the DLQ") {
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  var id = r.Payload.After.id;
        |  if (id % 3 == 0) return null;
        |  if (id % 3 == 1) throw new Error("odd one out " + id);
        |  return r;
        |}""".stripMargin))
    val out = proc.transform(docs(9)).cache()
    // ids 0..8: 0,3,6 filtered; 1,4,7 errored; 2,5,8 pass
    assert(out.count() == 6)
    val errs = out.filter(col(Cdc.Error).isNotNull)
      .select(get_json_object(col(Cdc.PayloadAfter), "$.id"), col(Cdc.Error))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(errs.keySet == Set("1", "4", "7"))
    assert(errs("4").contains("odd one out 4"))
    // errored records carry the ORIGINAL payload (what the script saw)
    assert(out.filter(col(Cdc.Error).isNull).count() == 3)
  }

  test("helpers: Record(), RawData(), StructuredData() build fresh records") {
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  var out = Record();
        |  out.Operation = r.Operation;
        |  out.Metadata["made"] = "fresh";
        |  out.Key = RawData("key-" + r.Payload.After.id);
        |  var sd = StructuredData();
        |  sd.doubled = r.Payload.After.score * 2;
        |  out.Payload.After = sd;
        |  return out;
        |}""".stripMargin))
    val out = proc.transform(docs(2)).cache()
    val row = out.filter(col(Cdc.Key) === "key-1").head()
    assert(new String(row.getAs[Array[Byte]](
      out.schema.fieldIndex(Cdc.KeyRaw)), "UTF-8") == "key-1")
    val payload = graft.functions.JsonOps.parse(
      row.getAs[String](Cdc.PayloadAfter))
    assert(payload.get("doubled").asLong() == 20L)
    assert(row.getMap[String, String](
      out.schema.fieldIndex(Cdc.Metadata)) == Map("made" -> "fresh"))
  }

  test("raw (non-JSON) payloads arrive as byte buffers, reference-style") {
    val recs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        null, "create", Map("k" -> "v"), null, null, null, "world")),
      Cdc.schema)
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  var s = String.fromCharCode.apply(String, r.Payload.After);
        |  r.Payload.After = RawData("hello, " + s);
        |  return r;
        |}""".stripMargin))
    val out = proc.transform(recs).head()
    assert(out.getAs[String](Cdc.PayloadAfter) == "hello, world")
  }

  test("script config rules and the missing-node-function failure") {
    intercept[IllegalArgumentException] {
      Registry.create("custom.javascript", Map.empty)
    }
    intercept[IllegalArgumentException] {
      Registry.create("custom.javascript",
        Map("script" -> "function process(r){return r;}",
          "script.path" -> "/tmp/x.js"))
    }
    val f = SpecSupport.tempFile("jsproc", ".js")
    java.nio.file.Files.writeString(f,
      "function process(r) { r.Metadata['from'] = 'file'; return r; }")
    val out = Registry.create("custom.javascript",
      Map("script.path" -> f.toString)).transform(docs(1)).head()
    assert(out.getMap[String, String](
      Cdc.columns.indexOf(Cdc.Metadata))("from") == "file")
    // a script without process() kills the child → pipe-closed error
    val bad = Registry.create("custom.javascript",
      Map("script" -> "var x = 1;"))
    val e = intercept[Exception] { bad.transform(docs(1)).count() }
    assert(e.getMessage != null)
  }

  test("record-local by construction: runs inside a streaming pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  if (r.Payload.After.id % 2 == 0) return null;
        |  r.Metadata["seen"] = "s";
        |  return r;
        |}""".stripMargin))
    val in = MemoryStream[(Long, String)]
    val stream = Cdc.wrap(in.toDF().toDF("id", "text"), "id", "docs")
    val q = proc.transform(stream).writeStream
      .format("memory").queryName("js_stream_out")
      .outputMode("append").start()
    try {
      in.addData(Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))
      q.processAllAvailable()
      val got = spark.table("js_stream_out")
        .select(get_json_object(col(Cdc.PayloadAfter), "$.id"),
          col(Cdc.Metadata).getItem("seen"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map("1" -> "s", "3" -> "s"))
    } finally q.stop()
  }

  test("conditional application bypasses non-matching records untouched") {
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) { r.Metadata["hit"] = "1"; return r; }"""))
    val out = proc(docs(4),
      condition = Some("""{{ eq .Payload.After.id 2 }}""")).cache()
    val metas = out.select(
      get_json_object(col(Cdc.PayloadAfter), "$.id").as("id"),
      col(Cdc.Metadata).getItem("hit").as("hit"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metas("2") == "1")
    assert(metas("0") == null && metas("1") == null && metas("3") == null)
  }

  test("binary contract: non-UTF8 RawData payload is lossy (documented), " +
    "key stays exact via key_raw") {
    // 0xFF 0xFE is not valid UTF-8; 'ok' is. The documented contract:
    // payload slots are StringType, so invalid sequences become U+FFFD;
    // key returns keep the exact bytes in the binary key_raw sibling.
    val proc = Registry.create("custom.javascript", Map("script" ->
      """function process(r) {
        |  var bin = Buffer.from([0xff, 0xfe, 0x6f, 0x6b]);
        |  r.Payload.After = bin;
        |  r.Key = bin;
        |  return r;
        |}""".stripMargin))
    val out = proc.transform(docs(1)).cache()
    val row = out.head()
    val payload = row.getAs[String](out.schema.fieldIndex(Cdc.PayloadAfter))
    assert(payload == "��ok",
      "invalid UTF-8 payload bytes become replacement chars (documented)")
    val keyRaw = row.getAs[Array[Byte]](out.schema.fieldIndex(Cdc.KeyRaw))
    assert(keyRaw.toSeq == Seq(0xff.toByte, 0xfe.toByte, 'o'.toByte,
      'k'.toByte), "key bytes round-trip exactly through key_raw")
  }
}
