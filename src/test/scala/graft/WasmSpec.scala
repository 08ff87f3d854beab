package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdc
import graft.ops.Registry

/** `custom.wasm` — a real WebAssembly module run over record payload
  * bytes through the per-partition Node host: transform, filter
  * (packed -1), trap → `_error` on the original record, memory
  * growth, config rules, and streaming composition.
  *
  * The module under test is HAND-ASSEMBLED (the sandbox ships no wasm
  * toolchain): exports `memory`, a bump `alloc`, and a `process` that
  * uppercases ASCII in place — returning -1 on empty input (filter)
  * and trapping (`unreachable`) when the payload starts with `!`.
  */
class WasmSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  // wat-equivalent:
  //   (memory (export "memory") 1)
  //   (global $next (mut i32) (i32.const 1024))
  //   (func (export "alloc") (param i32) (result i32) ...bump...)
  //   (func (export "process") (param i32 i32) (result i64)
  //     (if (i32.eqz len) (return (i64.const -1)))          ;; filter
  //     (if (i32.eq (load8 ptr) 33) (unreachable))          ;; trap on '!'
  //     loop: a..z -> A..Z in place
  //     (return (i64.or (i64.shl ptr 32) len)))
  private val ModuleB64 =
    "AGFzbQEAAAABDAJgAX8Bf2ACf38BfgMDAgABBQMBAAEGBwF/AUGACAsHHAMGbWVtb3J5" +
    "AgAFYWxsb2MAAAdwcm9jZXNzAAEKeAIRAQF/IwAhASMAIABqJAAgAQtkAQJ/IAFFBEBC" +
    "fw8LIAAtAABBIUYEQAALQQAhAgJAA0AgAiABTg0BIAAgAmotAAAhAyADQeEATiADQfoA" +
    "THEEQCAAIAJqIANBIGs6AAALIAJBAWohAgwACwsgAK1CIIYgAa2ECw=="

  private def docs(rows: Seq[(Long, String)]) =
    Cdc.wrap(rows.toDF("id", "text"), "id", "docs")

  test("wasm module transforms payload bytes in place") {
    val proc = Registry.create("custom.wasm",
      Map("wasm.base64" -> ModuleB64))
    val out = proc.transform(docs(Seq((1L, "hello wasm"), (2L, "MiXeD 42"))))
      .cache()
    assert(out.count() == 2)
    val payloads = out.select(col(Cdc.PayloadAfter)).collect()
      .map(_.getString(0)).toSet
    // the JSON envelope itself is uppercased byte-wise: keys too
    assert(payloads.exists(_.contains("HELLO WASM")), s"got $payloads")
    assert(payloads.exists(_.contains("MIXED 42")), s"got $payloads")
    out.unpersist()
  }

  test("packed -1 filters; a trap errors the ORIGINAL record to the DLQ") {
    // key slot carries the raw text (no JSON wrapping), so the guest
    // sees exactly the string: '' -> filter, leading '!' -> trap
    val proc = Registry.create("custom.wasm",
      Map("wasm.base64" -> ModuleB64, "field" -> ".Key"))
    val base = Seq((1L, "keep me"), (2L, ""), (3L, "!boom"))
      .toDF("id", "text")
    val framed = Cdc.wrap(base, "id", "docs")
      .withColumn(Cdc.Key, col(Cdc.PayloadAfter))
    val withText = framed.withColumn(Cdc.Key,
      get_json_object(col(Cdc.Key), "$.text"))
    val out = proc.transform(withText).cache()
    assert(out.count() == 2, "empty-key record filtered")
    val err = out.filter(col(Cdc.Error).isNotNull).head()
    assert(err.getAs[String](Cdc.Key) == "!boom",
      "errored record carries the ORIGINAL key bytes")
    assert(out.filter(col(Cdc.Error).isNull).head()
      .getAs[String](Cdc.Key) == "KEEP ME")
    out.unpersist()
  }

  test("payloads larger than the module's initial memory still process") {
    val big = "a" * 200000 // > the module's single 64 KiB page
    val proc = Registry.create("custom.wasm",
      Map("wasm.base64" -> ModuleB64))
    val out = proc.transform(docs(Seq((1L, big)))).cache()
    val payload = out.head().getAs[String](Cdc.PayloadAfter)
    assert(payload.contains("A" * 200000))
    out.unpersist()
  }

  test("wasm.path loads a module file; config rules enforced") {
    val f = SpecSupport.tempFile("graft-spec", ".wasm")
    java.nio.file.Files.write(f,
      java.util.Base64.getDecoder.decode(ModuleB64))
    val proc = Registry.create("custom.wasm",
      Map("wasm.path" -> f.toString))
    val out = proc.transform(docs(Seq((7L, "path load")))).cache()
    assert(out.head().getAs[String](Cdc.PayloadAfter).contains("PATH LOAD"))
    out.unpersist()
    java.nio.file.Files.deleteIfExists(f)

    intercept[IllegalArgumentException] {
      Registry.create("custom.wasm", Map.empty[String, String])
    }
    intercept[IllegalArgumentException] {
      Registry.create("custom.wasm",
        Map("wasm.base64" -> ModuleB64, "wasm.path" -> "/x.wasm"))
    }
    intercept[IllegalArgumentException] {
      Registry.create("custom.wasm",
        Map("wasm.base64" -> ModuleB64, "field" -> ".Payload.After.text"))
    }
  }

  test("an invalid module fails loudly, naming the processor") {
    val proc = Registry.create("custom.wasm", Map("wasm.base64" ->
      java.util.Base64.getEncoder.encodeToString(
        "not wasm".getBytes("UTF-8"))))
    val e = intercept[Exception] {
      proc.transform(docs(Seq((1L, "x")))).count()
    }
    assert(e.getMessage.contains("custom.wasm"))
  }

  test("record-local by construction: runs inside a streaming pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val proc = Registry.create("custom.wasm",
      Map("wasm.base64" -> ModuleB64))
    val in = MemoryStream[(Long, String)]
    val stream = Cdc.wrap(in.toDF().toDF("id", "text"), "id", "docs")
    val q = proc.transform(stream).writeStream
      .format("memory").queryName("wasm_stream_out")
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, "stream a"), (2L, "stream b")))
      q.processAllAvailable()
      val got = spark.table("wasm_stream_out")
        .select(col(Cdc.PayloadAfter)).collect().map(_.getString(0))
      assert(got.length == 2)
      assert(got.forall(_.contains("STREAM")))
    } finally q.stop()
  }
}
