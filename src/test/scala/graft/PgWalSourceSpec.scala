package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.sources.WalTransport

/** The pgoutput SOURCE path end to end: scripted [[WalTransport]]
  * (replication-slot peek semantics: replay-from-confirmed, message
  * LSNs, advance-on-commit) → `conduit-pgoutput` DSv2 micro-batch
  * stream → [[graft.sources.PgOutputParser.StreamDecoder]] → CDC rows.
  * After this, the only untested piece of the postgres log-based
  * connector is the socket itself (WalTransport.Jdbc — needs a
  * server).
  */
class PgWalSourceSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  // --- pgoutput message builders (per the published message formats,
  // same construction as PgOutputSpec's golden vectors) ---
  private def buf(n: Int = 1024) = ByteBuffer.allocate(n)
  private def fin(b: ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](b.position()); b.flip(); b.get(out); out
  }
  private def cstr(b: ByteBuffer, s: String): ByteBuffer = {
    b.put(s.getBytes("UTF-8")).put(0.toByte); b
  }
  private def beginMsg(finalLsn: Long, xid: Int) =
    fin(buf().put('B'.toByte).putLong(finalLsn).putLong(777000L).putInt(xid))
  private def commitMsg(lsn: Long) =
    fin(buf().put('C'.toByte).put(0.toByte).putLong(lsn).putLong(lsn + 8)
      .putLong(777000L))
  private def relationMsg(oid: Int): Array[Byte] = {
    val b = buf().put('R'.toByte).putInt(oid)
    cstr(b, "public"); cstr(b, "users")
    b.put('d'.toByte).putShort(2.toShort)
    b.put(1.toByte); cstr(b, "id"); b.putInt(20).putInt(-1)
    b.put(0.toByte); cstr(b, "name"); b.putInt(25).putInt(-1)
    fin(b)
  }
  private def tuple(b: ByteBuffer, vals: Seq[String]): ByteBuffer = {
    b.putShort(vals.size.toShort)
    vals.foreach { v =>
      val bs = v.getBytes("UTF-8")
      b.put('t'.toByte).putInt(bs.length).put(bs)
    }
    b
  }
  private def insertMsg(oid: Int, vals: String*) =
    fin(tuple(buf().put('I'.toByte).putInt(oid).put('N'.toByte), vals))
  private def deleteMsg(oid: Int, key: String) = {
    val b = buf().put('D'.toByte).putInt(oid).put('K'.toByte)
    fin(tuple(b, Seq(key)))
  }

  /** Scripted slot: messages accumulate; pull replays everything past
    * the CONFIRMED position (peek semantics), always re-serving the
    * Relation messages first — each pull is a self-describing decoding
    * session, as the WalTransport contract requires. advance moves the
    * confirmed fence.
    */
  private class ScriptedSlot extends WalTransport {
    @volatile private var msgs = Vector.empty[(Long, Array[Byte])]
    @volatile private var confirmed = 0L
    @volatile var advanced = Vector.empty[Long]
    def feed(entries: (Long, Array[Byte])*): Unit = synchronized {
      msgs = msgs ++ entries
    }
    private def isRel(m: (Long, Array[Byte])) = m._2.headOption.contains('R'.toByte)
    override def currentLsn(): Long = if (msgs.isEmpty) 0L else msgs.map(_._1).max
    override def pull(to: Long): Iterator[(Long, Array[Byte])] = {
      val rel = msgs.filter(isRel)
      val past = msgs.filter(m => !isRel(m) && m._1 > confirmed && m._1 <= to)
      (rel ++ past).sortBy(_._1).iterator
    }
    override def advance(upTo: Long): Unit = synchronized {
      confirmed = upTo; advanced = advanced :+ upTo
    }
  }

  test("conduit-pgoutput streams decoded transactions as CDC micro-batches") {
    val slot = new ScriptedSlot
    WalTransport.register("test-wal", slot)
    try {
      // tx1 @ commit LSN 100: relation + one insert
      slot.feed(
        90L -> relationMsg(1),
        91L -> beginMsg(100L, 7),
        92L -> insertMsg(1, "1", "alice"),
        100L -> commitMsg(100L))
      val stream = spark.readStream.format("conduit-pgoutput")
        .option("transport", "test-wal").load()
      val ckpt = Fences.tempDir("pgwal-ckpt")
      // foreachBatch sink: supports checkpoint recovery (memory doesn't)
      val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
      val q = stream.writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.synchronized { rows ++= df.collect() }; ()
        }.start()
      q.processAllAvailable()
      val batch1 = rows.synchronized(rows.toArray)
      assert(batch1.length == 1, s"expected tx1's single insert, got ${batch1.length}")
      val r = batch1.head
      assert(r.getAs[String]("operation") == "create")
      assert(r.getAs[String]("key") == """{"id":1}""")
      assert(r.getAs[String]("payload_after") == """{"id":1,"name":"alice"}""")
      val meta = r.getAs[Map[String, String]]("metadata")
      assert(meta("opencdc.collection") == "public.users")
      assert(meta("postgres.lsn") == "100")

      // tx2 @ commit LSN 200: insert + delete. The scripted peek
      // REPLAYS any unconfirmed earlier messages — the reader's LSN
      // window must absorb at-least-once duplicates.
      slot.feed(
        191L -> beginMsg(200L, 8),
        192L -> insertMsg(1, "2", "bob"),
        193L -> deleteMsg(1, "1"),
        200L -> commitMsg(200L))
      q.processAllAvailable()
      val batch2 = rows.synchronized(rows.toArray)
      assert(batch2.length == 3,
        s"tx1 must not re-emit in tx2's batch: ${batch2.mkString(";")}")
      assert(batch2.map(_.getAs[String]("operation")).sorted.toSeq ==
        Seq("create", "create", "delete"))
      val del = batch2.find(_.getAs[String]("operation") == "delete").get
      assert(del.getAs[String]("payload_before") == """{"id":1}""")
      assert(del.getAs[String]("payload_after") == null)
      q.stop()

      // restart from the checkpoint: only tx3 lands in the fresh sink
      slot.feed(
        291L -> beginMsg(300L, 9),
        292L -> insertMsg(1, "3", "carol"),
        300L -> commitMsg(300L))
      val rows2 = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
      val q2 = stream.writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows2.synchronized { rows2 ++= df.collect() }; ()
        }.start()
      q2.awaitTermination(120000)
      val batch3 = rows2.synchronized(rows2.toArray)
      assert(batch3.length == 1, s"checkpoint resume must skip tx1/tx2: ${batch3.mkString(";")}")
      assert(batch3.head.getAs[String]("payload_after") == """{"id":3,"name":"carol"}""")
      // commit() advanced the slot as batches completed
      assert(slot.advanced.nonEmpty, "advance must be driven by checkpoint commits")
    } finally WalTransport.unregister("test-wal")
  }
}
