package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.model.Cdc

/** LIVE postgres CDC end-to-end: initdb a scratch PostgreSQL 15
  * cluster (wal_level=logical, unix socket only), create a table +
  * publication + pgoutput replication slot, and stream REAL
  * server-produced pgoutput frames through `conduit-pgoutput` over
  * the [[graft.sources.WalTransport.PsqlCli]] transport — snapshot
  * DML, before-images via REPLICA IDENTITY FULL, LSN-offset resume
  * from the checkpoint, and slot advance on commit. This closes the
  * loop the scripted-transport specs left open: the frames here are
  * produced by postgres itself, not by a fixture.
  *
  * Skips (assume) when the postgres binaries are absent.
  */
class PgLiveSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private val pgBin = "/usr/local/bin"
  private def haveBins: Boolean =
    Seq("initdb", "pg_ctl").forall(b => new File(pgBin, b).exists()) &&
      new File("/usr/bin/psql").exists() &&
      scala.sys.process.Process(Seq("id", "-u", "postgres")).!(
        scala.sys.process.ProcessLogger(_ => ())) == 0

  private def sh(cmd: Seq[String]): String = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")}\n$out")
    out
  }
  private def asPg(cmd: String*): String =
    sh(Seq("runuser", "-u", "postgres", "--") ++ cmd)

  test("LIVE postgres 15: pgoutput CDC end-to-end over the psql transport") {
    assume(haveBins, "postgres binaries not present in this environment")
    val root = new java.io.File(Fences.tempDir("pg-live"))
    sh(Seq("chown", "postgres", root.getAbsolutePath))
    val data = s"$root/data"
    val sock = s"$root/sock"
    new File(sock).mkdirs()
    sh(Seq("chown", "postgres", sock))
    asPg(s"$pgBin/initdb", "-D", data, "-U", "graft", "--auth=trust", "-E", "UTF8")
    Files.writeString(java.nio.file.Paths.get(s"$data/postgresql.conf"),
      s"""
         |wal_level = logical
         |listen_addresses = ''
         |unix_socket_directories = '$sock'
         |max_wal_senders = 4
         |max_replication_slots = 4
         |""".stripMargin,
      java.nio.file.StandardOpenOption.APPEND)
    asPg(s"$pgBin/pg_ctl", "-D", data, "-l", s"$root/pg.log", "-w", "start")
    try {
      def psql(sql: String): String =
        sh(Seq("psql", "-X", "-A", "-t", "-h", sock, "-U", "graft",
          "-d", "postgres", "-c", sql))
      psql("CREATE TABLE users(id int primary key, name text); " +
        "ALTER TABLE users REPLICA IDENTITY FULL; " +
        "CREATE PUBLICATION pub FOR TABLE users;")
      psql("SELECT pg_create_logical_replication_slot('slot1', 'pgoutput');")
      psql("INSERT INTO users VALUES (1, 'ada'), (2, 'grace'); " +
        "UPDATE users SET name = 'ada l' WHERE id = 1; " +
        "DELETE FROM users WHERE id = 2;")

      val ckpt = Fences.tempDir("pg-live-ckpt")
      val got = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, String, Option[String], Option[String])]()
      def drain(): Unit = {
        val q = spark.readStream.format("conduit-pgoutput")
          .option("psql.opts", s"-h $sock -U graft -d postgres")
          .option("slot", "slot1").option("publication", "pub")
          .load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select(col(Cdc.Operation), col(Cdc.Key),
                col(Cdc.PayloadBefore), col(Cdc.PayloadAfter))
              .collect().foreach(r => got.add((r.getString(0), r.getString(1),
                Option(r.getString(2)), Option(r.getString(3)))))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      val wave1 = got.toArray(Array.empty[(String, String, Option[String], Option[String])])
      assert(wave1.map(_._1).toSeq == Seq("create", "create", "update", "delete"),
        wave1.mkString("\n"))
      assert(wave1(0)._4.get.contains("\"ada\""))
      // REPLICA IDENTITY FULL: the update carries its real before image
      assert(wave1(2)._3.get.contains("\"ada\"") &&
        wave1(2)._4.get.contains("\"ada l\""), wave1(2).toString())
      assert(wave1(3)._3.get.contains("\"grace\""))

      // commit advanced the slot on the server
      val flushed = psql("SELECT confirmed_flush_lsn - '0/0' " +
        "FROM pg_replication_slots WHERE slot_name = 'slot1'").trim.toLong
      assert(flushed > 0L, "slot must advance after the checkpointed commit")

      // resume: new DML only — the LSN offset lives in the checkpoint
      got.clear()
      psql("INSERT INTO users VALUES (3, 'hopper');")
      drain()
      val wave2 = got.toArray(Array.empty[(String, String, Option[String], Option[String])])
      assert(wave2.map(_._1).toSeq == Seq("create"), wave2.mkString("\n"))
      assert(wave2(0)._4.get.contains("\"hopper\""))

      // the YAML surface reaches the same live stream: builtin:postgres
      // with slot/publication routes to conduit-pgoutput, and a fresh
      // checkpoint seeds from the slot's CONFIRMED position. Spark
      // calls the source's commit() for a batch when the NEXT trigger
      // starts, so after an AvailableNow run the confirm lags the last
      // batch — a fresh consumer replays that tail: at-least-once,
      // exactly the semantics the checkpoint (wave 2's empty redelivery
      // filter) absorbs for the SAME consumer
      psql("INSERT INTO users VALUES (4, 'lovelace');")
      val cfg = graft.pipeline.Pipeline.fromYaml(
        s"""version: 2.2
           |pipelines:
           |  - id: pg-live
           |    connectors:
           |      - id: src
           |        type: source
           |        plugin: builtin:postgres
           |        settings:
           |          psql.opts: -h $sock -U graft -d postgres
           |          slot: slot1
           |          publication: pub
           |      - id: pg-live-out
           |        type: destination
           |        plugin: memory
           |""".stripMargin).head
      val ck2 = Fences.tempDir("pg-live-ckpt2")
      val q2 = graft.pipeline.Runner.start(spark, cfg, ck2,
        Trigger.AvailableNow())
      q2.awaitTermination()
      val sunk = graft.pipeline.Runner.memorySink("pg-live-out")
      assert(sunk.nonEmpty && sunk.exists(_.contains("lovelace")),
        sunk.mkString("\n"))
      // everything delivered is real post-wave-1 DML (no stale replay
      // of the first batch: that commit HAS confirmed, wave 2 ran after)
      assert(sunk.forall(s => s.contains("\"create\"")
        && (s.contains("hopper") || s.contains("lovelace"))),
        sunk.mkString("\n"))
    } finally {
      asPg(s"$pgBin/pg_ctl", "-D", data, "-m", "immediate", "stop")
    }
  }
}
