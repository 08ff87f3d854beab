package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.nio.ByteBuffer

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.sources.WalTransport

/** [[WalTransport.Jdbc]] itself — the SQL/LSN plumbing that talks to a
  * postgres server — driven end-to-end against a STUB `java.sql.Driver`
  * that serves the three pg functions the transport uses
  * (`pg_current_wal_lsn`, `pg_logical_slot_peek_binary_changes`,
  * `pg_replication_slot_advance`) plus the `pg_replication_slots`
  * confirmed-LSN lookup. This closes the last testable gap short of a
  * live socket: parameter wiring, LSN arithmetic, peek-replay
  * windowing, advance fencing, connection lifecycle (every opened
  * connection closed, success AND failure paths), and the full DSv2
  * stream path with the real Jdbc transport — including fresh-start
  * offset seeding from the slot's confirmed position.
  */
class PgWalJdbcTransportSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  // --- stub server state, keyed by the jdbc:graftstub:<key> suffix ---
  private class StubState {
    @volatile var current = 0L
    @volatile var confirmed = 0L
    @volatile var msgs = Vector.empty[(Long, Array[Byte])]
    @volatile var opened = 0
    @volatile var closed = 0
    @volatile var advances = Vector.empty[Long]
    @volatile var pulls = Vector.empty[(String, Long, String)]
    @volatile var failPulls = false
  }

  private def proxy[T](cls: Class[T])(f: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          f.applyOrElse((m.getName, a), (_: (String, Array[AnyRef])) => null)
        }
      }).asInstanceOf[T]

  private def resultSet(rows: Seq[Seq[Any]]): java.sql.ResultSet = {
    var i = -1
    proxy(classOf[java.sql.ResultSet]) {
      case ("next", _) =>
        i += 1; java.lang.Boolean.valueOf(i < rows.length)
      case ("getLong", a) =>
        java.lang.Long.valueOf(rows(i)(a(0).asInstanceOf[Integer] - 1).asInstanceOf[Long])
      case ("getBytes", a) =>
        rows(i)(a(0).asInstanceOf[Integer] - 1).asInstanceOf[Array[Byte]]
    }
  }

  private def isRel(m: (Long, Array[Byte])) = m._2.headOption.contains('R'.toByte)

  private def connection(st: StubState): java.sql.Connection = {
    def runQuery(sql: String, params: Map[Int, Any]): java.sql.ResultSet =
      if (sql.contains("pg_current_wal_lsn")) resultSet(Seq(Seq(st.current)))
      else if (sql.contains("pg_logical_slot_peek_binary_changes")) {
        if (st.failPulls) throw new java.sql.SQLException("synthetic pull failure")
        val slot = params(1).asInstanceOf[String]
        val to = params(2).asInstanceOf[Long]
        st.pulls = st.pulls :+ ((slot, to, params(3).asInstanceOf[String]))
        // peek semantics: replay everything past the CONFIRMED fence,
        // relation messages re-served first (self-describing session)
        val rel = st.msgs.filter(isRel)
        val past = st.msgs.filter(m => !isRel(m) && m._1 > st.confirmed && m._1 <= to)
        resultSet((rel ++ past).sortBy(_._1).map { case (l, b) => Seq(l, b) })
      }
      else if (sql.contains("confirmed_flush_lsn")) resultSet(Seq(Seq(st.confirmed)))
      else if (sql.contains("pg_replication_slot_advance")) {
        val lsn = params(2).asInstanceOf[Long]
        st.confirmed = lsn; st.advances = st.advances :+ lsn
        resultSet(Seq(Seq(0L)))
      }
      else throw new java.sql.SQLException(s"stub: unexpected SQL: $sql")

    proxy(classOf[java.sql.Connection]) {
      case ("createStatement", _) =>
        proxy(classOf[java.sql.Statement]) {
          case ("executeQuery", a) => runQuery(a(0).asInstanceOf[String], Map.empty)
        }
      case ("prepareStatement", a) =>
        val sql = a(0).asInstanceOf[String]
        val params = scala.collection.mutable.Map.empty[Int, Any]
        proxy(classOf[java.sql.PreparedStatement]) {
          case ("setString", pa) =>
            params(pa(0).asInstanceOf[Integer].intValue) = pa(1); null
          case ("setLong", pa) =>
            params(pa(0).asInstanceOf[Integer].intValue) =
              pa(1).asInstanceOf[java.lang.Long].longValue; null
          case ("executeQuery", _) => runQuery(sql, params.toMap)
          case ("execute", _) =>
            runQuery(sql, params.toMap); java.lang.Boolean.TRUE
        }
      case ("close", _) => st.closed += 1; null
      case ("isClosed", _) => java.lang.Boolean.FALSE
    }
  }

  private object StubDriver extends java.sql.Driver {
    val states = new java.util.concurrent.ConcurrentHashMap[String, StubState]()
    override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:graftstub:")
    override def connect(url: String, info: java.util.Properties): java.sql.Connection = {
      if (!acceptsURL(url)) return null
      val st = states.get(url.stripPrefix("jdbc:graftstub:"))
      require(st != null, s"no stub state for $url")
      st.opened += 1
      connection(st)
    }
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def getPropertyInfo(u: String, p: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }
  java.sql.DriverManager.registerDriver(StubDriver)

  // --- pgoutput message builders (the PgWalSourceSpec golden shapes) ---
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
  private def insertMsg(oid: Int, vals: String*) = {
    val b = buf().put('I'.toByte).putInt(oid).put('N'.toByte)
    b.putShort(vals.size.toShort)
    vals.foreach { v =>
      val bs = v.getBytes("UTF-8")
      b.put('t'.toByte).putInt(bs.length).put(bs)
    }
    fin(b)
  }

  test("Jdbc transport wires slot/publication/LSN parameters through the three pg functions") {
    val st = new StubState
    StubDriver.states.put("t1", st)
    st.current = 500L
    st.msgs = Vector(
      90L -> relationMsg(1),
      91L -> beginMsg(100L, 7),
      92L -> insertMsg(1, "1", "alice"),
      100L -> commitMsg(100L))
    val tr = WalTransport.Jdbc("jdbc:graftstub:t1", "slotA", "pubA")
    assert(tr.currentLsn() == 500L)
    assert(tr.startLsn() == 0L, "fresh slot: confirmed LSN 0")
    val pulled = tr.pull(100L).toVector
    assert(st.pulls == Vector(("slotA", 100L, "pubA")),
      s"peek must receive (slot, upto_lsn, publication): ${st.pulls}")
    assert(pulled.map(_._1) == Vector(90L, 91L, 92L, 100L))
    assert(pulled.last._2.headOption.contains('C'.toByte))
    tr.advance(100L)
    assert(st.advances == Vector(100L))
    assert(tr.startLsn() == 100L, "startLsn tracks the advanced fence")
    // advanced fence: replay now excludes the consumed transaction
    assert(tr.pull(100L).toVector.map(_._1) == Vector(90L),
      "post-advance peek replays only the relation message")
    assert(st.opened == st.closed,
      s"every JDBC connection closed: opened=${st.opened} closed=${st.closed}")
  }

  test("pull closes its connection on the failure path too") {
    val st = new StubState
    StubDriver.states.put("t2", st)
    st.failPulls = true
    val tr = WalTransport.Jdbc("jdbc:graftstub:t2", "s", "p")
    intercept[java.sql.SQLException] { tr.pull(10L) }
    assert(st.opened == 1 && st.closed == 1,
      s"connection must close when peek throws: opened=${st.opened} closed=${st.closed}")
  }

  test("DSv2 stream over the real Jdbc transport seeds a fresh checkpoint from the confirmed LSN") {
    val st = new StubState
    StubDriver.states.put("t3", st)
    // tx1 (alice) was consumed by a previous incarnation: confirmed=100.
    // A fresh checkpoint must start at the fence — only tx2 (bob) emits.
    st.msgs = Vector(
      90L -> relationMsg(1),
      91L -> beginMsg(100L, 7),
      92L -> insertMsg(1, "1", "alice"),
      100L -> commitMsg(100L),
      191L -> beginMsg(200L, 8),
      192L -> insertMsg(1, "2", "bob"),
      200L -> commitMsg(200L))
    st.confirmed = 100L
    st.current = 200L
    val stream = spark.readStream.format("conduit-pgoutput")
      .option("url", "jdbc:graftstub:t3")
      .option("slot", "s").option("publication", "p").load()
    val ckpt = Fences.tempDir("pgwal-jdbc-ckpt")
    val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val q = stream.writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.collect() }; ()
      }.start()
    q.awaitTermination(120000)
    val got = rows.synchronized(rows.toArray)
    assert(got.length == 1,
      s"initialOffset seeded at confirmed=100 → tx1 never re-decoded: ${got.mkString(";")}")
    assert(got.head.getAs[String]("payload_after") == """{"id":2,"name":"bob"}""")
    // source commit() fires only when a LATER batch is constructed, so
    // a single AvailableNow run terminates before advancing the slot —
    // feed tx3 and restart from the same checkpoint: the new batch
    // must emit ONLY carol (bob's offset is checkpointed) and its
    // construction drives the commit → advance of the previous batch
    st.msgs = st.msgs ++ Vector(
      291L -> beginMsg(300L, 9),
      292L -> insertMsg(1, "3", "carol"),
      300L -> commitMsg(300L))
    st.current = 300L
    val rows2 = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val q2 = stream.writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows2.synchronized { rows2 ++= df.collect() }; ()
      }.start()
    q2.awaitTermination(120000)
    val got2 = rows2.synchronized(rows2.toArray)
    assert(got2.length == 1 &&
      got2.head.getAs[String]("payload_after") == """{"id":3,"name":"carol"}""",
      s"restart must emit only tx3: ${got2.mkString(";")}")
    assert(st.advances.nonEmpty && st.advances.forall(l => l == 200L || l == 300L),
      s"checkpoint commits advance the slot through the Jdbc transport: ${st.advances}")
    assert(st.opened == st.closed,
      s"stream run leaks no connections: opened=${st.opened} closed=${st.closed}")
  }
}
