package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.collection.mutable

import graft.server.MySqlServer
import graft.sql.{Dialect, GraftSession, Render}

/** Minimal MySQL client: HandshakeResponse41, COM_QUERY and the text
  * resultset, written against the public protocol. Each query reports when
  * its first response packet arrived and how many bytes came back. */
final class MySqlClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = new BufferedOutputStream(sock.getOutputStream)
  private var received = 0L

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException(); off += r
    }
    received += n
    b
  }

  private def readPacket(): Array[Byte] = {
    val h = readN(4)
    val len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
    val p = readN(len)
    if (len < 0xffffff) p else p ++ readPacket()
  }

  private def writePacket(seq: Int, p: Array[Byte]): Unit = {
    out.write(p.length & 0xff); out.write((p.length >> 8) & 0xff)
    out.write((p.length >> 16) & 0xff); out.write(seq)
    out.write(p); out.flush()
  }

  private def lenenc(p: Array[Byte], pos: Array[Int]): Long = {
    def le(n: Int): Long = {
      var v = 0L
      (0 until n).foreach(i => v |= (p(pos(0) + i) & 0xffL) << (8 * i))
      pos(0) += n; v
    }
    val first = p(pos(0)) & 0xff; pos(0) += 1
    first match {
      case 0xfc => le(2)
      case 0xfd => le(3)
      case 0xfe => le(8)
      case n => n.toLong
    }
  }

  private def lenencStr(p: Array[Byte], pos: Array[Int]): String = {
    val n = lenenc(p, pos).toInt
    val s = new String(p, pos(0), n, UTF_8); pos(0) += n; s
  }

  locally {
    readPacket() // server greeting
    val r = new java.io.ByteArrayOutputStream()
    def i4(x: Long): Unit = (0 until 4).foreach(i => r.write(((x >> (8 * i)) & 0xff).toInt))
    i4(0x0200L | 0x8000L) // CLIENT_PROTOCOL_41 | CLIENT_SECURE_CONNECTION
    i4(16777216L)
    r.write(33)
    r.write(new Array[Byte](23))
    r.write("bench".getBytes(UTF_8)); r.write(0)
    r.write(0) // empty auth response
    writePacket(1, r.toByteArray)
    require((readPacket()(0) & 0xff) == 0x00, "handshake refused")
  }

  final case class Reply(error: Option[String], cols: Seq[String], rows: Seq[Seq[String]],
      ttfbMs: Double, bytes: Long)

  def query(sql: String, t0: Double, now: () => Double): Reply = {
    received = 0L
    writePacket(0, Array(0x03.toByte) ++ sql.getBytes(UTF_8))
    val first = readPacket()
    val ttfb = now() - t0
    (first(0) & 0xff) match {
      case 0x00 => Reply(None, Nil, Nil, ttfb, received)
      case 0xff => Reply(Some(new String(first, 9, first.length - 9, UTF_8)), Nil, Nil, ttfb, received)
      case _ =>
        val n = lenenc(first, Array(0)).toInt
        val cols = (0 until n).map { _ =>
          val p = readPacket(); val pos = Array(0)
          (0 until 4).foreach(_ => lenencStr(p, pos)) // catalog, schema, table, org_table
          lenencStr(p, pos)
        }
        readPacket() // EOF after the column definitions
        val rows = mutable.ArrayBuffer[Seq[String]]()
        var err: Option[String] = None
        var done = false
        while (!done) {
          val p = readPacket()
          val head = p(0) & 0xff
          if (head == 0xfe && p.length < 9) done = true
          else if (head == 0xff) { err = Some(new String(p, 9, p.length - 9, UTF_8)); done = true }
          else {
            val pos = Array(0)
            rows += (0 until n).map { _ =>
              if ((p(pos(0)) & 0xff) == 0xfb) { pos(0) += 1; null } else lenencStr(p, pos)
            }
          }
        }
        Reply(err, cols, rows.toSeq, ttfb, received)
    }
  }

  def close(): Unit = {
    try writePacket(0, Array(0x01.toByte)) finally sock.close()
  }
}

/** One statement of the mix and what run.py checks its result against:
  * `rows` (closed form), `duckdb` (the same question in DuckDB's dialect),
  * `col0` (exact first column) or `col0_has` (first column contains). */
final case class Stmt(template: String, sql: String, kind: String, expect: Map[String, Any])

/** The seeded statement script of one connection writing to its own
  * Memory table `own`: about 80% reads and 20% INSERTs, each INSERT followed
  * by a read of the table's count and sum. */
final class Script(seed: Long, own: String, cores: Int) {
  private val rnd = new scala.util.Random(seed)
  private var nextKey = 0L
  private val acked = mutable.ArrayBuffer[(Long, Long)]()
  private var afterInsert = false
  private val credit = mutable.Map(Script.classes.map(_._1 -> 0): _*)
  private val decks = mutable.Map[String, mutable.Queue[String]]()

  def acknowledged: Seq[(Long, Long)] = acked.toSeq

  /** Records the server's answer to an INSERT from `next()`. */
  def ack(s: Stmt, ok: Boolean): Unit =
    if (ok && s.template == "insert")
      acked += ((s.expect("key").asInstanceOf[Long], s.expect("value").asInstanceOf[Long]))

  /** Statement classes take turns by smooth weighted round-robin, so every
    * stretch of the script holds each class in about its weighted share;
    * within a class the templates come from a seeded shuffle. Independent
    * draws let the share of heavy statements in a ten-second run, and so
    * its throughput, swing from seed to seed. */
  def next(): Stmt =
    if (afterInsert) { afterInsert = false; make("own_count") }
    else {
      Script.classes.foreach { case (c, w) => credit(c) += w }
      val c = Script.classes.map(_._1).maxBy(credit)
      credit(c) -= Script.classes.map(_._2).sum
      val deck = decks.getOrElseUpdate(c, mutable.Queue[String]())
      if (deck.isEmpty) deck ++= rnd.shuffle(Script.templates(c))
      val t = deck.dequeue()
      afterInsert = t == "insert"
      make(t)
    }

  private def date(): LocalDate = LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(2400).toLong)

  def make(template: String): Stmt = {
    // numbers_mt sizes from 1e5 to 1e6 rows keep each statement interactive
    lazy val n = math.pow(10, 5 + rnd.nextDouble()).toLong
    def num(sql: String, rows: Seq[Seq[Any]]) =
      Stmt(template, sql.replace("N)", s"$n)"), "read", Map("rows" -> rows))
    def duck(sql: String, oracle: String) =
      Stmt(template, sql, "read", Map("duckdb" -> oracle))
    template match {
      case "insert" =>
        val (k, v) = (nextKey, rnd.nextInt(1000).toLong)
        nextKey += 1
        Stmt(template, s"INSERT INTO $own VALUES ($k, $v)", "write", Map("key" -> k, "value" -> v))
      case "own_count" =>
        Stmt(template, s"SELECT count(*) AS n, sum(v) AS s FROM $own", "read",
          Map("rows" -> Seq(Seq(acked.size, acked.map(_._2).sum))))
      case "num_avg" => num("SELECT avg(number) FROM numbers_mt(N)", Seq(Seq((n - 1) / 2.0)))
      case "num_sum" => num("SELECT sum(number) FROM numbers_mt(N)", Seq(Seq(n * (n - 1) / 2)))
      case "num_min" => num("SELECT min(number) FROM numbers_mt(N)", Seq(Seq(0)))
      case "num_max" => num("SELECT max(number) FROM numbers_mt(N)", Seq(Seq(n - 1)))
      case "num_count" => num("SELECT count(number) FROM numbers_mt(N)", Seq(Seq(n)))
      case "num_sum3" => num("SELECT sum(number + number + number) FROM numbers_mt(N)",
        Seq(Seq(3 * (n * (n - 1) / 2))))
      case "num_sort_limit" =>
        num("SELECT number FROM numbers_mt(N) ORDER BY number DESC LIMIT 10",
          (1L to 10L).map(i => Seq(n - i)))
      case "num_group_by" =>
        num("SELECT number % 3 AS k, count(*) AS c, max(number) AS m FROM numbers_mt(N) " +
          "GROUP BY k ORDER BY k",
          (0L until 3L).map(k => Seq(k, (n - k + 2) / 3, n - 1 - ((n - 1 - k) % 3))))
      case "dash_flags" =>
        val q = "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
          s"max(l_extendedprice) AS mx FROM lineitem WHERE l_shipdate < DATE '${date()}' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        duck(q, q)
      case "dash_priority" =>
        val d = date()
        val q = "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx FROM orders " +
          s"WHERE o_orderdate >= DATE '$d' AND o_orderdate < DATE '${d.plusDays(90)}' " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        duck(q, q)
      case "dash_segment" =>
        val q = "SELECT c_mktsegment, count(*) AS n, max(o_totalprice) AS mx " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          s"WHERE c_nationkey = ${rnd.nextInt(25)} GROUP BY c_mktsegment ORDER BY c_mktsegment"
        duck(q, q)
      case "dash_topk" =>
        val q = "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
          s"WHERE l_partkey = ${rnd.nextInt(20000)} " +
          "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5"
        duck(q, q)
      case "limit_by" =>
        val c = 50 + rnd.nextInt(450)
        duck("SELECT o_orderpriority, o_orderkey FROM orders " +
          s"WHERE o_custkey < $c ORDER BY o_orderpriority, o_orderkey LIMIT 2 BY o_orderpriority",
          "SELECT o_orderpriority, o_orderkey FROM (SELECT o_orderpriority, o_orderkey, " +
            "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn " +
            s"FROM orders WHERE o_custkey < $c) WHERE rn <= 2 ORDER BY o_orderpriority, o_orderkey")
      case "show_tables" =>
        Stmt(template, "SHOW TABLES", "read", Map("col0_has" -> Wire.tables.map(_._1)))
      case "describe" =>
        Stmt(template, "DESCRIBE lineitem", "read",
          Map("col0" -> Wire.tables.toMap.apply("lineitem").split(", ").map(_.split(" ")(0)).toSeq))
      case "settings" =>
        Stmt(template, "SELECT name, value FROM system.settings WHERE name = 'max_threads'",
          "read", Map("rows" -> Seq(Seq("max_threads", cores))))
    }
  }
}

object Script {
  /** Statement classes and their weights: per 21 draws, 5 heavy reads over
    * the mounted tables, 8 `numbers_mt` reads, 3 catalog reads and 5
    * INSERTs, each followed by a count, so 5 of 26 statements write. */
  val classes: Seq[(String, Int)] = Seq("tables" -> 5, "numbers" -> 8, "catalog" -> 3, "insert" -> 5)
  val templates: Map[String, Seq[String]] = Map(
    "tables" -> Seq("dash_flags", "dash_priority", "dash_segment", "dash_topk", "limit_by"),
    "numbers" -> Seq("num_avg", "num_sum", "num_min", "num_max", "num_count", "num_sum3",
      "num_sort_limit", "num_group_by"),
    "catalog" -> Seq("show_tables", "describe", "settings"),
    "insert" -> Seq("insert"))
}

/** `wire_mixed`: statements from two MySQL connections to an in-process
  * [[MySqlServer]], each a closed loop with no think time. */
object Wire {
  val connections = 2
  /** Statements of connection 0's script replayed in-process when tracing. */
  val replayLength = 60
  /** Statements of the warm-up script on each connection. */
  val warmupStatements = 40

  val tables: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"))

  private def ownDdl(t: String) = s"CREATE TABLE $t (k BIGINT, v BIGINT) ENGINE = Memory"

  private def inThreads(n: Int)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  private def mustOk(c: MySqlClient, sql: String, now: () => Double): Unit =
    c.query(sql, now(), now).error.foreach(e => sys.error(s"$sql: $e"))

  def run(r: Run): Unit = {
    val cores = r.sc.defaultParallelism
    r.extra("connections") = connections
    val now = () => r.trace.nowMs
    r.log("session up")
    val port = new MySqlServer(r.spark, 0).start()
    val clients = (0 until connections).map(_ => new MySqlClient(port))
    tables.foreach { case (t, cols) =>
      mustOk(clients(0), s"CREATE TABLE $t ($cols) ENGINE = Parquet location = '${r.data}/$t.parquet'", now)
    }
    r.log("tables mounted")
    // warm-up, against tables of their own, so the timed scripts start from
    // empty tables: every template once, split over the connections, then
    // `warmupStatements` of a warm-up script on each connection. Statement
    // rates still climb for tens of seconds after the first pass over the
    // templates, while the JIT compiles the session and planner paths.
    val warmups = (Script.templates.values.flatten.toSeq :+ "own_count").zipWithIndex
    inThreads(connections) { c =>
      mustOk(clients(c), ownDdl(s"own_c$c"), now)
      mustOk(clients(c), ownDdl(s"warm_c$c"), now)
      val w = new Script(r.seed + 7919L * (c + 1), s"warm_c$c", cores)
      warmups.foreach { case (t, i) =>
        if (i % connections == c || t == "insert" || t == "own_count")
          mustOk(clients(c), w.make(t).sql, now)
      }
      (0 until warmupStatements).foreach { _ =>
        val s = w.next()
        mustOk(clients(c), s.sql, now)
        w.ack(s, true)
      }
    }
    r.log("warm-up done")
    val scripts = (0 until connections).map(c => new Script(r.seed * 31L + c, s"own_c$c", cores))
    r.startTimed()
    inThreads(connections) { c =>
      var i = 0
      while (!r.deadlineReached) {
        val s = scripts(c).next()
        val t0 = now()
        val reply = clients(c).query(s.sql, t0, now)
        val t1 = now()
        scripts(c).ack(s, reply.error.isEmpty)
        r.record(s"c$c/$i/${s.template}", s.template, s.kind, t0, t1, reply.error, Map(
          "phase" -> "timed", "sql" -> s.sql, "expect" -> s.expect, "rows" -> reply.rows,
          "ttfb_ms" -> reply.ttfbMs, "bytes" -> reply.bytes))
        i += 1
      }
    }
    r.endTimed()

    // every acknowledged INSERT must read back
    r.extra("read_back") = (0 until connections).map { c =>
      val reply = clients(c).query(s"SELECT k, v FROM own_c$c ORDER BY k", now(), now)
      Map("conn" -> c, "error" -> reply.error.orNull, "rows" -> reply.rows,
        "acked" -> scripts(c).acknowledged.map { case (k, v) => Seq(k, v) })
    }
    clients.foreach(_.close())
    if (r.trace.on) replay(r, cores)
  }

  /** Connection 0's script, in-process on one session with a span per
    * layer: the server's threads are opaque to the benchmark. */
  private def replay(r: Run, cores: Int): Unit = {
    val t = r.trace
    val session = GraftSession.forConnection(r.spark)
    session.sql(ownDdl("own_r"))
    val script = new Script(r.seed * 31L, "own_r", cores)
    (0 until replayLength).foreach { i =>
      val s = script.next()
      val id = s"r/$i/${s.template}"
      val rows = mutable.ArrayBuffer[Seq[String]]()
      val ok = r.op(id, s.template, s.kind,
        Map("phase" -> "replay", "sql" -> s.sql, "expect" -> s.expect, "rows" -> rows.toSeq)) { root =>
        t.around(id, "dialect.rewrite", root)(Dialect.rewrite(s.sql))
        val sessionSpan = t.open(id, "session.sql", root)
        val df = session.sql(s.sql)
        t.close(sessionSpan)
        val qe = df.queryExecution
        val plan = t.open(id, "catalyst.plan", root)
        qe.executedPlan
        t.close(plan)
        t.catalystPhases(id, qe, sessionSpan, plan)
        if (df.schema.nonEmpty) t.around(id, "exec.drain", root) {
          val it = df.toLocalIterator()
          while (it.hasNext) {
            val row = it.next()
            rows += (0 until row.length).map(j => if (row.isNullAt(j)) null else Render.value(row.get(j)))
          }
        }
      }
      script.ack(s, ok)
    }
  }
}
