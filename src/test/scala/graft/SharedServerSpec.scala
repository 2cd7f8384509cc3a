package graft

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.commands.SharedServer

/** The reference's `SharedServer` model: concurrent clients over one shared
  * engine/warehouse, statements in, framed rows out, errors as status lines,
  * and a client dying mid-stream never takes the server down. */
class SharedServerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def client(port: Int): (Socket, java.io.BufferedReader, java.io.PrintWriter) = {
    val s = new Socket("127.0.0.1", port)
    s.setSoTimeout(60000)
    (s,
      new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, UTF_8)),
      new java.io.PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, UTF_8), true))
  }

  private def newServer(): (SharedServer, Engine) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_srv_wh").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    (new SharedServer(engine), engine)
  }

  test("two concurrent clients run statements against the shared warehouse") {
    val (srv, _) = newServer()
    try {
      // a storage command from client A is visible to client B
      val csv = java.nio.file.Files.createTempFile("graft_srv", ".csv")
      java.nio.file.Files.writeString(csv, "id,v\n1,a\n2,b\n3,c\n")
      val (sa, ina, outa) = client(srv.boundPort)
      val (sb, inb, outb) = client(srv.boundPort)
      try {
        outa.println(s"CREATE COLSTORE srvdemo FROM '$csv'")
        assert(ina.readLine() == "status")
        assert(ina.readLine().startsWith("created"))
        assert(ina.readLine() == "OK 1")

        outb.println("SELECT count(*) AS n FROM srvdemo")
        assert(inb.readLine() == "n")
        assert(inb.readLine() == "3")
        assert(inb.readLine() == "OK 1")

        // truly concurrent queries: both clients issue, both complete
        val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val threads = Seq((ina, outa), (inb, outb)).zipWithIndex.map {
          case ((in, out), i) => new Thread(() => {
            (1 to 3).foreach { _ =>
              out.println(
                "SELECT n_name FROM nation ORDER BY n_name LIMIT 2")
              val lines = Iterator.continually(in.readLine())
                .takeWhile(l => l != null && !l.startsWith("OK") &&
                  !l.startsWith("ERR")).toList
              results.add(s"c$i:${lines.mkString("|")}")
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join(60000))
        assert(results.size == 6)
        assert(results.iterator().next().contains("n_name"))

        // an error comes back as an ERR status line and the SAME
        // connection keeps working
        outa.println("SELECT broken syntax here FROM")
        val err = ina.readLine()
        assert(err.startsWith("ERR "), s"expected ERR status, got: $err")
        outa.println("SELECT 1 AS one")
        assert(ina.readLine() == "one")
        assert(ina.readLine() == "1")
        assert(ina.readLine() == "OK 1")
      } finally { sa.close(); sb.close() }
    } finally srv.close()
  }

  test("EXIT ends one client's session; the server keeps serving") {
    val (srv, _) = newServer()
    try {
      val (se, ine, oute) = client(srv.boundPort)
      oute.println("EXIT")
      assert(ine.readLine() == "status")
      assert(ine.readLine() == "bye")
      assert(ine.readLine() == "OK 1")
      assert(ine.readLine() == null, "server should hang up after EXIT")
      se.close()

      val (sf, inf, outf) = client(srv.boundPort)
      try {
        outf.println("SELECT count(*) AS n FROM region")
        assert(inf.readLine() == "n")
        assert(inf.readLine() == "5")
        assert(inf.readLine() == "OK 1")
      } finally sf.close()
    } finally srv.close()
  }

  test("multi-client soak: four clients hammer one table with seeded-" +
      "random INSERT/UPDATE/DELETE/SELECT/txn/malformed traffic — every " +
      "statement gets a well-formed frame (OK or ERR, never a hang or a " +
      "dead connection), DML serializes to an exact final row count, and " +
      "the server still serves a fresh client afterwards") {
    val (srv, _) = newServer()
    try {
      val (s0, in0, out0) = client(srv.boundPort)
      out0.println("CREATE TABLE soak_t (id BIGINT, v BIGINT)")
      val created = Iterator.continually(in0.readLine())
        .takeWhile(l => l != null && !l.startsWith("OK") &&
          !l.startsWith("ERR")).toList
      assert(created.nonEmpty); s0.close()
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val tallies =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val nStmts = 25
      val threads = (0 until 4).map { ci =>
        new Thread(() => {
          try {
            val (s, in, out) = client(srv.boundPort)
            try {
              val rng = new scala.util.Random(4200 + ci)
              var myIds = List.empty[Long]
              var ins = 0L
              var del = 0L
              // one statement out, one frame back: header/rows then OK,
              // or (rows then) ERR. A SELECT must come back OK: it leases
              // the version it planned against, so a concurrent COW
              // rewrite's sweep (retain 1) cannot pull it mid-stream. DML
              // and DDL serialize on the engine's writer lock and must be
              // exact
              def exchange(stmt: String): Boolean = {
                out.println(stmt)
                var l = in.readLine()
                while (l != null && !l.startsWith("OK") &&
                    !l.startsWith("ERR")) l = in.readLine()
                assert(l != null, s"connection died on: $stmt")
                l.startsWith("OK")
              }
              (1 to nStmts).foreach { k =>
                rng.nextInt(10) match {
                  case 0 | 1 | 2 | 3 =>
                    val id = ci * 100000L + k
                    if (exchange(
                        s"INSERT INTO soak_t VALUES ($id, ${rng.nextInt(5)})")) {
                      ins += 1; myIds ::= id
                    }
                  case 4 if myIds.nonEmpty =>
                    exchange("UPDATE soak_t SET v = v + 1 WHERE id = " +
                      myIds(rng.nextInt(myIds.size))); ()
                  case 5 if myIds.nonEmpty =>
                    if (exchange(
                        s"DELETE FROM soak_t WHERE id = ${myIds.head}")) {
                      del += 1; myIds = myIds.tail
                    }
                  case 6 =>
                    assert(exchange("SELECT count(*) AS n FROM soak_t"),
                      "a SELECT came back ERR")
                  case 7 =>
                    assert(exchange("SELECT v, count(*) AS n FROM soak_t " +
                      "GROUP BY v ORDER BY n DESC, v LIMIT 3"),
                      "a SELECT came back ERR")
                  case 8 =>
                    // malformed engine-only head: must come back ERR,
                    // never wedge the handler or fall through
                    assert(!exchange("OPTIMIZE soak_t ZORDER ("),
                      "malformed statement was acked OK")
                  case _ =>
                    // shared-session txns (the reference SharedServer
                    // model): concurrent BEGINs/COMMITs legitimately ERR
                    // ("already open"/"no open transaction") — only the
                    // framing is asserted. No ROLLBACK in the mix, so
                    // every acked INSERT/DELETE survives to the audit.
                    exchange("BEGIN"); exchange("COMMIT"); ()
                }
              }
              tallies.add((ins, del))
            } finally s.close()
          } catch {
            case t: Throwable => failures.add(s"client $ci: $t")
          }
        }, s"soak-client-$ci")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      assert(threads.forall(!_.isAlive), "a soak client hung")
      assert(failures.isEmpty, failures.toArray.mkString("; "))
      // a possibly-dangling shared txn from an interrupted BEGIN/COMMIT
      // pair commits here so the audit reads published state
      val (sf, inf, outf) = client(srv.boundPort)
      try {
        outf.println("COMMIT")
        Iterator.continually(inf.readLine()).takeWhile(l =>
          l != null && !l.startsWith("OK") && !l.startsWith("ERR")).toList
        val expected = tallies.toArray(Array.empty[(Long, Long)])
          .map { case (i2, d2) => i2 - d2 }.sum
        outf.println("SELECT count(*) AS n FROM soak_t")
        assert(inf.readLine() == "n")
        assert(inf.readLine() == expected.toString,
          s"final count != acked inserts - acked deletes ($expected)")
        assert(inf.readLine() == "OK 1")
      } finally sf.close()
    } finally srv.close()
  }

  /** Read one response frame: every line up to and including the
    * terminator (`OK n` / `ERR ...`). */
  private def frame(in: java.io.BufferedReader): List[String] = {
    val b = List.newBuilder[String]
    var l = in.readLine()
    while (l != null && !l.startsWith("OK") && !l.startsWith("ERR")) {
      b += l; l = in.readLine()
    }
    (b += String.valueOf(l)).result()
  }

  test("a held read drains the version it planned against while UPDATE " +
      "and DELETE commit and sweep under it (retain 1); once released, " +
      "the next sweep reclaims that version") {
    val wh = java.nio.file.Files.createTempDirectory("graft_lease_wh")
    val engine = new Engine(spark, TestSpark.sfDir, wh.toString)
    engine.sql("CREATE TABLE lease_t (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO lease_t VALUES (1, 10), (2, 20), (3, 30)")
    val planned = java.nio.file.Paths.get(engine.storage.dataPath("lease_t"))
    def history: Seq[String] = engine.storage.versionHistory("lease_t")
    val drained = engine.withResult("SELECT id, v FROM lease_t") { df =>
      engine.sql("UPDATE lease_t SET v = v + 1 WHERE id = 1")
      engine.sql("DELETE FROM lease_t WHERE id = 2")
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      df.toLocalIterator().forEachRemaining(r =>
        rows += ((r.getLong(0), r.getLong(1))))
      assert(java.nio.file.Files.isDirectory(planned),
        "the leased version was swept under its reader")
      assert(history.size == 1, s"retain 1 but VERSIONS lists $history")
      rows.sorted.toSeq
    }
    assert(drained == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    engine.sql("UPDATE lease_t SET v = v + 1 WHERE id = 3")
    assert(!java.nio.file.Files.exists(planned),
      "a released version outlived the next sweep")
    val live = java.nio.file.Paths.get(engine.storage.dataPath("lease_t"))
      .getFileName.toString
    assert(history == Seq(live))
    val onDisk = java.nio.file.Files.list(wh.resolve("lease_t"))
    try assert(onDisk.iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq == Seq(live))
    finally onDisk.close()
    assert(engine.sql("SELECT id, v FROM lease_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (3L, 31L)))
    engine.close()
  }

  test("a SELECT on one connection is served while an UPDATE on another " +
      "is paused mid-staging; the UPDATE lands once resumed") {
    val (srv, engine) = newServer()
    try {
      val (sa, ina, outa) = client(srv.boundPort)
      val (sb, inb, outb) = client(srv.boundPort)
      try {
        outa.println("CREATE TABLE pause_t (id BIGINT, v BIGINT)")
        assert(frame(ina).last == "OK 1")
        outa.println("INSERT INTO pause_t VALUES (1, 1), (2, 2)")
        assert(frame(ina).last == "OK 1")
        val pause = new java.util.concurrent.CyclicBarrier(2)
        engine.storage.stagingPause = Some(pause)
        outa.println("UPDATE pause_t SET v = v * 10")
        // A has staged its new version and holds the writer lock
        pause.await(120, java.util.concurrent.TimeUnit.SECONDS)
        outb.println("SELECT id, v FROM pause_t ORDER BY id")
        assert(frame(inb) == List("id,v", "1,1", "2,2", "OK 2"))
        pause.await(120, java.util.concurrent.TimeUnit.SECONDS)
        assert(frame(ina) == List("status", "updated pause_t", "OK 1"))
        outb.println("SELECT id, v FROM pause_t ORDER BY id")
        assert(frame(inb) == List("id,v", "1,10", "2,20", "OK 2"))
      } finally { sa.close(); sb.close() }
    } finally srv.close()
  }

  test("close() hangs up connected clients") {
    val (srv, _) = newServer()
    val (s, in, out) = client(srv.boundPort)
    try {
      out.println("SELECT 1 AS one")
      assert(frame(in) == List("one", "1", "OK 1"))
      srv.close()
      assert(in.readLine() == null, "a client outlived the server's close")
    } finally s.close()
  }

  test("a client disconnecting mid-stream does not stop the server") {
    val (srv, _) = newServer()
    try {
      val (sc, inc, outc) = client(srv.boundPort)
      // big result: full lineitem scan; read only the header then vanish
      outc.println("SELECT * FROM lineitem")
      assert(inc.readLine() != null)
      sc.close()

      // the server must still accept and serve a fresh client
      val (sd, ind, outd) = client(srv.boundPort)
      try {
        outd.println("SELECT count(*) AS n FROM nation")
        assert(ind.readLine() == "n")
        assert(ind.readLine() == "25")
        assert(ind.readLine() == "OK 1")
      } finally sd.close()
    } finally srv.close()
  }
}
