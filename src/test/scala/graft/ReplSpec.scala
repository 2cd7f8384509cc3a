package graft

import java.io.{ByteArrayOutputStream, PrintStream, StringReader}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[Repl.run]] the way the reference's interactive client is used
  * (`client/ExclusiveClient.java:72-106`): several statements through piped
  * stdin, mixed with an error, terminated by EXIT. */
class ReplSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val engine = new Engine(spark, TestSpark.sfDir,
    Files.createTempDirectory("graft_repl_wh").toString)

  private def drive(script: String): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val n = Repl.run(engine, new StringReader(script), new PrintStream(buf, true))
    (n, buf.toString)
  }

  test("statement loop: query, DDL+DML round-trip, error recovery, EXIT") {
    val (n, out) = drive(
      """SELECT r_name FROM region WHERE r_regionkey = 0;
        |CREATE TABLE repl_t (id INT NOT NULL, v DOUBLE);
        |INSERT INTO repl_t VALUES (1, 2.5), (2, NULL);
        |SELECT COUNT(*) AS n_rows FROM repl_t;
        |SELECT definitely_not_a_function(1);
        |SELECT 'after error' AS still_alive;
        |EXIT;
        |SELECT 'never runs' AS dead;
        |""".stripMargin)
    assert(n == 7, s"EXIT must end the loop before the 8th statement:\n$out")
    assert(out.contains("AFRICA"))
    assert(out.contains("created table repl_t"))
    assert(out.contains("n_rows") && out.contains("2"))
    assert(out.contains("Error:"), "parse failure must print, not kill the loop")
    assert(out.contains("still_alive"))
    assert(out.contains("bye"))
    assert(!out.contains("never runs"))
    engine.sql("DROP TABLE IF EXISTS repl_t")
  }

  test("quote-aware framing: a semicolon inside a string literal does not split") {
    val (n, out) = drive("SELECT 'a;b' AS s;QUIT;")
    assert(n == 2 && out.contains("a;b"))
  }

  test("framing also covers double-quoted literals and backticked identifiers") {
    val (n, out) = drive("SELECT \"x;y\" AS s2;SELECT 1 AS `se;mi`;QUIT;")
    assert(n == 3, out)
    assert(out.contains("x;y") && out.contains("se;mi"))
  }

  test("framing honours backslash escapes inside quotes") {
    val (n, out) = drive("SELECT 'x\\';y' AS s3;QUIT;")
    assert(n == 2, out)
    assert(out.contains("x';y"), out)
  }

  test("framing skips -- and /* */ comments: a quote or ';' inside one " +
      "neither opens a literal nor splits") {
    val (n, out) = drive(
      """SELECT 1 AS c1; -- don't
        |/* it's; here */ SELECT 2 AS c2;
        |EXIT;
        |SELECT 'never runs' AS dead;
        |""".stripMargin)
    assert(n == 3, s"EXIT must be the third statement:\n$out")
    assert(out.contains("c2") && out.contains("bye"), out)
    assert(!out.contains("never runs"), out)
  }
}
