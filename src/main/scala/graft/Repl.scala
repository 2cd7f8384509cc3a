package graft

/** Console REPL — the reference's primary entry point
  * (`client/ExclusiveClient.java:72-106`: a stdin statement loop feeding
  * `NanoDBServer.doCommand`, printing tuples, surviving errors, ending on
  * EXIT/QUIT). Statements are semicolon-terminated and may span lines;
  * results print `df.show`-style (the TuplePrinter analog); a failing
  * statement prints its error and the loop continues.
  *
  * `sbt "runMain graft.Repl [sfDir] [warehouseDir]"`
  */
object Repl {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val wh = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_repl_wh").toString)
    val spark = Graft.session(appName = "graft-repl", sfDir = sfDir)
    val engine = new Engine(spark, sfDir, wh)
    run(engine, new java.io.InputStreamReader(System.in), System.out)
    spark.stop()
  }

  /** Read one semicolon-terminated statement; quote-aware for single AND
    * double quotes (Spark also lexes `"…"` as a string literal) plus
    * backtick identifiers, so a `;` inside any of them does not split
    * (doubled-quote escapes degrade to exit+re-enter — harmless for
    * delimiter scanning). EOF with only whitespace pending → None. */
  private[graft] def nextStatement(r: java.io.Reader): Option[String] = {
    val sb = new StringBuilder
    var quote: Char = 0 // 0 = top level, else the open quote char
    while (true) {
      val c = r.read()
      if (c < 0)
        return if (sb.toString.trim.nonEmpty) Some(sb.toString) else None
      val ch = c.toChar
      if (quote != 0) { sb += ch; if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"' || ch == '`') { sb += ch; quote = ch }
      else if (ch == ';') return Some(sb.toString)
      else sb += ch
    }
    None // unreachable
  }

  /** The loop, parameterized over streams so specs can drive it with piped
    * input. Returns the number of statements executed (EXIT included). */
  def run(engine: Engine, in: java.io.Reader,
      out: java.io.PrintStream): Int = {
    out.println("graft SQL — statements end with ';'. EXIT or QUIT ends the session.")
    var n = 0
    var done = false
    while (!done) {
      out.print("CMD> ")
      out.flush()
      nextStatement(in) match {
        case None => done = true // EOF ends the session like the reference
        case Some(stmt) if stmt.trim.isEmpty => ()
        case Some(stmt) =>
          n += 1
          if (engine.exitStmt.pattern.matcher(stmt).matches()) {
            out.println("bye")
            done = true
          } else {
            // the reference prints the error and keeps the loop alive
            // (ExclusiveClient.java catches per-command)
            try Console.withOut(out)(engine.sql(stmt).show(50, false))
            catch {
              case scala.util.control.NonFatal(e) =>
                out.println(s"Error: ${e.getMessage}")
            }
          }
      }
    }
    // session end (EXIT or EOF): temp tables are session-scoped
    engine.close()
    n
  }
}
