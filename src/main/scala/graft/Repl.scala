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

  /** Read one semicolon-terminated statement, lexed the way Spark lexes
    * it so a `;` splits only at top level: single- and double-quoted
    * literals (Spark lexes `"…"` as a string too) honour backslash escapes
    * (doubled-quote escapes degrade to exit+re-enter — harmless for
    * delimiter scanning), backtick identifiers do not, and `--` and
    * `/* */` comments are dropped, so a quote or `;` inside one neither
    * opens a literal nor splits. `/*+ hints */` are kept verbatim. EOF
    * with only whitespace pending → None. */
  private[graft] def nextStatement(r: java.io.Reader): Option[String] = {
    val sb = new StringBuilder
    var quote: Char = 0 // 0 = top level, else the open quote char
    var ahead = -2 // a character read ahead of its turn, or -2
    def next(): Int =
      if (ahead == -2) r.read() else { val c = ahead; ahead = -2; c }
    // the rest of a `/* … */` comment; `keep` appends it (a hint)
    def blockComment(keep: Boolean): Unit = {
      var prev = 0
      var c = next()
      while (c >= 0 && !(prev == '*' && c == '/')) {
        if (keep) sb += c.toChar
        prev = c; c = next()
      }
      sb ++= (if (keep) "/" else " ")
    }
    while (true) {
      val c = next()
      if (c < 0)
        return if (sb.toString.trim.nonEmpty) Some(sb.toString) else None
      val ch = c.toChar
      if (quote != 0) {
        sb += ch
        if (ch == '\\' && quote != '`') {
          val e = r.read()
          if (e >= 0) sb += e.toChar
        } else if (ch == quote) quote = 0
      }
      else if (ch == '\'' || ch == '"' || ch == '`') { sb += ch; quote = ch }
      else if (ch == ';') return Some(sb.toString)
      else if (ch == '-' || ch == '/') {
        val n = r.read()
        if (ch == '-' && n == '-') {
          while ({ val e = r.read(); e >= 0 && e != '\n' }) ()
          sb += '\n'
        } else if (ch == '/' && n == '*') {
          val h = r.read()
          if (h == '+') { sb ++= "/*+"; blockComment(keep = true) }
          else { ahead = h; blockComment(keep = false) }
        } else { sb += ch; ahead = n }
      }
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
