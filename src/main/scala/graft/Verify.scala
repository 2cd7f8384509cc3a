package graft
import java.nio.file.{Files, Path, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). Runs under the
  * session rule and the [[Graft.prepare]] step that [[Bench]] times, so
  * the oracle checks the timed config. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated name prefixes
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(','); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val spark = Graft.session(appName = "graft-verify", sfDir = sfDir)
    new java.io.File(outDir).mkdirs()
    // s100+ and d101 dump (and oracle-gate) the SERVE path; a build
    // failure is logged and falls back to the inline path, never to a
    // missing dump
    val prep = Graft.prepare(spark, sfDir)
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      prep.release()
    }
    writeOracleSql(Paths.get(outDir))
    spark.stop()
  }

  /** `dir/oracle_sql.json`: every query's DuckDB oracle SQL by name. */
  def writeOracleSql(dir: Path): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("oracle_sql.json"), json)
  }
}
