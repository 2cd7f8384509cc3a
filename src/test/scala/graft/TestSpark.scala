package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession per test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // exercise the plugin path: every engine function arrives via the
      // public SparkSessionExtensions injection, as it would on a cluster
      // (--conf spark.sql.extensions=graft.GraftExtensions)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_test").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static: this session must be the JVM's first codegen (Graft.sessionConfs)
      .config(Graft.codegenCache._1, Graft.codegenCache._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
