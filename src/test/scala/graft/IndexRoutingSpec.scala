package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automatic index usage — the reference's `CreateIndexCommand` →
  * `IndexScanNode` intent: after CREATE INDEX, the SAME plain SQL string
  * routes through the bucketed re-cluster and runs exchange-free; before
  * it, the plan is unchanged (shuffled). Users never name the index table.
  */
class IndexRoutingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val q =
    """SELECT c_custkey, count(*) AS cnt
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey""".stripMargin

  test("plain SQL is routed through CREATE INDEX buckets, unchanged before") {
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val before = engine.sql(q)
      val beforePlan = before.queryExecution.executedPlan.toString
      assert(beforePlan.contains("Exchange hashpartitioning"),
        s"un-indexed join should shuffle, got:\n$beforePlan")
      val expected = before.collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap

      engine.sql("CREATE INDEX ON orders (o_custkey)")
      engine.sql("CREATE INDEX ON customer (c_custkey)")
      val after = engine.sql(q)
      val plan = after.queryExecution.executedPlan.toString
      assert(plan.contains("orders_by_o_custkey") &&
        plan.contains("customer_by_c_custkey"),
        s"query should scan the index tables, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"indexed join + agg should be exchange-free, got:\n$plan")
      val got = after.collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(got == expected, "index routing changed the result")

      // a query NOT touching the indexed keys keeps its base-table plan
      val other = engine.sql("SELECT count(*) AS n FROM orders")
      assert(!other.queryExecution.executedPlan.toString.contains("_by_"),
        "non-key query must not be rewritten")

      // dropping the index table out from under the engine reverts routing
      // (lazy existence check) instead of failing the query
      spark.sql("DROP TABLE orders_by_o_custkey")
      val reverted = engine.sql(q)
      assert(!reverted.queryExecution.executedPlan.toString
        .contains("orders_by_o_custkey"))
      assert(reverted.collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("orders_by_o_custkey", "customer_by_c_custkey")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("a user table merely NAMED like an index is never routed to") {
    import spark.implicits._
    // `pref_by_kind` is an ordinary (un-bucketed) user table — a rollup,
    // not CREATE INDEX's product. The pre-seed must not register it: being
    // registered would both substitute it into queries (different rows)
    // and expose it to DROP on invalidation.
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("kind", "x")
      .write.mode("overwrite").saveAsTable("pref")
    Seq(("a", 99)).toDF("kind", "x")
      .write.mode("overwrite").saveAsTable("pref_by_kind")
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh2").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    try {
      val q = "SELECT kind, count(*) AS n FROM pref GROUP BY kind"
      val res = engine.sql(q)
      assert(!res.queryExecution.executedPlan.toString.contains("pref_by_kind"),
        "un-bucketed lookalike must not be substituted")
      assert(res.collect().map(_.getLong(1)).sum == 3,
        "query must read the real table's rows")
      assert(spark.catalog.tableExists("pref_by_kind"),
        "user table must survive untouched")
    } finally Seq("pref", "pref_by_kind")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("engine-routed INSERT into a warehouse table drops the stale index") {
    val csv = java.nio.file.Files.createTempFile("graft_ins", ".csv")
    java.nio.file.Files.writeString(csv, "id,v\n1,a\n2,b\n")
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh3").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    try {
      engine.sql(s"CREATE COLSTORE ins_t FROM '$csv'")
      engine.sql("CREATE INDEX ON ins_t (id)")
      assert(spark.catalog.tableExists("ins_t_by_id"))
      // ins_t is a warehouse table, so INSERT takes the ENGINE route
      // (manifest append + constraint checks) — which must invalidate the
      // snapshot index in its handler
      engine.sql("INSERT INTO ins_t VALUES (3, 'c')")
      assert(!spark.catalog.tableExists("ins_t_by_id"),
        "stale index must be dropped by the engine INSERT route")
      val n = engine.sql("SELECT count(*) AS n FROM ins_t WHERE id >= 1")
        .head().getLong(0)
      assert(n == 3, "post-insert query must see the appended row")
    } finally {
      engine.sql("DROP TABLE IF EXISTS ins_t")
      spark.sql("DROP TABLE IF EXISTS ins_t_by_id")
    }
  }

  test("MERGE INTO drops the stale index of its target") {
    val csv = java.nio.file.Files.createTempFile("graft_mrg", ".csv")
    java.nio.file.Files.writeString(csv, "id,v\n1,a\n2,b\n")
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh4").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    try {
      engine.sql(s"CREATE COLSTORE mrg_t FROM '$csv'")
      engine.sql("CREATE INDEX ON mrg_t (id)")
      assert(spark.catalog.tableExists("mrg_t_by_id"))
      engine.sql("MERGE INTO mrg_t t USING (SELECT 2 AS id, 'z' AS v) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
      assert(!spark.catalog.tableExists("mrg_t_by_id"),
        "stale index must be dropped by the MERGE route")
      assert(engine.sql("SELECT v FROM mrg_t WHERE id = 2")
        .head.getString(0) == "z", "post-merge query must see the update")
    } finally {
      engine.sql("DROP TABLE IF EXISTS mrg_t")
      spark.sql("DROP TABLE IF EXISTS mrg_t_by_id")
    }
  }

  test("INSERT into a NON-warehouse catalog table still falls through to " +
      "Spark SQL and drops the stale index (fallthroughMutation path)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh4").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_t").toString
    try {
      // a catalog-managed table OUTSIDE the warehouse: the engine INSERT
      // route must not claim it — the statement runs as Spark SQL behind
      // the engine's write guard, which owns the index invalidation
      spark.sql(s"CREATE TABLE cat_t (id INT, v STRING) USING parquet LOCATION '$dir'")
      spark.sql("INSERT INTO cat_t VALUES (1, 'a'), (2, 'b')")
      engine.sql("CREATE INDEX ON cat_t (id)")
      assert(spark.catalog.tableExists("cat_t_by_id"))
      engine.sql("INSERT INTO cat_t VALUES (3, 'c')")
      assert(!spark.catalog.tableExists("cat_t_by_id"),
        "stale index must be dropped by the query-fallthrough INSERT guard")
      assert(engine.sql("SELECT count(*) AS n FROM cat_t").head().getLong(0) == 3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_t")
      spark.sql("DROP TABLE IF EXISTS cat_t_by_id")
    }
  }

  test("Spark-SQL mutation verbs are refused on manifest-backed tables " +
      "(INSERT OVERWRITE / INSERT INTO TABLE / ALTER / TRUNCATE would " +
      "bypass versioning), and a mutated index table leaves the routing " +
      "registry") {
    val wh = java.nio.file.Files.createTempDirectory("graft_idx_wh5").toString
    val engine = new Engine(spark, TestSpark.sfDir, wh)
    val csv = java.nio.file.Files.createTempFile("graft_fmg", ".csv")
    java.nio.file.Files.writeString(csv, "id,v\n1,a\n2,b\n")
    val dir = java.nio.file.Files.createTempDirectory("graft_cat2_t").toString
    try {
      engine.sql(s"CREATE COLSTORE wm_t FROM '$csv'")
      // each refused verb would have written straight into the LIVE
      // version directory (or desynced the catalog from the manifest) —
      // no version bump, no fence, snapshot pins silently changed
      Seq("INSERT OVERWRITE wm_t VALUES (9, 'z')",
        "INSERT OVERWRITE TABLE wm_t VALUES (9, 'z')",
        "ALTER TABLE wm_t RENAME TO wm_renamed",
        "ALTER TABLE wm_t SET LOCATION '/tmp/elsewhere'",
        "TRUNCATE TABLE wm_t",
        "CREATE OR REPLACE TABLE wm_t (id INT) USING parquet").foreach { bad =>
        val e = intercept[UnsupportedOperationException](engine.sql(bad))
        assert(e.getMessage.contains("colstore table 'wm_t'"),
          s"'$bad' failed for the wrong reason: ${e.getMessage}")
      }
      // nothing mutated, nothing renamed
      assert(engine.sql("SELECT count(*) AS n FROM wm_t").head().getLong(0)
        == 2L)
      assert(!spark.catalog.tableExists("wm_renamed"))
      // `INSERT INTO TABLE` is Spark's spelling of INSERT INTO: it appends
      // through the engine as a new version
      def live() = engine.sql("SHOW VERSIONS ON wm_t").collect()
        .collectFirst { case r if r.getBoolean(1) => r.getString(0) }
      val v0 = live()
      engine.sql("INSERT INTO TABLE wm_t VALUES (9, 'z')")
      assert(live() != v0, "INSERT INTO TABLE must publish a new version")
      assert(engine.sql("SELECT count(*) AS n FROM wm_t").head().getLong(0)
        == 3L)
      // a catalog table's INDEX mutated directly: the fallthrough runs
      // (the user chose to touch the bucketed copy) but routing must
      // deregister it — a SELECT on the base may no longer be answered
      // from the now-divergent index
      spark.sql("CREATE TABLE cat2_t (id INT, v STRING) USING parquet " +
        s"LOCATION '$dir'")
      spark.sql("INSERT INTO cat2_t VALUES (1, 'a'), (2, 'b')")
      engine.sql("CREATE INDEX ON cat2_t (id)")
      val routed = engine.sql("SELECT v FROM cat2_t WHERE id = 1")
      assert(routed.queryExecution.executedPlan.toString
        .contains("cat2_t_by_id"), "precondition: index must route")
      engine.sql(
        "ALTER TABLE cat2_t_by_id SET TBLPROPERTIES ('touched'='1')")
      assert(spark.catalog.tableExists("cat2_t_by_id"),
        "the catalog table itself stays - only routing lets go")
      val after = engine.sql("SELECT v FROM cat2_t WHERE id = 1")
      assert(!after.queryExecution.executedPlan.toString
        .contains("cat2_t_by_id"),
        "a directly-mutated index must leave the routing registry")
      assert(after.head().getString(0) == "a")
    } finally {
      engine.sql("DROP TABLE IF EXISTS wm_t")
      spark.sql("DROP TABLE IF EXISTS cat2_t")
      spark.sql("DROP TABLE IF EXISTS cat2_t_by_id")
      engine.close()
    }
  }
}
