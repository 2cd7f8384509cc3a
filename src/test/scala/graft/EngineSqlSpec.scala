package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's declared interface is a SQL string handed to
  * `NanoDBServer.doCommand` (`server/NanoDBServer.java:69-74`), and every
  * reference test is a SQL statement (`sql/SqlTestCase.java:28-230`). This
  * spec proves the same parity here: every §2 relational query runs as a SQL
  * string through [[Engine.sql]] with results identical to its DataFrame
  * form, and the graft DDL (CREATE COLSTORE / LOAD / persistent CREATE VIEW)
  * round-trips.
  */
class EngineSqlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private lazy val engine =
    new Engine(spark, d, Files.createTempDirectory("graft_engine_wh").toString)

  /** Spark-dialect SQL for the queries whose DuckDB oracle uses dialect the
    * Spark parser lacks (strftime, `//`, quantile_cont, list_reduce,
    * regexp_matches, in-parens IGNORE NULLS, bare FILTER). Same semantics,
    * same column names/order. */
  private val sparkSqlVariants: Map[String, String] = Map(
    "q03_between" ->
      """SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
                o_totalprice
         FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                               AND TIMESTAMP '1996-12-31'""",
    "q05_rlike" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name RLIKE 'a.*e'",
    "q46_string_agg" -> // Spark has no STRING_AGG(... ORDER BY ...); the
      // sorted-array formulation is the same deterministic listagg
      """SELECT CAST(s_nationkey AS INT) AS s_nationkey,
                CAST(COUNT(*) AS BIGINT) AS n_supps,
                array_join(array_sort(collect_list(s_name)), ',') AS names
         FROM supplier GROUP BY s_nationkey""",
    "q57_window_range_frame" ->
      """SELECT o_orderkey, o_custkey, d,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey ORDER BY d
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS rev_30d,
                CAST(COUNT(*) OVER (
                  PARTITION BY o_custkey ORDER BY d
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS n_30d
         FROM (SELECT o_orderkey, o_custkey,
                 CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS INT) AS d,
                 o_totalprice
               FROM orders)""",
    "q71_retention" -> // `//`, date-minus-date and strftime are DuckDB-only
      """WITH uw AS (
           SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events),
         cohort AS (SELECT user_id, MIN(wk) AS cw FROM uw GROUP BY user_id),
         sizes AS (SELECT cw, COUNT(*) AS cohort_n FROM cohort GROUP BY cw),
         act AS (
           SELECT c.cw, datediff(u.wk, c.cw) div 7 AS week_offset,
                  COUNT(*) AS n_active
           FROM uw u JOIN cohort c USING (user_id)
           GROUP BY 1, 2)
         SELECT date_format(a.cw, 'yyyy-MM-dd') AS cohort_week,
                a.week_offset, a.n_active, s.cohort_n,
                ROUND(CAST(a.n_active AS DOUBLE) /
                      CAST(s.cohort_n AS DOUBLE), 6) AS retention
         FROM act a JOIN sizes s USING (cw)""",
    "q72_rfm" -> // `::` casts and date-minus-date are DuckDB-only
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS dt, value FROM events),
         u AS (SELECT user_id, MAX(dt) AS last_d,
                      CAST(COUNT(*) AS BIGINT) AS f,
                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
               FROM ev GROUP BY user_id),
         a AS (SELECT user_id,
                      datediff((SELECT MAX(dt) FROM ev), last_d) AS r, f, m
               FROM u)
         SELECT user_id, r, f, m, r_s, f_s, m_s,
                CAST(r_s AS STRING) || CAST(f_s AS STRING) ||
                CAST(m_s AS STRING) AS segment
         FROM (SELECT user_id, r, f, m,
                 CAST(NTILE(4) OVER (ORDER BY r DESC, user_id) AS BIGINT)
                   AS r_s,
                 CAST(NTILE(4) OVER (ORDER BY f ASC, user_id) AS BIGINT)
                   AS f_s,
                 CAST(NTILE(4) OVER (ORDER BY m ASC, user_id) AS BIGINT)
                   AS m_s
               FROM a)""",
    "q62_time_gap_fill" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, event_type,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY h, event_type),
         bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
         spine AS (SELECT explode(sequence(h0, h1, INTERVAL 1 HOUR)) AS h
                   FROM bounds),
         types AS (SELECT DISTINCT event_type FROM events)
         SELECT date_format(s.h, 'yyyy-MM-dd HH:00') AS hour, t.event_type,
                CAST(COALESCE(c.n, 0) AS BIGINT) AS n
         FROM spine s CROSS JOIN types t
         LEFT JOIN hourly c ON c.h = s.h AND c.event_type = t.event_type""",
    "q13_min_max" ->
      """SELECT o_orderstatus, MIN(o_totalprice) AS min_price,
                MAX(o_totalprice) AS max_price,
                date_format(MIN(o_orderdate), 'yyyy-MM-dd') AS min_date,
                date_format(MAX(o_orderdate), 'yyyy-MM-dd') AS max_date
         FROM orders GROUP BY o_orderstatus""",
    "q15_percentiles" ->
      """SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS median_price,
                percentile(o_totalprice, 0.9) AS p90_price, COUNT(*) AS n
         FROM orders GROUP BY o_orderstatus""",
    "q18_custom_udaf" ->
      """SELECT l_returnflag,
                gcd_agg(CAST(l_partkey AS BIGINT) * 4 + 2) AS gcd_v,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q19_approx_agg" ->
      """WITH sk AS (
           SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS exact_parts,
                  approx_count_distinct(l_partkey) AS hll_parts,
                  approx_percentile(l_extendedprice, 0.5, 1000) AS amed
           FROM lineitem GROUP BY l_returnflag),
         frac AS (
           SELECT l.l_returnflag,
                  CAST(SUM(CASE WHEN l.l_extendedprice <= sk.amed
                                THEN 1 ELSE 0 END) AS DOUBLE)
                    / COUNT(*) AS f
           FROM lineitem l JOIN sk ON l.l_returnflag = sk.l_returnflag
           GROUP BY l.l_returnflag)
         SELECT sk.l_returnflag, sk.exact_parts,
                ABS(CAST(sk.hll_parts AS DOUBLE) / sk.exact_parts - 1)
                  < 0.05 AS hll_within_5pct,
                f BETWEEN 0.40 AND 0.60 AS median_bracketed
         FROM sk JOIN frac ON sk.l_returnflag = frac.l_returnflag""",
    "q43_int_division" ->
      """SELECT l_orderkey, l_linenumber, l_partkey div 7 AS d,
                l_partkey % 7 AS m, (l_partkey - 1000) div 7 AS dneg
         FROM lineitem""",
    "q52_asof_window" ->
      """SELECT event_id, user_id, prior_view_id FROM (
           SELECT event_id, user_id, event_type,
                  LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END)
                    IGNORE NULLS
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prior_view_id
           FROM events)
         WHERE event_type = 'purchase'""",
    "q53_pivot" ->
      """SELECT user_id,
                COUNT(*) FILTER (WHERE event_type = 'view') AS view,
                COUNT(*) FILTER (WHERE event_type = 'click') AS click,
                COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
                COUNT(*) FILTER (WHERE event_type = 'error') AS error
         FROM events GROUP BY user_id""",
    "q64_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, ts FROM events),
         v AS (SELECT user_id, MIN(ts) AS vt FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS ct
               FROM ev e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts >= v.vt
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS pt
               FROM ev e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts >= c.ct
               GROUP BY e.user_id)
         SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
         UNION ALL
         SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
         UNION ALL
         SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p""",
    "q63_unpivot" ->
      """WITH p AS (
           SELECT user_id,
                  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
                  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
                  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
                  COUNT(*) FILTER (WHERE event_type = 'error') AS error
           FROM events GROUP BY user_id)
         SELECT user_id, 'view' AS event_type, view AS n FROM p
         UNION ALL SELECT user_id, 'click', click FROM p
         UNION ALL SELECT user_id, 'purchase', purchase FROM p
         UNION ALL SELECT user_id, 'signup', signup FROM p
         UNION ALL SELECT user_id, 'error', error FROM p""",
    "q60_events_hourly" ->
      """SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hour,
                event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q70_ohlc" ->
      """WITH base AS (
           SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss')
                    AS hour,
                  event_type, ts, event_id, value
           FROM events),
         r AS (
           SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY hour, event_type
                    ORDER BY ts, event_id) AS rn_a,
                  ROW_NUMBER() OVER (PARTITION BY hour, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM base)
         SELECT hour, event_type, COUNT(*) AS n,
                MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                MIN(value) AS low, MAX(value) AS high
         FROM r GROUP BY hour, event_type""",
    "q61_sessionize" ->
      """SELECT user_id, session_idx, COUNT(*) AS n_events,
                date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS session_start,
                date_format(MAX(ts), 'yyyy-MM-dd HH:mm:ss') AS session_end
         FROM (
           SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_idx
           FROM (
             SELECT user_id, event_id, ts,
                    COALESCE(CASE WHEN CAST(ts AS LONG)
                                       - CAST(LAG(ts, 1) OVER (
                                           PARTITION BY user_id
                                           ORDER BY ts, event_id) AS LONG)
                                       > 1800
                                  THEN 1 ELSE 0 END, 0) AS new_s
             FROM events))
         GROUP BY user_id, session_idx""",
    "q73_event_cooccurrence" -> // epoch() and DuckDB's struct-DISTINCT
      // count are dialect-only; CAST AS LONG + multi-arg COUNT(DISTINCT)
      """WITH s AS (
           SELECT user_id, event_type,
                  CAST(SUM(new_s) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
           FROM (SELECT user_id, event_id, ts, event_type,
                   COALESCE(CASE WHEN CAST(ts AS LONG)
                                      - CAST(LAG(ts, 1) OVER (
                                          PARTITION BY user_id
                                          ORDER BY ts, event_id) AS LONG)
                                      > 1800
                                 THEN 1 ELSE 0 END, 0) AS new_s
                 FROM events)),
         ue AS (SELECT DISTINCT user_id, session_idx, event_type FROM s),
         tot AS (SELECT CAST(COUNT(DISTINCT user_id, session_idx)
                   AS BIGINT) AS n_b FROM ue),
         pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
                FROM ue GROUP BY event_type),
         pr AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM ue a
                JOIN ue b ON a.user_id = b.user_id
                         AND a.session_idx = b.session_idx
                         AND a.event_type < b.event_type
                GROUP BY a.event_type, b.event_type)
         SELECT et_a, et_b, n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
                ROUND(CAST(n_ab AS DOUBLE) /
                      CAST(tot.n_b AS DOUBLE), 6) AS support,
                ROUND(CAST(n_ab AS DOUBLE) * CAST(tot.n_b AS DOUBLE)
                      / (CAST(pa.n_t AS DOUBLE) *
                         CAST(pb.n_t AS DOUBLE)), 6) AS lift
         FROM pr
         JOIN pt pa ON pr.et_a = pa.event_type
         JOIN pt pb ON pr.et_b = pb.event_type
         CROSS JOIN tot""",
    "q74_session_transitions" -> // epoch() is dialect-only
      """WITH s AS (
           SELECT user_id, event_id, ts, event_type,
                  CAST(SUM(new_s) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
           FROM (SELECT user_id, event_id, ts, event_type,
                   CASE WHEN CAST(ts AS LONG)
                              - CAST(LAG(ts, 1) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id) AS LONG)
                              > 1800
                        THEN 1 ELSE 0 END AS new_s
                 FROM events)),
         tr AS (
           SELECT event_type AS from_type,
                  LEAD(event_type, 1) OVER w AS to_type,
                  LEAD(session_idx, 1) OVER w AS to_sess,
                  session_idx
           FROM s WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id)),
         cnt AS (SELECT from_type, to_type,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM tr
                 WHERE to_type IS NOT NULL AND to_sess = session_idx
                 GROUP BY from_type, to_type),
         ft AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
                FROM cnt GROUP BY from_type)
         SELECT c.from_type, c.to_type, c.n, f.n_from,
                ROUND(CAST(c.n AS DOUBLE) /
                      CAST(f.n_from AS DOUBLE), 6) AS p
         FROM cnt c JOIN ft f USING (from_type)""")

  test("every §2 relational query runs as a SQL string with identical results") {
    val qNames = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    qNames.foreach { name =>
      val sqlStr = sparkSqlVariants.getOrElse(name, SparkEntry.oracleSql(name))
      val viaSql = engine.sql(sqlStr).collect().map(_.toString).sorted
      val viaDf = SparkEntry.queries(name)(spark, d).collect()
        .map(_.toString).sorted
      assert(viaSql.sameElements(viaDf), s"$name: SQL-string result diverges")
      spark.catalog.clearCache()
    }
  }

  test("persistent CREATE VIEW: catalog object, queryable, droppable") {
    engine.sql("DROP VIEW IF EXISTS big_orders")
    engine.sql("""CREATE VIEW big_orders AS
                  SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_totalprice > 100000""")
    // a catalog view, not a temp view (the reference's CreateViewCommand
    // declares persistent views and throws — here it works)
    val t = spark.catalog.getTable("big_orders")
    assert(t.tableType == "VIEW", s"expected persistent VIEW, got ${t.tableType}")
    val n = engine.sql("SELECT COUNT(*) AS n FROM big_orders").head().getLong(0)
    val expect = Graft.table(spark, d, "orders")
      .filter(col("o_totalprice") > 100000).count()
    assert(n == expect)
    engine.sql("DROP VIEW big_orders")
    assert(!spark.catalog.tableExists("big_orders"))
  }

  test("CREATE COLSTORE / LOAD round-trip through the SQL surface") {
    val csv = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(csv, "id,v\n1,a\n2,b\n")
    val csv2 = Files.createTempFile("graft_csv2", ".csv")
    Files.writeString(csv2, "id,v\n3,c\n")
    engine.sql("DROP TABLE IF EXISTS cs_t")
    engine.sql(s"CREATE COLSTORE cs_t FROM '$csv'")
    engine.sql(s"LOAD '$csv2' INTO cs_t")
    val got = engine.sql("SELECT id, v FROM cs_t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
    engine.sql("CREATE INDEX ON cs_t (id)") // bucketed re-cluster analog
    assert(spark.catalog.tableExists("cs_t_by_id"))
    assert(engine.sql("SELECT COUNT(*) AS n FROM cs_t_by_id").head.getLong(0) == 3)
    engine.sql("DROP TABLE cs_t_by_id")
    // UPDATE / DELETE as SQL strings -> copy-on-write rewrites (the
    // reference's UpdateCommand/DeleteCommand surface)
    engine.sql("UPDATE cs_t SET v = concat(v, '!') WHERE id >= 2")
    engine.sql("DELETE FROM cs_t WHERE id = 1")
    val afterMut = engine.sql("SELECT id, v FROM cs_t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(afterMut == Seq((2, "b!"), (3, "c!")))
    // BEGIN/ROLLBACK, VERIFY, OPTIMIZE — the reference's remaining utility
    // command surface, over the manifest
    engine.sql("BEGIN")
    engine.sql("DELETE FROM cs_t WHERE id = 2")
    assert(engine.sql("SELECT COUNT(*) AS n FROM cs_t").head.getLong(0) == 1)
    engine.sql("ROLLBACK")
    assert(engine.sql("SELECT COUNT(*) AS n FROM cs_t").head.getLong(0) == 2)
    assert(engine.sql("VERIFY cs_t").head.getString(0).contains("2 rows"))
    engine.sql("OPTIMIZE cs_t")
    assert(engine.sql("SELECT COUNT(*) AS n FROM cs_t").head.getLong(0) == 2)
    // the ZORDER clustering rewrite parses, preserves content, and
    // rejects unknown columns crisply (the skip-ratio property itself is
    // measured in TableCommandsSpec)
    engine.sql("OPTIMIZE cs_t ZORDER BY (id, v)")
    assert(engine.sql("SELECT COUNT(*) AS n FROM cs_t").head.getLong(0) == 2)
    intercept[IllegalArgumentException] {
      engine.sql("OPTIMIZE cs_t ZORDER BY (nope)")
    }
    engine.sql("DROP TABLE cs_t")
  }

  test("CREATE COLSTORE ... AS SELECT: query results land in the warehouse") {
    engine.sql("DROP TABLE IF EXISTS big_nations")
    engine.sql("""CREATE COLSTORE big_nations AS
                  SELECT n_nationkey, n_name FROM nation WHERE n_regionkey >= 2""")
    try {
      val n = engine.sql("SELECT COUNT(*) AS n FROM big_nations").head.getLong(0)
      assert(n == Graft.table(spark, d, "nation")
        .filter(col("n_regionkey") >= 2).count())
      // it is a REAL manifest table: storage commands apply
      assert(engine.sql("VERIFY big_nations").head.getString(0)
        .contains(s"$n rows"))
      engine.sql("DELETE FROM big_nations WHERE n_nationkey = 2")
      assert(engine.sql("SELECT COUNT(*) AS n FROM big_nations")
        .head.getLong(0) <= n)
    } finally engine.sql("DROP TABLE IF EXISTS big_nations")
  }

  test("column-DDL CREATE TABLE: the reference's create→insert→update " +
      "lifecycle runs in the warehouse from plain SQL") {
    engine.sql("DROP TABLE IF EXISTS accounts")
    engine.sql("""CREATE TABLE accounts (
                    id INTEGER PRIMARY KEY,
                    name VARCHAR(20) NOT NULL,
                    bal DOUBLE,
                    opened DATE)""")
    try {
      // it is a manifest table from birth: VERIFY sees it, catalog reads it
      assert(engine.sql("VERIFY accounts").head.getString(0).contains("0 rows"))
      engine.sql("INSERT INTO accounts VALUES " +
        "(1, 'alice', 10.5, DATE '2024-01-02'), " +
        "(2, 'bob', NULL, NULL)")
      engine.sql("INSERT INTO accounts (name, id) VALUES ('carol', 3)")
      assert(engine.sql("SELECT COUNT(*) AS n FROM accounts").head.getLong(0) == 3)
      // declared types pinned by the empty first version
      val sc = engine.sql("SELECT * FROM accounts").schema
      assert(sc("id").dataType.typeName == "integer" &&
        sc("bal").dataType.typeName == "double" &&
        sc("opened").dataType.typeName == "date")
      // UPDATE works on a column-DDL-born table (the round-3 gap)
      engine.sql("UPDATE accounts SET bal = 99.0 WHERE name = 'carol'")
      assert(engine.sql(
        "SELECT bal FROM accounts WHERE name = 'carol'").head.getDouble(0) == 99.0)
      // NOT NULL enforcement (declared and PRIMARY KEY columns)
      val e1 = intercept[IllegalArgumentException] {
        engine.sql("INSERT INTO accounts VALUES (4, NULL, 1.0, NULL)")
      }
      assert(e1.getMessage.contains("NOT NULL"))
      val e2 = intercept[IllegalArgumentException] {
        engine.sql("INSERT INTO accounts (id, bal) VALUES (5, 2.0)")
      }
      assert(e2.getMessage.toLowerCase.contains("name"))
      assert(engine.sql("SELECT COUNT(*) AS n FROM accounts").head.getLong(0) == 3)
      // INSERT ... SELECT routes through the engine too
      engine.sql("INSERT INTO accounts SELECT n_nationkey + 100, n_name, " +
        "CAST(NULL AS DOUBLE), CAST(NULL AS DATE) FROM nation WHERE n_nationkey < 2")
      assert(engine.sql("SELECT COUNT(*) AS n FROM accounts").head.getLong(0) == 5)
      // txn: an INSERT VALUES inside BEGIN rolls back cleanly
      engine.sql("BEGIN")
      engine.sql("INSERT INTO accounts VALUES (9, 'dave', 0.0, NULL)")
      assert(engine.sql("SELECT COUNT(*) AS n FROM accounts").head.getLong(0) == 6)
      engine.sql("ROLLBACK")
      assert(engine.sql("SELECT COUNT(*) AS n FROM accounts").head.getLong(0) == 5)
      assert(engine.sql("VERIFY accounts").head.getString(0).contains("5 rows"))
    } finally engine.sql("DROP TABLE IF EXISTS accounts")
  }

  test("PRIMARY KEY: in-batch duplicates rejected, cross-batch collisions " +
      "audited by VERIFY, metadata survives an engine restart") {
    val wh = Files.createTempDirectory("graft_pk_wh").toString
    val eng = new Engine(spark, d, wh)
    eng.sql("CREATE TABLE pk_t (id INT PRIMARY KEY, v DOUBLE)")
    try {
      // a batch repeating a key is rejected outright (batch-sized groupBy,
      // never a table scan) and leaves the table untouched
      val e = intercept[IllegalArgumentException] {
        eng.sql("INSERT INTO pk_t VALUES (1, 1.0), (1, 2.0)")
      }
      assert(e.getMessage.contains("PRIMARY KEY"))
      assert(eng.sql("SELECT COUNT(*) AS n FROM pk_t").head.getLong(0) == 0)
      // distinct keys append freely across batches (appends stay O(batch))
      eng.sql("INSERT INTO pk_t VALUES (1, 1.0), (2, 2.0)")
      eng.sql("INSERT INTO pk_t VALUES (3, 3.0)")
      assert(eng.sql("VERIFY pk_t").head.getString(0).contains("3 rows"))
      // a cross-batch collision is caught by the explicit VERIFY audit —
      // the honest columnar price, paid on demand instead of per append
      eng.sql("INSERT INTO pk_t VALUES (2, 9.0)")
      val v = intercept[IllegalStateException] { eng.sql("VERIFY pk_t") }
      assert(v.getMessage.contains("PRIMARY KEY"))
      // the PK set is warehouse metadata, not session state: a NEW engine
      // over the same warehouse keeps enforcing it
      val eng2 = new Engine(spark, d, wh)
      val e2 = intercept[IllegalArgumentException] {
        eng2.sql("INSERT INTO pk_t VALUES (7, 1.0), (7, 2.0)")
      }
      assert(e2.getMessage.contains("PRIMARY KEY"))
    } finally eng.sql("DROP TABLE IF EXISTS pk_t")
  }

  test("MERGE INTO: upsert, delete-form, ambiguity error, txn rollback") {
    engine.sql("DROP TABLE IF EXISTS mtgt")
    engine.sql("CREATE TABLE mtgt (id INT PRIMARY KEY, name VARCHAR(20), bal DOUBLE)")
    try {
      engine.sql("INSERT INTO mtgt VALUES (1, 'alice', 10.0), (2, 'bob', 20.0), " +
        "(3, 'carol', 30.0)")
      // upsert from a subquery source: id 2,3 update, id 9 inserts
      engine.sql("""MERGE INTO mtgt t
                    USING (SELECT * FROM VALUES (2, 5.0), (3, 7.0), (9, 1.0)
                           AS v(id, delta)) s
                    ON t.id = s.id
                    WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta
                    WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.delta)""")
      val rows = engine.sql("SELECT id, name, bal FROM mtgt ORDER BY id").collect()
      assert(rows.map(r => (r.getInt(0), r.isNullAt(1), r.getDouble(2))).toSeq ==
        Seq((1, false, 10.0), (2, false, 25.0), (3, false, 37.0), (9, true, 1.0)))
      // one COW publish: VERIFY still green, catalog re-pointed
      assert(engine.sql("VERIFY mtgt").head.getString(0).contains("4 rows"))
      // WHEN MATCHED THEN DELETE removes matches, keeps the rest
      engine.sql("MERGE INTO mtgt t USING (SELECT 2 AS id) s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      assert(engine.sql("SELECT COUNT(*) AS n FROM mtgt").head.getLong(0) == 3)
      // ANSI ambiguity: two source rows hitting one target row is an error
      val amb = intercept[IllegalArgumentException] {
        engine.sql("MERGE INTO mtgt t USING (SELECT * FROM VALUES (1, 1.0), " +
          "(1, 2.0) AS v(id, delta)) s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET bal = s.delta")
      }
      assert(amb.getMessage.contains("more than one source row"))
      // NOT NULL (PK) enforcement covers merge-inserted rows
      val nn = intercept[IllegalArgumentException] {
        engine.sql("MERGE INTO mtgt t USING (SELECT CAST(NULL AS INT) AS id) s " +
          "ON t.id = s.id WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)")
      }
      assert(nn.getMessage.contains("NOT NULL"))
      // EXPLAIN MERGE shows the rewrite plan WITHOUT publishing
      val plan = engine.sql("EXPLAIN MERGE INTO mtgt t USING (SELECT 3 AS id) s " +
        "ON t.id = s.id WHEN MATCHED THEN DELETE").head.getString(0)
      assert(plan.contains("COW rewrite of mtgt (MERGE)"))
      assert(engine.sql("SELECT COUNT(*) AS n FROM mtgt").head.getLong(0) == 3,
        "EXPLAIN MERGE must not mutate")
      // a merge inside a txn is one pointer move — ROLLBACK undoes all of it
      engine.sql("BEGIN")
      engine.sql("MERGE INTO mtgt t USING (SELECT 1 AS id, 'x' AS nm) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET name = s.nm " +
        "WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.nm)")
      assert(engine.sql("SELECT name FROM mtgt WHERE id = 1").head.getString(0) == "x")
      engine.sql("ROLLBACK")
      assert(engine.sql("SELECT name FROM mtgt WHERE id = 1").head.getString(0) == "alice")
      // SQL:2003 conditional clauses: WHEN MATCHED AND / WHEN NOT MATCHED
      // AND refine which rows act; a NULL condition means not-satisfied
      engine.sql("""MERGE INTO mtgt t
                    USING (SELECT * FROM VALUES (1, 100.0), (3, 1.0), (50, 9.0),
                           (60, 0.1) AS v(id, amt)) s
                    ON t.id = s.id
                    WHEN MATCHED AND s.amt > 50 THEN UPDATE SET bal = s.amt
                    WHEN NOT MATCHED AND s.amt > 5 THEN INSERT (id, bal)
                      VALUES (s.id, s.amt)""")
      val cond = engine.sql(
        "SELECT id, bal FROM mtgt WHERE id IN (1, 3, 50, 60) ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      // id 1 matched AND amt>50 -> updated; id 3 matched, amt=1 -> kept;
      // id 50 unmatched AND amt>5 -> inserted; id 60 unmatched, amt<=5 -> no
      assert(cond == Seq((1, 100.0), (3, 37.0), (50, 9.0)), s"got $cond")
      // a join ON inside the source subquery must not derail the
      // USING/ON/WHEN splitter (splits are paren-aware, not first-match)
      engine.sql("MERGE INTO mtgt t USING (SELECT n1.n_nationkey AS id " +
        "FROM nation n1 JOIN nation n2 ON n1.n_nationkey = n2.n_nationkey " +
        "WHERE n1.n_nationkey = 0) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)")
      assert(engine.sql("SELECT COUNT(*) AS n FROM mtgt WHERE id = 0")
        .head.getLong(0) == 1)
      // warehouse-table source with INSERT * (columns map by name)
      engine.sql("DROP TABLE IF EXISTS msrc")
      engine.sql("CREATE COLSTORE msrc AS SELECT 77 AS id, 'zed' AS name, 0.5 AS bal")
      try {
        engine.sql("MERGE INTO mtgt USING msrc ON mtgt.id = msrc.id " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(engine.sql("SELECT name FROM mtgt WHERE id = 77").head.getString(0) == "zed")
      } finally engine.sql("DROP TABLE IF EXISTS msrc")
    } finally engine.sql("DROP TABLE IF EXISTS mtgt")
  }

  test("SQL routing edges: Spark DDL not hijacked, IF NOT EXISTS idempotent, " +
      "bad column lists rejected, case-variant names reach the engine") {
    // a Spark-SQL CREATE TABLE with clauses after the column list must fall
    // through to Spark (catalog table), NOT be swallowed as warehouse DDL
    val loc = Files.createTempDirectory("graft_edge_loc").toString
    engine.sql("DROP TABLE IF EXISTS edge_spark_t")
    engine.sql(
      s"CREATE TABLE edge_spark_t (a INT) USING parquet LOCATION '$loc'")
    try {
      assert(spark.catalog.tableExists("edge_spark_t"))
      // and it is NOT a warehouse table: the storage-engine VERIFY refuses
      val e = intercept[Exception](engine.sql("VERIFY edge_spark_t").collect())
      assert(e.getMessage.contains("does not exist"),
        "a fallthrough CREATE TABLE must not create a warehouse manifest")
    } finally engine.sql("DROP TABLE IF EXISTS edge_spark_t")

    engine.sql("DROP TABLE IF EXISTS edge_t")
    engine.sql("CREATE TABLE edge_t (id INT NOT NULL, v DOUBLE)")
    try {
      // IF NOT EXISTS: second create is a no-op, not an error
      engine.sql("CREATE TABLE IF NOT EXISTS edge_t (id INT)")
      assert(engine.sql("SELECT * FROM edge_t").schema.length == 2,
        "IF NOT EXISTS re-create must not replace the table")
      // unknown / duplicate column lists error instead of silently NULLing
      val e1 = intercept[IllegalArgumentException](
        engine.sql("INSERT INTO edge_t (id, vv) VALUES (1, 9.9)"))
      assert(e1.getMessage.contains("vv"))
      val e2 = intercept[IllegalArgumentException](
        engine.sql("INSERT INTO edge_t (id, id) VALUES (1, 2)"))
      assert(e2.getMessage.contains("more than once"))
      // case-variant target resolves to the SAME warehouse table — the
      // engine route (and its NOT NULL check) must not be bypassed
      val e3 = intercept[IllegalArgumentException](
        engine.sql("INSERT INTO EDGE_T VALUES (NULL, 1.0)"))
      assert(e3.getMessage.contains("NOT NULL"))
      engine.sql("INSERT INTO EDGE_T VALUES (7, 1.0)")
      assert(engine.sql("SELECT COUNT(*) AS n FROM edge_t").head.getLong(0) == 1)
      engine.sql("UPDATE Edge_T SET v = 2.0 WHERE id = 7")
      assert(engine.sql("SELECT v FROM edge_t").head.getDouble(0) == 2.0)
    } finally engine.sql("DROP TABLE IF EXISTS edge_t")
  }

  test("EXPLAIN UPDATE/DELETE prints the COW rewrite plan without mutating") {
    engine.sql("DROP TABLE IF EXISTS exp_t")
    engine.sql("CREATE TABLE exp_t (id INT, v DOUBLE)")
    engine.sql("INSERT INTO exp_t VALUES (1, 1.0), (2, 2.0)")
    try {
      val pu = engine.sql("EXPLAIN UPDATE exp_t SET v = 0 WHERE id = 1")
        .head.getString(0)
      assert(pu.contains("COW rewrite of exp_t (UPDATE)"))
      assert(pu.contains("Scan parquet") || pu.contains("FileScan"),
        s"plan must show the rewrite's scan:\n$pu")
      assert(engine.sql("SELECT CAST(SUM(v) AS DOUBLE) AS s FROM exp_t")
        .head.getDouble(0) == 3.0, "EXPLAIN must not mutate")
      val pd = engine.sql("EXPLAIN DELETE FROM exp_t WHERE id = 2")
        .head.getString(0)
      assert(pd.contains("COW rewrite of exp_t (DELETE)"))
      assert(engine.sql("SELECT COUNT(*) AS n FROM exp_t").head.getLong(0) == 2)
    } finally engine.sql("DROP TABLE IF EXISTS exp_t")
  }

  test("UPDATE, DELETE and MERGE read as Spark's parser reads them: " +
      "literals, comments, escapes, SET *, qualified and aliased columns; " +
      "MERGE clauses the kernel does not run are refused by name") {
    engine.sql("DROP TABLE IF EXISTS sp_t")
    engine.sql("DROP TABLE IF EXISTS sp_s")
    engine.sql("CREATE TABLE sp_t (id INT, v STRING)")
    engine.sql("CREATE COLSTORE sp_s AS SELECT * FROM VALUES (1, 'z'), " +
      "(9, 'n') AS x(id, v)")
    def rows() = engine.sql("SELECT id, v FROM sp_t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    try {
      engine.sql("INSERT INTO sp_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val merge = "MERGE INTO sp_t t USING sp_s s ON t.id = s.id "
      Seq(
        "WHEN NOT MATCHED BY SOURCE" -> (merge +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED BY SOURCE THEN DELETE"),
        "second WHEN MATCHED" -> (merge +
          "WHEN MATCHED AND s.id = 1 THEN UPDATE SET v = 'p' " +
          "WHEN MATCHED THEN UPDATE SET v = 'q'"),
        "second WHEN NOT MATCHED" -> (merge +
          "WHEN NOT MATCHED AND s.id > 5 THEN INSERT * " +
          "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)"),
        "WITH SCHEMA EVOLUTION" -> ("MERGE WITH SCHEMA EVOLUTION INTO sp_t t " +
          "USING sp_s s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
      ).foreach { case (clause, stmt) =>
        val e = intercept[UnsupportedOperationException](engine.sql(stmt))
        assert(e.getMessage.contains(clause), s"$stmt -> ${e.getMessage}")
        assert(rows() == Seq((1, "a"), (2, "b"), (3, "c")),
          s"a refused MERGE changed the table: $stmt")
      }
      val unknown = intercept[IllegalArgumentException](
        engine.sql("UPDATE sp_t SET nosuch = 'x' WHERE id = 1"))
      assert(unknown.getMessage.contains("nosuch"), unknown.getMessage)
      // a comma and a WHERE inside double-quoted literals, a quote inside
      // a comment, a backslash escape
      engine.sql("UPDATE sp_t SET v = \"k, l\" WHERE id = 1")
      engine.sql("UPDATE sp_t SET v = \"here where there\" WHERE id = 2")
      engine.sql("UPDATE sp_t SET v = 'y' /* don't */ WHERE id = 3")
      assert(rows() == Seq((1, "k, l"), (2, "here where there"), (3, "y")))
      engine.sql("UPDATE sp_t SET v = 'x\\'y' WHERE id = 2")
      // SET * takes each target column from the source column of its name
      engine.sql(merge + "WHEN MATCHED THEN UPDATE SET *")
      assert(rows() == Seq((1, "z"), (2, "x'y"), (3, "y")))
      engine.sql("UPDATE sp_t SET v = 'x' WHERE sp_t.id = 1")
      engine.sql("DELETE FROM sp_t WHERE sp_t.id = 3")
      assert(rows() == Seq((1, "x"), (2, "x'y")))
      engine.sql("DELETE FROM sp_t AS d WHERE d.id = 1")
      assert(rows() == Seq((2, "x'y")))
    } finally {
      engine.sql("DROP TABLE IF EXISTS sp_t")
      engine.sql("DROP TABLE IF EXISTS sp_s")
    }
  }

  test("INSERT, DROP TABLE and EXPLAIN read as Spark's parser reads them: " +
      "every INSERT spelling publishes a version, Spark-only writes are " +
      "refused by name, DROP TABLE ... PURGE frees the name; duplicate " +
      "and NULL assignments are refused, VERIFY audits NOT NULL") {
    engine.sql("DROP TABLE IF EXISTS pi_t")
    engine.sql("CREATE TABLE pi_t (id INT NOT NULL, v STRING)")
    def rows() = engine.sql("SELECT id, v FROM pi_t ORDER BY id, v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    def live() = engine.sql("SHOW VERSIONS ON pi_t").collect()
      .collectFirst { case r if r.getBoolean(1) => r.getString(0) }.get
    def appends(stmt: String, added: Seq[(Int, String)]): Unit = {
      val (before, v0) = (rows(), live())
      assert(engine.sql(stmt).head.getString(0) == "inserted into pi_t", stmt)
      assert(live() != v0, s"no new version: $stmt")
      assert(rows() == (before ++ added).sortBy(identity), stmt)
    }
    try {
      engine.sql("INSERT INTO pi_t VALUES (1, 'a')")
      appends("WITH s AS (SELECT 2 AS id, 'b' AS v) " +
        "INSERT INTO pi_t SELECT * FROM s", Seq(2 -> "b"))
      appends("INSERT INTO TABLE pi_t VALUES (3, 'c')", Seq(3 -> "c"))
      appends("INSERT INTO pi_t (SELECT 4, 'd')", Seq(4 -> "d"))
      appends("INSERT INTO pi_t BY NAME SELECT 'e' AS v, 5 AS id", Seq(5 -> "e"))
      appends("INSERT INTO pi_t TABLE pi_t", rows())
      val (full, v) = (rows(), live())
      val nn = intercept[IllegalArgumentException](
        engine.sql("FROM pi_t INSERT INTO pi_t SELECT NULL, 'nn'"))
      assert(nn.getMessage.contains("NOT NULL"), nn.getMessage)
      // writes only Spark's own path could make, each refused by its form
      Seq("FROM pi_t INSERT INTO pi_t SELECT 8, 'h' " +
          "INSERT INTO pi_t SELECT 9, 'i'" -> "multi-table INSERT",
        "INSERT INTO pi_t REPLACE WHERE id = 1 SELECT 1, 'z'" ->
          "INSERT ... REPLACE WHERE").foreach { case (stmt, form) =>
        val e = intercept[UnsupportedOperationException](engine.sql(stmt))
        assert(e.getMessage.contains(s"$form on colstore table 'pi_t'"),
          s"$stmt -> ${e.getMessage}")
      }
      // EXPLAIN of an INSERT plans it and writes nothing
      engine.sql("EXPLAIN WITH s AS (SELECT 7 AS id, 'g' AS v) " +
        "INSERT INTO pi_t SELECT * FROM s").collect()
      val merge = "MERGE INTO pi_t t USING (SELECT 1 AS id) s ON t.id = s.id "
      Seq("UPDATE pi_t SET v = 'first', v = 'second' WHERE id = 1" -> "v",
        merge + "WHEN MATCHED THEN UPDATE SET v = 'p', V = 'q'" -> "v",
        merge + "WHEN NOT MATCHED THEN INSERT (id, id) VALUES (s.id, 7)" -> "id"
      ).foreach { case (stmt, c) =>
        val e = intercept[IllegalArgumentException](engine.sql(stmt))
        assert(e.getMessage.contains(s"column '$c' of pi_t is assigned more " +
          "than once"), s"$stmt -> ${e.getMessage}")
      }
      Seq("UPDATE pi_t SET id = NULL WHERE id = 1" -> "UPDATE pi_t",
        merge + "WHEN MATCHED THEN UPDATE SET id = NULL" -> "MERGE INTO pi_t"
      ).foreach { case (stmt, named) =>
        val e = intercept[IllegalArgumentException](engine.sql(stmt))
        assert(e.getMessage.contains(s"NOT NULL constraint violated on $named"),
          s"$stmt -> ${e.getMessage}")
      }
      assert(rows() == full && live() == v, "a refused statement wrote")
      // a NULL written behind the engine's back fails VERIFY's audit
      import spark.implicits._
      Seq[(Option[Int], String)]((None, "x")).toDF("id", "v").write
        .mode("append").parquet(engine.storage.dataPath("pi_t"))
      val audit = intercept[IllegalStateException](engine.sql("VERIFY pi_t"))
      assert(audit.getMessage.contains("NOT NULL (id) violated"),
        audit.getMessage)
      // PURGE drops the warehouse table, so the name is free again
      assert(engine.sql("DROP TABLE pi_t PURGE").head.getString(0) ==
        "dropped pi_t")
      engine.sql("CREATE TABLE pi_t (id INT)")
      assert(engine.sql("SELECT COUNT(*) FROM pi_t").head.getLong(0) == 0L)
    } finally engine.sql("DROP TABLE IF EXISTS pi_t")
  }

  test("JSONL ingest: CREATE COLSTORE and LOAD accept .jsonl files") {
    val j1 = Files.createTempFile("graft_docs", ".jsonl")
    Files.writeString(j1,
      """{"id": 1, "text": "alpha beta"}
        |{"id": 2, "text": "gamma"}
        |""".stripMargin)
    val j2 = Files.createTempFile("graft_docs2", ".jsonl")
    Files.writeString(j2, """{"id": 3, "text": "delta"}""" + "\n")
    engine.sql("DROP TABLE IF EXISTS jl_t")
    engine.sql(s"CREATE COLSTORE jl_t FROM '$j1'")
    engine.sql(s"LOAD '$j2' INTO jl_t")
    try {
      val got = engine.sql("SELECT id, text FROM jl_t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta")))
    } finally engine.sql("DROP TABLE IF EXISTS jl_t")
  }

  test("qualified names: default-db spellings route to the warehouse, " +
      "foreign databases are rejected clearly") {
    val csv = Files.createTempFile("graft_qn", ".csv")
    Files.writeString(csv, "id,v\n1,a\n2,b\n")
    engine.sql("DROP TABLE IF EXISTS qn_t")
    engine.sql(s"CREATE COLSTORE qn_t FROM '$csv'")
    try {
      // default.t and spark_catalog.default.t are THIS engine's database
      engine.sql("UPDATE default.qn_t SET v = 'x' WHERE id = 1")
      engine.sql("DELETE FROM spark_catalog.default.qn_t WHERE id = 2")
      val got = engine.sql("SELECT id, v FROM qn_t ORDER BY id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == Seq((1, "x")))
      // a genuinely foreign database gets an ENGINE error naming the
      // problem, not Spark SQL's non-catalog fallthrough
      val e = intercept[UnsupportedOperationException] {
        engine.sql("UPDATE otherdb.qn_t SET v = 'y'")
      }
      assert(e.getMessage.contains("qualified table"), e.getMessage)
      val e2 = intercept[UnsupportedOperationException] {
        engine.sql("DELETE FROM otherdb.qn_t")
      }
      assert(e2.getMessage.contains("single-database"), e2.getMessage)
    } finally engine.sql("DROP TABLE IF EXISTS qn_t")
  }

  test("CRASH command: bare CRASH dies; CRASH AFTER STAGED arms the " +
      "publish failpoint and recovery holds") {
    val csv = Files.createTempFile("graft_crash", ".csv")
    Files.writeString(csv, "id\n1\n2\n3\n")
    engine.sql("DROP TABLE IF EXISTS cr_t")
    engine.sql(s"CREATE COLSTORE cr_t FROM '$csv'")
    try {
      intercept[IllegalStateException] { engine.sql("CRASH") }
      // the engine object survives a simulated hard crash (it's a client
      // of immutable storage): statements keep working
      assert(engine.sql("SELECT COUNT(*) AS n FROM cr_t").head.getLong(0) == 3)
      engine.sql("CRASH AFTER STAGED")
      intercept[IllegalStateException] {
        engine.sql("DELETE FROM cr_t WHERE id = 1")
      }
      // publish died before the pointer moved: pre-crash data intact
      assert(engine.sql("SELECT COUNT(*) AS n FROM cr_t").head.getLong(0) == 3)
      // and the next rewrite succeeds (sweeping the crashed stage)
      engine.sql("DELETE FROM cr_t WHERE id = 1")
      assert(engine.sql("SELECT COUNT(*) AS n FROM cr_t").head.getLong(0) == 2)
    } finally engine.sql("DROP TABLE IF EXISTS cr_t")
  }

  test("EXPLAIN surfaces per-node PlanCost estimates; real rowCounts after ANALYZE") {
    engine.sql("DROP TABLE IF EXISTS cost_t")
    engine.sql(
      "CREATE TABLE cost_t AS SELECT o_orderkey, o_custkey FROM orders")
    try {
      val p1 = engine.sql(
        "EXPLAIN SELECT o_custkey, COUNT(*) AS n FROM cost_t GROUP BY o_custkey")
        .head.getString(0)
      assert(p1.contains("== Plan Cost (optimizer statistics) =="), p1)
      assert(p1.contains("sizeInBytes="), p1)
      engine.sql("ANALYZE cost_t")
      val p2 = engine.sql(
        "EXPLAIN SELECT o_custkey, COUNT(*) AS n FROM cost_t GROUP BY o_custkey")
        .head.getString(0)
      // post-ANALYZE the leaf relation carries a real row count and CBO
      // propagates it up — no node may be left without an estimate
      assert(p2.contains("PlanCost{rowCount="), p2)
      assert("rowCount=\\d+".r.findFirstIn(p2).isDefined,
        s"ANALYZE must yield numeric rowCounts:\n$p2")
      assert(!p2.contains("rowCount=n/a"),
        s"CBO must propagate rowCounts to every node post-ANALYZE:\n$p2")
      // EXPLAIN must not have mutated anything
      assert(engine.sql("SELECT COUNT(*) AS n FROM cost_t").head.getLong(0) > 0)
    } finally engine.sql("DROP TABLE IF EXISTS cost_t")
  }

  test("CREATE UNIQUE INDEX: rejects duplicated data, enforces in-batch, " +
    "audits cross-batch under VERIFY") {
    engine.sql("DROP TABLE IF EXISTS uq_t")
    engine.sql("CREATE TABLE uq_t (id INT, email VARCHAR(40))")
    try {
      engine.sql("INSERT INTO uq_t VALUES (1, 'a@x'), (2, 'b@x'), (3, NULL)")
      engine.sql("CREATE UNIQUE INDEX ON uq_t (email)")
      // in-batch duplicate: rejected at insert time (batch-sized groupBy)
      intercept[IllegalArgumentException] {
        engine.sql("INSERT INTO uq_t VALUES (4, 'c@x'), (5, 'c@x')")
      }
      // SQL UNIQUE semantics: NULLs never collide
      engine.sql("INSERT INTO uq_t VALUES (6, NULL)")
      // a cross-batch duplicate passes the batch check (priced for scale:
      // appends stay O(batch)) — VERIFY's explicit full pass catches it
      engine.sql("VERIFY uq_t")
      engine.sql("INSERT INTO uq_t VALUES (7, 'a@x')")
      val e = intercept[IllegalStateException] { engine.sql("VERIFY uq_t") }
      assert(e.getMessage.contains("UNIQUE (email)"))
      // CREATE UNIQUE INDEX over already-duplicated data must fail
      engine.sql("DROP TABLE IF EXISTS uq2_t")
      engine.sql("CREATE TABLE uq2_t AS SELECT p_brand FROM part")
      intercept[IllegalArgumentException] {
        engine.sql("CREATE UNIQUE INDEX ON uq2_t (p_brand)")
      }
    } finally {
      engine.sql("DROP TABLE IF EXISTS uq_t")
      engine.sql("DROP TABLE IF EXISTS uq2_t")
    }
  }

  test("CREATE TEMPORARY TABLE: full DML lifecycle, gone on close, " +
    "invisible after restart (even without close)") {
    val wh = Files.createTempDirectory("graft_tmp_wh").toString
    val e1 = new Engine(spark, d, wh)
    // temp tables take the same engine DML path as permanent ones
    e1.sql("CREATE TEMPORARY TABLE session_t (id INT NOT NULL, v DOUBLE)")
    e1.sql("INSERT INTO session_t VALUES (1, 1.5), (2, 2.5)")
    e1.sql("UPDATE session_t SET v = 9.0 WHERE id = 2")
    e1.sql("DELETE FROM session_t WHERE id = 1")
    assert(e1.sql("SELECT CAST(SUM(v) AS DOUBLE) AS s FROM session_t")
      .head.getDouble(0) == 9.0)
    // NOT NULL still enforced on the temp table
    intercept[Exception] {
      e1.sql("INSERT INTO session_t VALUES (NULL, 0.0)")
    }
    // TEMP spelling + CTAS form
    e1.sql("CREATE TEMP TABLE session_c AS SELECT 41 + 1 AS x")
    assert(e1.sql("SELECT x FROM session_c").head.getInt(0) == 42)
    // session end: both vanish from warehouse and catalog
    e1.close()
    assert(!spark.catalog.tableExists("session_t"))
    assert(!spark.catalog.tableExists("session_c"))
    // a session that DIES without close(): the next engine over this
    // warehouse sweeps its temp tables before serving anything
    val e2 = new Engine(spark, d, wh)
    e2.sql("CREATE TEMPORARY TABLE session_t (id INT)")
    e2.sql("INSERT INTO session_t VALUES (7)")
    e2.sql("CREATE TABLE perm_t (id INT)") // permanent control
    val e3 = new Engine(spark, d, wh) // e2 never closed — "crashed"
    assert(!spark.catalog.tableExists("session_t"),
      "temp table must not survive an engine restart")
    assert(e3.sql("SELECT * FROM perm_t").count() == 0,
      "permanent table must survive the restart untouched")
    e3.close()
    // close() is idempotent and harmless with no temp tables
    e3.close()
    e3.sql("DROP TABLE perm_t")
  }

  test("composite CREATE INDEX + USING type: two-column re-cluster, " +
    "leading-column routing, UNIQUE over the column tuple") {
    engine.sql("DROP TABLE IF EXISTS ci_t")
    engine.sql("CREATE TABLE ci_t (a INT, b INT, v DOUBLE)")
    try {
      engine.sql(
        "INSERT INTO ci_t VALUES (1, 1, 0.5), (1, 2, 1.5), (2, 1, 2.5)")
      // the full reference grammar: name + USING type + column list
      // (nanosql.g:426-448). (a, b) is unique although a and b each
      // repeat alone — the UNIQUE audit runs over the TUPLE.
      val st = engine.sql(
        "CREATE UNIQUE INDEX ci_idx USING btree ON ci_t (a, b)")
        .head.getString(0)
      assert(st.contains("ci_t_by_a_b"), st)
      assert(spark.catalog.tableExists("ci_t_by_a_b"))
      // leading-column routing: a plain query keyed on `a` scans the
      // composite clone
      val routed = engine.sql(
        "SELECT a, COUNT(*) AS n FROM ci_t WHERE a = 1 GROUP BY a")
      assert(routed.queryExecution.executedPlan.toString
        .contains("ci_t_by_a_b"))
      assert(routed.head.getLong(1) == 2)
      // tuple duplicated within an insert batch → rejected
      intercept[IllegalArgumentException] {
        engine.sql("INSERT INTO ci_t VALUES (3, 3, 0.0), (3, 3, 1.0)")
      }
      // repeating `a` alone does NOT violate the tuple constraint
      engine.sql("INSERT INTO ci_t VALUES (1, 9, 0.0)")
      // USING hash: clustering without the in-bucket sort, same routing
      engine.sql("CREATE INDEX USING hash ON ci_t (b)")
      assert(spark.catalog.tableExists("ci_t_by_b"))
      // CREATE UNIQUE INDEX over already-duplicated data still fails
      intercept[IllegalArgumentException] {
        engine.sql("CREATE UNIQUE INDEX ON ci_t (a)")
      }
    } finally {
      engine.sql("DROP TABLE IF EXISTS ci_t")
      Seq("ci_t_by_a_b", "ci_t_by_b").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("multi-table ANALYZE: the reference's table-list form; VERBOSE " +
      "returns the freshly computed per-table stats") {
    // AnalyzeCommand.java:93-121 iterates a table list printing one line
    // per table; the VERBOSE face surfaces the stats the pass computed
    val v = engine.sql("ANALYZE VERBOSE region, nation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(v.map(_._1).toSeq == Seq("region", "nation"))
    assert(v.forall { case (_, rows, bytes, cols) =>
      rows > 0 && bytes > 0 && cols > 0 },
      s"VERBOSE stats not populated: ${v.mkString(", ")}")
    assert(v.find(_._1 == "region").exists(_._2 == 5),
      "region must carry its real row count (5)")
    // non-VERBOSE forms keep the status line
    assert(engine.sql("ANALYZE region, nation").head.getString(0)
      == "analyzed region, nation")
    assert(engine.sql("ANALYZE region").head.getString(0)
      == "analyzed region")
    // Spark's own ANALYZE TABLE syntax still falls through untouched
    engine.sql("ANALYZE TABLE region COMPUTE STATISTICS")
  }

  test("SIMILAR TO on the SQL face: the reference grammar's token pair " +
      "(nanosql.g; evaluation stubbed to constant false in " +
      "StringMatchOperator.java:30-33) rewrites to RLIKE with real regex " +
      "semantics — q05's shape spelled SIMILAR TO, plus the NOT form, " +
      "with string literals never mangled") {
    val viaSimilar = engine.sql(
      "SELECT p_partkey, p_name FROM part WHERE p_name SIMILAR TO 'a.*e'")
      .collect().map(_.getLong(0)).sorted
    val viaRlike = engine.sql(
      "SELECT p_partkey, p_name FROM part WHERE p_name RLIKE 'a.*e'")
      .collect().map(_.getLong(0)).sorted
    assert(viaSimilar.nonEmpty && viaSimilar.sameElements(viaRlike))
    val notSimilar = engine.sql(
      "SELECT count(*) AS n FROM part WHERE p_name NOT SIMILAR TO 'a.*e'")
      .head.getLong(0)
    val total = engine.sql("SELECT count(*) AS n FROM part").head.getLong(0)
    assert(notSimilar == total - viaSimilar.length)
    // literals and comments are copied verbatim (the rewrite scans
    // outside protected regions only): single-quoted with '' escape,
    // DOUBLE-quoted (Spark's default lexer reads "…" as a string —
    // mangling it would be silent data corruption), and comments
    assert(engine.sql(
      "SELECT 'x SIMILAR TO y' AS s, 'it''s SIMILAR TO z' AS t")
      .head.getString(0) == "x SIMILAR TO y")
    val dq = engine.sql(
      """SELECT "looks SIMILAR TO the old one" AS s""").head.getString(0)
    assert(dq == "looks SIMILAR TO the old one", dq)
    val cm = engine.sql(
      "SELECT count(*) AS n -- a comment SIMILAR TO nothing\n" +
        "FROM part /* also SIMILAR TO nothing */ WHERE p_name SIMILAR TO 'a.*e'")
      .head.getLong(0)
    assert(cm == viaSimilar.length.toLong, s"comment-bearing form: $cm")
    // backslash-escaped quote: Spark's lexer consumes \' without ending
    // the literal, so the scanner must too — the literal's words stay
    // verbatim AND the real predicate after it still rewrites (a
    // scanner that closed at \' would leave SIMILAR TO inside a
    // phantom string region and hand Spark an unparseable statement)
    val bsRow = engine.sql(
      "SELECT 'it\\'s SIMILAR TO z' AS s, count(*) AS n " +
        "FROM part WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1").head
    assert(bsRow.getString(0) == "it's SIMILAR TO z", bsRow.getString(0))
    assert(bsRow.getLong(1) == viaSimilar.length.toLong)
    // nested bracketed comments (Spark's lexer nests them): the inner
    // close must not end the region — the apostrophe after it would
    // otherwise open a phantom string over the real predicate
    val nc = engine.sql(
      "SELECT count(*) AS n FROM part /* outer /* inner */ don't */ " +
        "WHERE p_name SIMILAR TO 'a.*e'").head.getLong(0)
    assert(nc == viaSimilar.length.toLong, s"nested-comment form: $nc")
  }

  test("SIMILAR TO scanner: raw strings (r'...') take no escapes — a raw " +
      "literal ending in a backslash closes at its first quote (Spark's " +
      "lexer rule), so the predicate after it still rewrites and literal " +
      "text never does") {
    val expected = engine.sql(
      "SELECT count(*) AS n FROM part WHERE p_name RLIKE 'a.*e'")
      .head.getLong(0)
    // r'a\' is the raw string a\ — an escape-consuming scanner would eat
    // the closing quote, protect the rest of the statement, and hand
    // Spark an unterminated literal (or leave SIMILAR TO unrewritten)
    val row = engine.sql(
      "SELECT r'a\\' AS s, count(*) AS n FROM part " +
        "WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1").head
    assert(row.getString(0) == "a\\", s"raw literal mangled: ${row.getString(0)}")
    assert(row.getLong(1) == expected)
    // capital prefix + double-quoted raw form
    val row2 = engine.sql(
      "SELECT R\"b\\\" AS s, count(*) AS n FROM part " +
        "WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1").head
    assert(row2.getString(0) == "b\\", s"R\"...\" mangled: ${row2.getString(0)}")
    assert(row2.getLong(1) == expected)
    // raw strings take no doubled-closer escape either: r'a''b' is TWO
    // literals (raw a, then plain b) — the SIMILAR TO between protected
    // regions still rewrites
    val row3 = engine.sql(
      "SELECT r'a' AS s, 'b' AS t, count(*) AS n FROM part " +
        "WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1, 2").head
    assert(row3.getString(0) == "a" && row3.getString(1) == "b")
    assert(row3.getLong(2) == expected)
    // an identifier ENDING in r is not a raw prefix (maximal munch:
    // `bar` lexes as one identifier, the quote opens a normal literal
    // with escape semantics)
    val row4 = engine.sql(
      "SELECT 'it\\'s' AS bar, count(*) AS n FROM part " +
        "WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1").head
    assert(row4.getString(0) == "it's")
    assert(row4.getLong(1) == expected)
    // doubled-backtick identifier escape: the scanner must not close the
    // backtick region at the first of the pair
    val bt = engine.sql(
      "SELECT count(*) AS `n``m` FROM part WHERE p_name SIMILAR TO 'a.*e'")
    assert(bt.columns.head == "n`m")
    assert(bt.head.getLong(0) == expected)
  }

  test("SIMILAR TO ... ESCAPE is refused with the real reason (RLIKE " +
      "takes no ESCAPE clause) instead of emitting unparseable SQL; " +
      "LIKE ... ESCAPE elsewhere in the statement stays untouched") {
    // literal pattern: ESCAPE opens the next unprotected segment
    val e1 = intercept[IllegalArgumentException](engine.sql(
      "SELECT * FROM part WHERE p_name SIMILAR TO 'a!%e' ESCAPE '!'"))
    assert(e1.getMessage.contains("ESCAPE"), e1.getMessage)
    // bare column pattern: ESCAPE in the same segment
    val e2 = intercept[IllegalArgumentException](engine.sql(
      "SELECT * FROM part WHERE p_name SIMILAR TO p_name ESCAPE '!'"))
    assert(e2.getMessage.contains("ESCAPE"), e2.getMessage)
    // a comment between the pattern and ESCAPE does not hide it
    val e3 = intercept[IllegalArgumentException](engine.sql(
      "SELECT * FROM part WHERE p_name SIMILAR TO 'a!%' /* c */ ESCAPE '!'"))
    assert(e3.getMessage.contains("ESCAPE"), e3.getMessage)
    // NOT SIMILAR TO form too
    val e4 = intercept[IllegalArgumentException](engine.sql(
      "SELECT * FROM part WHERE p_name NOT SIMILAR TO 'a!%' ESCAPE '!'"))
    assert(e4.getMessage.contains("ESCAPE"), e4.getMessage)
    // but LIKE ... ESCAPE in a SIMILAR-bearing statement is legal Spark
    // SQL and must survive the rewrite
    val n = engine.sql(
      "SELECT count(*) AS n FROM part WHERE p_name SIMILAR TO 'a.*e' " +
        "AND p_name NOT LIKE 'zz!%qq' ESCAPE '!'").head.getLong(0)
    val expected = engine.sql(
      "SELECT count(*) AS n FROM part WHERE p_name RLIKE 'a.*e' " +
        "AND p_name NOT LIKE 'zz!%qq' ESCAPE '!'").head.getLong(0)
    assert(n == expected && n > 0)
    // and the word escape in a LITERAL never trips the guard
    assert(engine.sql(
      "SELECT 'SIMILAR TO x ESCAPE y' AS s, count(*) AS n FROM part " +
        "WHERE p_name SIMILAR TO 'a.*e' GROUP BY 1")
      .head.getString(0) == "SIMILAR TO x ESCAPE y")
  }

  test("rewriteSimilarTo property fuzz: for statements assembled from " +
      "random protected regions (quoted literals with doubled/backslash " +
      "escapes, raw/hex strings, backtick identifiers, nested comments) " +
      "and unprotected text, every protected byte survives verbatim and " +
      "exactly the unprotected [NOT] SIMILAR TO tokens rewrite") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // word pool: no r/R/x/X tails (would form a raw-string prefix before
    // a quote fragment), no not/similar/to/escape (the scanner's own
    // tokens must only come from the simTok fragment)
    val words = Seq("alpha", "beta", "gamma", "delta", "omega",
      "countt", "name", "partt", "x1", "y2", "don")
    val safeChars = "abcdegz 0189,.=<>()"
    val plain: Gen[(String, String)] = for {
      k <- Gen.choose(1, 4)
      ws <- Gen.listOfN(k, Gen.oneOf(words))
    } yield { val t = ws.mkString(" ") + " "; (t, t) }
    val simTok: Gen[(String, String)] = for {
      not <- Gen.oneOf(Seq(None, Some("not"), Some("NOT"), Some("Not")))
      sim <- Gen.oneOf("similar", "SIMILAR", "Similar", "sImIlAr")
      to <- Gen.oneOf("to", "TO", "To")
      ws1 <- Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
      ws2 <- Gen.oneOf(" ", "  ", "\t", "\n")
    } yield (" " + not.map(_ + ws1).getOrElse("") + sim + ws2 + to + " ",
      " " + (if (not.isDefined) "NOT RLIKE" else "RLIKE") + " ")
    def qunit(q: Char): Gen[String] = Gen.frequency(
      6 -> Gen.oneOf(safeChars.toList).map(_.toString),
      1 -> Gen.const(s"$q$q"),
      1 -> Gen.const("\\" + q),
      1 -> Gen.const("\\\\"),
      1 -> Gen.const("\\z"),
      1 -> Gen.const("similar to"),
      1 -> Gen.const(" NOT SIMILAR TO escape "))
    def quoted(q: Char): Gen[(String, String)] = for {
      k <- Gen.choose(0, 6)
      us <- Gen.listOfN(k, qunit(q))
    } yield { val t = " " + q + us.mkString + q + " "; (t, t) }
    val btickUnit: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf(safeChars.toList).map(_.toString),
      1 -> Gen.const("``"),
      1 -> Gen.const("'"),
      1 -> Gen.const("\\"),
      1 -> Gen.const("similar to"))
    val btick: Gen[(String, String)] = for {
      k <- Gen.choose(0, 5)
      us <- Gen.listOfN(k, btickUnit)
    } yield { val t = " `" + us.mkString + "` "; (t, t) }
    val rawStr: Gen[(String, String)] = for {
      pre <- Gen.oneOf("r", "R")
      q <- Gen.oneOf("'", "\"")
      k <- Gen.choose(0, 5)
      cs <- Gen.listOfN(k, Gen.oneOf((safeChars + "\\\\").toList))
      trail <- Gen.oneOf("", "\\", "\\\\", "similar to")
    } yield { val t = " " + pre + q + cs.mkString + trail + q + " "; (t, t) }
    val hexStr: Gen[(String, String)] = for {
      k <- Gen.choose(0, 5)
      cs <- Gen.listOfN(k, Gen.oneOf("0123456789abcdefAF\\".toList))
      trail <- Gen.oneOf("", "\\")
    } yield { val t = " x'" + cs.mkString + trail + "' "; (t, t) }
    val lineComment: Gen[(String, String)] = for {
      ws <- Gen.listOfN(3, Gen.oneOf(words ++
        Seq("similar to", "don't", "it's", "escape")))
    } yield { val t = " -- " + ws.mkString(" ") + "\n"; (t, t) }
    def blockInner(level: Int): Gen[String] =
      if (level == 0)
        Gen.oneOf("similar to", "don't x", "a'b", "plain", "\"q", "escape")
      else for {
        pre <- Gen.oneOf("similar to ", "don't ", "")
        mid <- blockInner(level - 1)
        post <- Gen.oneOf(" it's", " not similar to", " escape '", "")
      } yield pre + "/*" + mid + "*/" + post
    val blockComment: Gen[(String, String)] = for {
      lvl <- Gen.choose(0, 2)
      s <- blockInner(lvl)
    } yield { val t = " /*" + s + "*/ "; (t, t) }
    val frag: Gen[(String, String)] = Gen.frequency(
      5 -> plain, 3 -> simTok, 2 -> quoted('\''), 2 -> quoted('"'),
      1 -> btick, 2 -> rawStr, 1 -> hexStr, 1 -> lineComment,
      2 -> blockComment)
    val genStmt: Gen[(String, String)] = for {
      k <- Gen.choose(0, 12)
      fs <- Gen.listOfN(k, frag)
    } yield (fs.map(_._1).mkString, fs.map(_._2).mkString)
    val prop = Prop.forAllNoShrink(genStmt) { case (stmt, expected) =>
      val got = engine.rewriteSimilarTo(stmt)
      if (got != expected)
        System.err.println(
          s"[fuzz] MISMATCH\n  stmt=<$stmt>\n  got =<$got>\n  exp =<$expected>")
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(3000)
      .withInitialSeed(org.scalacheck.rng.Seed(1337L)), prop)
    assert(res.passed, s"scanner fuzz failed: ${res.status}")
    // evaluate-equal leg: random simple patterns — the SIMILAR TO form
    // must return exactly the hand-written RLIKE form's rows
    val patGen = for {
      a <- Gen.oneOf("a", "b", "mi", "co", "ta", "")
      mid <- Gen.oneOf(".*", ".", "[ae]", "")
      b <- Gen.oneOf("e", "o", "n", "")
    } yield a + mid + b
    val evalProp = Prop.forAllNoShrink(patGen) { pat =>
      val p = if (pat.isEmpty) "a" else pat
      val viaSim = engine.sql(
        s"SELECT count(*) AS n FROM part WHERE p_name SIMILAR TO '$p'")
        .head.getLong(0)
      val viaRlike = engine.sql(
        s"SELECT count(*) AS n FROM part WHERE p_name RLIKE '$p'")
        .head.getLong(0)
      viaSim == viaRlike
    }
    val evalRes = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(4242L)), evalProp)
    assert(evalRes.passed, s"eval-equality fuzz failed: ${evalRes.status}")
  }

  test("BUILD VECTOR INDEX: build → serve → drop lifecycle; searches " +
    "without a build fall back to inline training; survives restart") {
    def searchPlan(): String = {
      val df = SparkEntry.queries("s101_ivfpq_search")(spark, d)
      df.queryExecution.toRdd.foreach(_ => ())
      df.queryExecution.executedPlan.toString
    }
    // no index: the search trains inline (Lloyd recentering in-plan)
    assert(searchPlan().contains("vector_sum_l"),
      "without a build the search must train inline")
    val wh = Files.createTempDirectory("graft_vidx_sql_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      // only the vector corpus is buildable (or droppable)
      intercept[IllegalArgumentException] {
        e1.sql("BUILD VECTOR INDEX ON lineitem")
      }
      assert(intercept[IllegalArgumentException] {
        e1.sql("DROP VECTOR INDEX ON lineitem")
      }.getMessage == "DROP VECTOR INDEX: only the embeddings corpus " +
        "carries vectors; got 'lineitem'")
      assert(e1.sql("BUILD VECTOR INDEX ON embeddings")
        .head.getString(0).contains("built vector index"))
      // built: the same search serves from the stored artifacts
      val served = searchPlan()
      assert(!served.contains("vector_sum_l"),
        s"served search must not train:\n$served")
      assert(served.contains("vector_index_embeddings_assign"))
      // the index artifacts are ordinary catalog tables — queryable
      assert(e1.sql(
        "SELECT COUNT(*) AS n FROM vector_index_embeddings_codebook")
        .head.getLong(0) > 0)
      // a NEW engine over the same warehouse re-registers the index
      // (the build outlives the session, like the reference's on-disk
      // index structures)
      spark.sql("DROP TABLE IF EXISTS vector_index_embeddings_meta")
      new Engine(spark, d, wh).sql("SELECT 1")
      assert(spark.catalog.tableExists("vector_index_embeddings_meta"))
      assert(!searchPlan().contains("vector_sum_l"))
      // dropped: back to inline training
      assert(e1.sql("DROP VECTOR INDEX ON embeddings")
        .head.getString(0).contains("dropped vector index"))
      assert(searchPlan().contains("vector_sum_l"),
        "after DROP the search must fall back to inline training")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("BUILD DEDUP INDEX: build → serve → drop lifecycle; the gate " +
    "probes the stored band table when built, computes inline otherwise") {
    def gatePlan(): String = {
      val df = SparkEntry.queries("d101_incremental_near_dup")(spark, d)
      df.queryExecution.toRdd.foreach(_ => ())
      df.queryExecution.executedPlan.toString
    }
    def gateRows(): Set[Seq[Any]] =
      SparkEntry.queries("d101_incremental_near_dup")(spark, d)
        .collect().map(_.toSeq).toSet
    // no index: the inline path materializes a checkpoint (the band
    // pipeline runs eagerly, so the plan reads an ExistingRDD)
    val inlinePlan = gatePlan()
    assert(!inlinePlan.contains("dedup_index_documents_bands"))
    assert(inlinePlan.contains("ExistingRDD"),
      "inline gate must probe its checkpointed band index")
    val inlineAnswer = gateRows()
    val wh = Files.createTempDirectory("graft_didx_sql_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      intercept[IllegalArgumentException] {
        e1.sql("BUILD DEDUP INDEX ON lineitem")
      }
      assert(intercept[IllegalArgumentException] {
        e1.sql("DROP DEDUP INDEX ON lineitem")
      }.getMessage == "DROP DEDUP INDEX: only the documents corpus " +
        "carries text; got 'lineitem'")
      assert(e1.sql("BUILD DEDUP INDEX ON documents")
        .head.getString(0).contains("built dedup index"))
      // built: the gate reads the stored table, no signature pipeline,
      // no checkpoint — and the answer is bit-identical
      val served = gatePlan()
      assert(served.contains("dedup_index_documents_bands"),
        s"served gate must read the stored index:\n$served")
      assert(!served.contains("word_shingles") &&
        !served.contains("ExistingRDD"),
        s"served gate must not recompute signatures:\n$served")
      assert(gateRows() == inlineAnswer,
        "served answer diverged from inline")
      // the index is an ordinary catalog table — queryable
      assert(e1.sql(
        "SELECT COUNT(*) AS n FROM dedup_index_documents_bands")
        .head.getLong(0) > 0)
      // a NEW engine over the same warehouse re-registers the index
      spark.sql("DROP TABLE IF EXISTS dedup_index_documents_meta")
      new Engine(spark, d, wh).sql("SELECT 1")
      assert(spark.catalog.tableExists("dedup_index_documents_meta"))
      // dropped: back to inline, same answer
      assert(e1.sql("DROP DEDUP INDEX ON documents")
        .head.getString(0).contains("dropped dedup index"))
      assert(!gatePlan().contains("dedup_index_documents_bands"))
      assert(gateRows() == inlineAnswer)
    } finally {
      e1.sql("DROP DEDUP INDEX ON documents")
      e1.close()
    }
  }

  test("REFRESH DEDUP INDEX: O(delta) append == full rebuild " +
    "bit-for-bit; idempotent; requires a build") {
    val wh = Files.createTempDirectory("graft_didx_refresh_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      // only the documents corpus is refreshable, and only after a build
      intercept[IllegalArgumentException] {
        e1.sql("REFRESH DEDUP INDEX ON lineitem")
      }
      intercept[IllegalArgumentException] {
        e1.sql("REFRESH DEDUP INDEX ON documents")
      }
      e1.sql("BUILD DEDUP INDEX ON documents")
      val full = spark.table("dedup_index_documents_bands")
        .collect().map(_.toSeq).toSet
      // simulate a lagging index: the store predates d101's arriving
      // slice (doc_id % 7 == 3) — exactly the state a daily ingest cycle
      // leaves between corpus append and index maintenance
      new commands.TableCommands(spark, wh)
        .delete("dedup_index_documents_bands", col("doc_id") % 7 === 3)
      val msg = e1.sql("REFRESH DEDUP INDEX ON documents")
        .head.getString(0)
      assert(msg.contains("documents appended") &&
        !msg.contains("(0 documents"), s"unexpected status: $msg")
      // bands are a pure function of the text, so refresh must equal a
      // full rebuild EXACTLY — same rows, same types
      val refreshed = spark.table("dedup_index_documents_bands")
        .collect().map(_.toSeq).toSet
      assert(refreshed == full, "refreshed index diverged from rebuild")
      // second refresh: nothing missing, nothing appended
      assert(e1.sql("REFRESH DEDUP INDEX ON documents").head.getString(0)
        .contains("(0 documents appended)"))
    } finally {
      e1.sql("DROP DEDUP INDEX ON documents")
      e1.close()
    }
  }

  test("REFRESH VECTOR INDEX: frozen-model append reproduces the BUILD " +
    "artifacts; serve path intact; idempotent; requires a build") {
    val wh = Files.createTempDirectory("graft_vidx_refresh_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      intercept[IllegalArgumentException] {
        e1.sql("REFRESH VECTOR INDEX ON lineitem")
      }
      intercept[IllegalArgumentException] {
        e1.sql("REFRESH VECTOR INDEX ON embeddings")
      }
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      // normalize array columns to Lists — raw arrays compare by
      // reference and would never set-match
      def rows(t: String): Set[Seq[Any]] = spark.table(t).collect()
        .map(_.toSeq.map {
          case a: Array[_] => a.toList
          case s: scala.collection.Seq[_] => s.toList
          case x => x
        }).toSet
      val fullAssign = rows("vector_index_embeddings_assign")
      val fullCodes = rows("vector_index_embeddings_codes")
      // simulate vectors that arrived after the build: drop a pseudo-
      // random 10% of the stored routing/codes rows
      val cmds2 = new commands.TableCommands(spark, wh)
      cmds2.delete("vector_index_embeddings_assign", col("vec_id") % 10 === 7)
      cmds2.delete("vector_index_embeddings_codes", col("vec_id") % 10 === 7)
      val msg = e1.sql("REFRESH VECTOR INDEX ON embeddings")
        .head.getString(0)
      assert(msg.contains("vectors appended") && !msg.contains("(0 vectors"),
        s"unexpected status: $msg")
      // routeAndEncodeFrozen is bit-identical to what BUILD writes (the
      // streaming-ingest parity), so the refreshed store must equal the
      // original build exactly
      assert(rows("vector_index_embeddings_assign") == fullAssign,
        "refreshed assign diverged from the build artifacts")
      assert(rows("vector_index_embeddings_codes") == fullCodes,
        "refreshed codes diverged from the build artifacts")
      // the refreshed index still serves: zero training stages
      val df = SparkEntry.queries("s101_ivfpq_search")(spark, d)
      df.queryExecution.toRdd.foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("vector_sum_l"),
        s"search trains inline after refresh:\n$p")
      assert(p.contains("vector_index_embeddings_assign"))
      assert(e1.sql("REFRESH VECTOR INDEX ON embeddings").head.getString(0)
        .contains("(0 vectors appended)"))
      // straggler heal: a crash between the two refresh appends leaves a
      // vector in ONE coverage table only. The delta is computed against
      // the assign∩codes INTERSECTION and each side appends only what IT
      // is missing, so the next refresh re-covers the straggler without
      // duplicating the table that already has it.
      cmds2.delete("vector_index_embeddings_codes",
        col("vec_id") % 10 === 3)
      // SERVING under the straggler: a vector in assign but not codes
      // cannot be ADC-served, so it must count as fresh — the equal-
      // count fast path is off (counts now differ) and coverage falls
      // back to the assign∩codes intersection. Without this, stragglers
      // would be served by NEITHER tier until the next refresh.
      // The delete above version-bumped the store and stranded the
      // catalog entry (the documented repoint contract) — re-register it
      // at the current manifest version, as an engine restart or any
      // maintenance command's repoint does, so serving reads the
      // post-crash store rather than a dangling path.
      Seq("vector_index_embeddings_codes").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"CREATE TABLE `$t` USING parquet " +
          s"LOCATION '${cmds2.dataPath(t)}'")
      }
      val nStrag = spark.table("vector_index_embeddings_assign")
        .join(spark.table("vector_index_embeddings_codes"),
          Seq("vec_id"), "left_anti").count()
      assert(nStrag > 0, "fixture: the codes delete removed nothing")
      val hs = SparkEntry.queries("s105_index_health")(spark, d).head()
      assert(hs.getLong(hs.fieldIndex("n_fresh")) == nStrag,
        "stragglers not counted as fresh by the serving health card")
      val fresh104 = SparkEntry.queries("s104_delta_search")(spark, d)
        .filter(col("tier") === "fresh").collect().map(_.getLong(1))
      assert(fresh104.forall(_ % 10 == 3),
        "s104's fresh tier served a fully-covered vector")
      val healMsg = e1.sql("REFRESH VECTOR INDEX ON embeddings")
        .head.getString(0)
      assert(healMsg.contains("vectors appended") &&
        !healMsg.contains("(0 vectors"), s"unexpected status: $healMsg")
      assert(rows("vector_index_embeddings_assign") == fullAssign,
        "straggler heal duplicated assign rows")
      assert(rows("vector_index_embeddings_codes") == fullCodes,
        "straggler heal did not restore the codes table")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("index artifacts are system tables: the SQL surface refuses " +
      "direct DML on them") {
    // the serving fast path and REFRESH's straggler heal both rest on
    // the coverage tables being NESTED at every commit boundary — true
    // only while BUILD/REFRESH are their sole writers. Offsetting
    // deletes (equal counts, different ids) through SQL would silently
    // lose vectors between serving tiers, so DML is refused by NAME,
    // before any existence check.
    Seq("DELETE FROM vector_index_embeddings_codes WHERE vec_id < 0",
        "UPDATE vector_index_embeddings_assign SET cluster = 0",
        "DELETE FROM dedup_index_documents_bands WHERE doc_id < 0",
        "MERGE INTO vector_index_embeddings_codes t USING (SELECT 1 AS x) " +
          "s ON t.vec_id = s.x WHEN MATCHED THEN DELETE",
        "LOAD '/tmp/nonexistent.csv' INTO vector_index_embeddings_codes",
        // the prefix is reserved outright: a user table created under it
        // would be born permanently un-writable
        "CREATE TABLE vector_index_mine (id BIGINT)",
        "CREATE COLSTORE dedup_index_mine AS SELECT 1 AS x")
      .foreach { stmt =>
        val ex = intercept[Exception] { engine.sql(stmt) }
        assert(ex.getMessage.contains("system tables") ||
          ex.getMessage.contains("reserved"), s"for: $stmt -> $ex")
      }
    // INSERT routes through the engine only for EXISTING warehouse
    // tables, so give the guard a real artifact to refuse: create it via
    // the internal writer (the allowed path), then try SQL DML
    val whi = Files.createTempDirectory("graft_sysguard_wh").toString
    val cmdsI = new commands.TableCommands(spark, whi)
    import spark.implicits._
    cmdsI.createTable("dedup_index_documents_bands",
      Seq((1L, 0, 7)).toDF("doc_id", "band", "band_key"))
    val e2 = new Engine(spark, d, whi)
    try {
      Seq("INSERT INTO dedup_index_documents_bands VALUES (2, 1, 9)",
          "DROP TABLE dedup_index_documents_bands")
        .foreach { stmt =>
          val ex = intercept[UnsupportedOperationException] {
            e2.sql(stmt)
          }
          assert(ex.getMessage.contains("reserved"), s"for: $stmt")
        }
    } finally {
      spark.sql("DROP TABLE IF EXISTS dedup_index_documents_bands")
      cmdsI.dropTable("dedup_index_documents_bands")
      e2.close()
    }
  }

  test("serving self-heals a catalog entry stranded by a crash between " +
      "a version-bump publish and its repoint") {
    // a mutation publishes a new version and SWEEPS the old directory;
    // the command-level repoint normally re-registers the catalog — a
    // crash in between leaves the entry pinned to the swept path, which
    // Spark reads as an EMPTY table. served() must heal from the
    // manifest pointer rather than silently serve zero-row artifacts.
    val wh = Files.createTempDirectory("graft_vidx_heal_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val before = SparkEntry.queries("s101_ivfpq_search")(spark, d)
        .collect().map(_.toSeq).toSet
      assert(before.nonEmpty)
      // no-op COW delete: data identical, version bumped, old dir swept,
      // catalog NOT repointed — exactly the crash window's store state
      new commands.TableCommands(spark, wh)
        .delete("vector_index_embeddings_codes", col("vec_id") < 0)
      val after = SparkEntry.queries("s101_ivfpq_search")(spark, d)
        .collect().map(_.toSeq).toSet
      assert(after == before,
        "serving diverged after a publish/repoint crash window " +
          "(an empty result here means the stranded entry was not healed)")
      // the serve path really is the stored index, not inline fallback
      val p = SparkEntry.queries("s101_ivfpq_search")(spark, d)
        .queryExecution.executedPlan.toString
      assert(p.contains("vector_index_embeddings_codes"),
        "query fell back to inline training instead of healing")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("RUN QUERY: the d/s/t/m/p operator inventory runs as SQL strings " +
      "— one per family, identical to the DataFrame form") {
    // doCommand parity for §2.9: the extension surface must be reachable
    // from the string interface (SharedServer/REPL), like every
    // relational row already is. One representative per family; scalar
    // output columns so row-set compare is exact.
    val names = Seq("q71_retention", "t99_gopher_rules", "d80_dedup_exact",
      "s90_ann_bruteforce", "m97_wav_decode", "p102_ingest_gate")
    names.foreach { n =>
      val viaSql = engine.sql(s"RUN QUERY '$n'").collect()
        .map(_.toSeq).toSet
      val direct = SparkEntry.queries(n)(spark, d).collect()
        .map(_.toSeq).toSet
      assert(direct.nonEmpty && viaSql == direct,
        s"$n diverged through RUN QUERY")
    }
    // explicit ON '<dir>' override; unquoted name; unknown name errors
    assert(engine.sql(s"RUN QUERY 'd80_dedup_exact' ON '$d'").count() ==
      SparkEntry.queries("d80_dedup_exact")(spark, d).count())
    assert(engine.sql("RUN QUERY t99_gopher_rules").count() ==
      SparkEntry.queries("t99_gopher_rules")(spark, d).count())
    val ex = intercept[IllegalArgumentException] {
      engine.sql("RUN QUERY 'no_such_query'")
    }
    assert(ex.getMessage.contains("SHOW QUERIES"))
    // unbalanced quotes are a parse error, not a silently-accepted name
    Seq("RUN QUERY 'd80_dedup_exact", "RUN QUERY d80_dedup_exact'")
      .foreach { bad =>
        intercept[Exception] { engine.sql(bad) }; ()
      }
    // SHOW QUERIES lists the complete inventory
    val listed = engine.sql("SHOW QUERIES").collect()
      .map(_.getString(0)).toSet
    assert(listed == SparkEntry.queries.keySet)
    // EXPLAIN RUN QUERY: one plan row for any inventory operator —
    // the formatted Spark plan, planned but never executed
    val plan = engine.sql("EXPLAIN RUN QUERY 'q01_scan_filter'").collect()
    assert(plan.length == 1)
    assert(plan(0).getString(0).contains("Scan parquet") &&
      plan(0).getString(0).contains("PushedFilters"),
      "EXPLAIN RUN QUERY must surface the physical scan + pushdown")
    val exBad = intercept[IllegalArgumentException] {
      engine.sql("EXPLAIN RUN QUERY no_such_query")
    }
    assert(exBad.getMessage.contains("SHOW QUERIES"))
    // ANALYZE RUN QUERY: executed-plan metrics — the walk must descend
    // through the AQE wrapper and stage boundaries, so a shuffling agg
    // query must surface BOTH a scan with rows read and an exchange
    // with bytes written
    val met = engine.sql("ANALYZE RUN QUERY 'q10_agg_pricing_summary'")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(met.exists { case (op, m, v) =>
      op.toLowerCase.contains("scan") &&
        m.contains("output rows") && v > 0 },
      s"no scan output-rows metric in:\n${met.take(40).mkString("\n")}")
    assert(met.exists { case (op, m, v) =>
      op.contains("Exchange") && m.contains("written") && v > 0 },
      "no exchange bytes-written metric — the walk stopped at a " +
        "stage boundary")
    val exBad2 = intercept[IllegalArgumentException] {
      engine.sql("ANALYZE RUN QUERY 'no_such_query'")
    }
    assert(exBad2.getMessage.contains("SHOW QUERIES"))
  }

  test("RUN QUERY ... INTO: inventory results land as managed warehouse " +
      "tables — pinned snapshot, DML-able, guards intact") {
    val wh = Files.createTempDirectory("graft_rq_into_wh").toString
    val e2 = new Engine(spark, d, wh)
    try {
      // the motivating flow: pin the dedup verdicts, then DML the pin
      val st = e2.sql("RUN QUERY 'd93_dedup_decisions' INTO verdicts")
        .collect()(0).getString(0)
      assert(st.contains("verdicts"))
      val direct = SparkEntry.queries("d93_dedup_decisions")(spark, d)
        .collect().map(_.toSeq).toSet
      val landed = e2.sql("SELECT * FROM verdicts").collect()
        .map(_.toSeq).toSet
      assert(landed == direct, "the landed table diverged from the query")
      // a pinned SNAPSHOT: re-running the operator doesn't mutate it,
      // and the table is a first-class DML target
      e2.sql("DELETE FROM verdicts WHERE is_kept = true")
      val left = e2.sql("SELECT * FROM verdicts").collect()
      assert(left.nonEmpty && left.forall(r => !r.getBoolean(2)),
        "DELETE over the landed snapshot must remove exactly the kept rows")
      // CREATE TABLE AS semantics: an existing name is an error
      val exDup = intercept[IllegalArgumentException] {
        e2.sql("RUN QUERY 'd93_dedup_decisions' INTO verdicts")
      }
      assert(exDup.getMessage.contains("already exists"))
      // the index system-table prefix stays reserved on this path too
      val exRes = intercept[UnsupportedOperationException] {
        e2.sql("RUN QUERY 'd80_dedup_exact' INTO vector_index_sneaky")
      }
      assert(exRes.getMessage.contains("reserved"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS verdicts")
      e2.close()
    }
  }

  test("SEARCH VECTORS: the serve face answers arbitrary query tables " +
      "— warehouse-resolved, k honored, schema and name errors crisp") {
    // the planted fixture authored as a CALLER table (raw doubles,
    // perturb-then-quantize happens inside the serve call) — the SQL face
    // must reproduce s104 exactly, like the public API does
    engine.sql("CREATE COLSTORE qvecs AS " +
      "SELECT vec_id AS q_id, " +
      "transform(embedding, (x, j) -> CAST(x AS DOUBLE) + " +
      "IF(j % 2 = 0, 0.001D, -0.001D)) AS embedding " +
      "FROM embeddings WHERE vec_id < 10")
    try {
      val viaSql = engine.sql("SEARCH VECTORS USING qvecs").collect()
        .map(_.toSeq).toSet
      val s104 = SparkEntry.queries("s104_delta_search")(spark, d)
        .collect().map(_.toSeq).toSet
      assert(viaSql.nonEmpty && viaSql == s104,
        "SEARCH VECTORS on the planted fixture diverged from s104")
      // TOP k widens the answer; warehouse names resolve case-insensitively
      val top5 = engine.sql("SEARCH VECTORS USING QVECS TOP 5").collect()
      assert(top5.length == 50, "10 queries x TOP 5")
      assert(top5.map(_.getLong(0)).distinct.length == 10)
      // error surface: unknown table, wrong schema, degenerate k
      val missing = intercept[IllegalArgumentException] {
        engine.sql("SEARCH VECTORS USING no_such_table")
      }
      assert(missing.getMessage.contains("unknown table"))
      val badSchema = intercept[IllegalArgumentException] {
        engine.sql("SEARCH VECTORS USING region")
      }
      assert(badSchema.getMessage.contains("q_id"))
      val badK = intercept[IllegalArgumentException] {
        engine.sql("SEARCH VECTORS USING qvecs TOP 0")
      }
      assert(badK.getMessage.contains(">= 1"))
    } finally engine.sql("DROP TABLE IF EXISTS qvecs")
  }

  test("SEARCH VECTORS ... DIVERSIFY: the MMR rerank over the indexed " +
      "shortlist — s110 parity on the external query set, lambda honored, " +
      "non-deci lambda refused") {
    // s110's external midpoint queries authored as a CALLER table: the
    // SQL face must reproduce the s110 operator exactly (same shortlist
    // source, same exact-integer greedy)
    engine.sql("CREATE COLSTORE qmid AS " +
      "SELECT a.vec_id AS q_id, " +
      "zip_with(a.embedding, b.embedding, (x, y) -> " +
      "(CAST(x AS DOUBLE) + CAST(y AS DOUBLE)) / 2) AS embedding " +
      "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 " +
      "WHERE a.vec_id BETWEEN 10 AND 19")
    try {
      val viaSql = engine
        .sql("SEARCH VECTORS USING qmid TOP 3 DIVERSIFY 0.7").collect()
        .map(_.toSeq).toSet
      val s110 = SparkEntry.queries("s110_search_diversify")(spark, d)
        .collect().map(_.toSeq).toSet
      assert(viaSql.nonEmpty && viaSql == s110,
        "SEARCH VECTORS ... DIVERSIFY diverged from s110")
      // a different lambda really changes the trade-off weights: at
      // lambda=1.0 the greedy degenerates to plain relevance order, so
      // rank-1 picks agree with 0.7's (first pick has no redundancy
      // term) while scores scale to 10*rel
      val lam10 = engine
        .sql("SEARCH VECTORS USING qmid TOP 1 DIVERSIFY 1.0").collect()
      val first07 = s110.map(_.toList).filter(_(1) == 1)
        .map(r => (r(0), r(2))).toSet
      assert(lam10.map(r => (r.get(0), r.get(2))).toSet == first07,
        "rank-1 must be the pure-relevance pick at every lambda")
      val badLam = intercept[IllegalArgumentException] {
        engine.sql("SEARCH VECTORS USING qmid TOP 3 DIVERSIFY 0.75")
      }
      assert(badLam.getMessage.contains("0.1"))
    } finally engine.sql("DROP TABLE IF EXISTS qmid")
  }

  test("DECONTAM VECTORS: the gate face audits arbitrary candidate tables " +
      "— d103 parity on the train side, THRESHOLD honored, errors crisp") {
    // the whole train side authored as a CALLER table: the SQL face must
    // reproduce the batch operator exactly, like the public kernel does
    engine.sql("CREATE COLSTORE cand AS " +
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 23 <> 0")
    try {
      val viaSql = engine.sql("DECONTAM VECTORS USING cand").collect()
        .map(_.toSeq).toSet
      val d103 = SparkEntry.queries("d103_semantic_decontam")(spark, d)
        .collect().map(_.toSeq).toSet
      assert(viaSql.nonEmpty && viaSql == d103,
        "DECONTAM VECTORS on the train side diverged from batch d103")
      // a tighter threshold can only shrink the flag set (monotone gate);
      // warehouse names resolve case-insensitively
      val tight = engine.sql("DECONTAM VECTORS USING CAND THRESHOLD 0.9")
        .collect().map(_.toSeq).toSet
      assert(tight.subsetOf(viaSql))
      assert(tight.size < viaSql.size,
        "the 0.9 threshold should prune some 0.3-flags in this fixture")
      // error surface: unknown table, wrong schema, non-cosine threshold
      val missing = intercept[IllegalArgumentException] {
        engine.sql("DECONTAM VECTORS USING no_such_table")
      }
      assert(missing.getMessage.contains("unknown table"))
      val badSchema = intercept[IllegalArgumentException] {
        engine.sql("DECONTAM VECTORS USING region")
      }
      assert(badSchema.getMessage.contains("vec_id"))
      val badThr = intercept[IllegalArgumentException] {
        engine.sql("DECONTAM VECTORS USING cand THRESHOLD 1.5")
      }
      assert(badThr.getMessage.contains("cosine"))
      // degenerate inputs: an empty candidate set audits to an empty
      // frame (not a crash), and an all-zero embedding matches nothing
      // (the cosQ zero-norm guard — sim 0, never a DIVIDE_BY_ZERO)
      engine.sql("CREATE VIEW cand_empty AS " +
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 0")
      engine.sql("CREATE VIEW cand_zero AS " +
        "SELECT vec_id, transform(embedding, x -> CAST(0.0 AS FLOAT)) " +
        "AS embedding FROM embeddings WHERE vec_id = 1")
      try {
        assert(engine.sql("DECONTAM VECTORS USING cand_empty").count() == 0)
        assert(engine.sql("DECONTAM VECTORS USING cand_zero").count() == 0)
      } finally {
        spark.sql("DROP VIEW IF EXISTS cand_empty")
        spark.sql("DROP VIEW IF EXISTS cand_zero")
        ()
      }
    } finally engine.sql("DROP TABLE IF EXISTS cand")
  }

  test("SHOW VECTOR INDEXES / SHOW DEDUP INDEXES: provenance and coverage " +
      "counts track the build/drop lifecycle") {
    // absent index → empty frame with the full schema (an operator's
    // dashboard query must not error on a fresh warehouse)
    val cols = Seq("corpus", "src", "m", "k", "iters", "mode",
      "n_assign", "n_codes")
    assert(engine.sql("SHOW VECTOR INDEXES").columns.toSeq == cols)
    assert(engine.sql("SHOW VECTOR INDEXES").count() == 0)
    assert(engine.sql("SHOW DEDUP INDEXES").count() == 0)
    engine.sql("BUILD VECTOR INDEX ON embeddings")
    engine.sql("BUILD DEDUP INDEX ON documents")
    try {
      val v = engine.sql("SHOW VECTOR INDEXES").collect()
      assert(v.length == 1)
      val r = v.head
      assert(r.getString(0) == "embeddings" &&
        r.getString(1) == new java.io.File(d).getAbsolutePath &&
        (r.getInt(2), r.getInt(3), r.getInt(4)) == ((8, 8, 2)))
      assert(r.getString(5) == "exact", s"default build mode: ${r.getString(5)}")
      // full coverage right after BUILD: both counts equal the corpus
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      assert(r.getLong(6) == n && r.getLong(7) == n,
        s"coverage ${r.getLong(6)}/${r.getLong(7)} != corpus $n")
      val dd = engine.sql("SHOW DEDUP INDEXES").collect()
      assert(dd.length == 1 && dd.head.getString(0) == "documents" &&
        dd.head.getLong(2) > 0)
    } finally {
      engine.sql("DROP VECTOR INDEX ON embeddings")
      engine.sql("DROP DEDUP INDEX ON documents")
    }
    assert(engine.sql("SHOW VECTOR INDEXES").count() == 0)
    assert(engine.sql("SHOW DEDUP INDEXES").count() == 0)
  }

  test("DROP INDEX / SHOW INDEXES: the bucketed-index lifecycle is " +
      "managed end-to-end from SQL; routing stops after drop") {
    engine.sql("CREATE COLSTORE idxlife AS " +
      "SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p " +
      "FROM orders")
    try {
      engine.sql("CREATE INDEX ON idxlife (c)")
      val listed = engine.sql("SHOW INDEXES").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(listed.contains(("idxlife", "c", "idxlife_by_c")),
        s"SHOW INDEXES missing the created index: ${listed.mkString(", ")}")
      // routing serves the bucketed clone while the index exists
      val routed = engine.sql(
        "SELECT c, count(*) AS n FROM idxlife GROUP BY c")
      assert(routed.queryExecution.analyzed.toString
        .contains("idxlife_by_c"), "plain query not routed to the index")
      // drop: catalog table gone, SHOW INDEXES empty for it, routing off
      assert(engine.sql("DROP INDEX idxlife_by_c").head.getString(0)
        .contains("dropped index idxlife_by_c"))
      assert(!spark.catalog.tableExists("idxlife_by_c"))
      assert(!engine.sql("SHOW INDEXES").collect()
        .exists(_.getString(2) == "idxlife_by_c"))
      val unrouted = engine.sql(
        "SELECT c, count(*) AS n FROM idxlife GROUP BY c")
      assert(!unrouted.queryExecution.analyzed.toString
        .contains("idxlife_by_c"), "routing survived DROP INDEX")
      // error surface: missing index throws; IF EXISTS is a status
      intercept[IllegalArgumentException] {
        engine.sql("DROP INDEX idxlife_by_c")
      }
      assert(engine.sql("DROP INDEX IF EXISTS idxlife_by_c")
        .head.getString(0).contains("does not exist"))
    } finally engine.sql("DROP TABLE idxlife")
  }

  test("vector index lifecycle: BUILD → ingest delta → s104 serves it " +
      "from the fresh tier → REFRESH → fresh drains and s105 flips") {
    // the s104/s105 fresh segment is the REAL corpus ∖ assignment delta;
    // this test drives the full production loop on an appendable corpus
    // copy: a freshly-built index has an empty delta, ingested vectors
    // appear in the fresh tier (served exactly, observable via `tier`),
    // the health card crosses its rebuild threshold, and REFRESH absorbs
    // the delta — fresh count back to zero, verdict back to healthy.
    import java.nio.file.{Files => F, Paths}
    val corp = F.createTempDirectory("graft_vidx_life").toString
    // embeddings gets a REAL copy (the test appends into it) — and the
    // copy must be DIRECTORY-shaped: the fixture tables are single
    // .parquet FILES, and Spark's append mode can only add part files
    // under a directory. A read→write round-trip normalizes the shape
    // regardless of how the fixture is laid out.
    spark.read.parquet(s"$d/embeddings.parquet")
      .write.parquet(s"$corp/embeddings.parquet")
    Graft.tableNames.filterNot(_ == "embeddings").foreach { t =>
      F.createSymbolicLink(Paths.get(s"$corp/$t.parquet"),
        Paths.get(s"$d/$t.parquet")); ()
    }
    val wh = Files.createTempDirectory("graft_vidx_life_wh").toString
    val e1 = new Engine(spark, corp, wh)
    def health: org.apache.spark.sql.Row =
      SparkEntry.queries("s105_index_health")(spark, corp).head()
    def servedTiers: Map[String, Array[Long]] =
      SparkEntry.queries("s104_delta_search")(spark, corp).collect()
        .groupBy(_.getString(2)).map { case (t, g) =>
          t -> g.map(_.getLong(1))
        }
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val h0 = health
      assert(h0.getLong(h0.fieldIndex("n_fresh")) == 0L,
        "freshly built index must have an empty delta")
      assert(!servedTiers.contains("fresh"))
      // ingest: append ~7% of the corpus as id-shifted copies (near-dups
      // of existing vectors, so some MUST surface in the served top-3)
      val emb = spark.read.parquet(s"$corp/embeddings.parquet")
      val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
      val nDelta = math.max((emb.count() * 7) / 100, 10L)
      emb.filter(col("vec_id") < nDelta)
        .withColumn("vec_id", col("vec_id") + maxId + 1)
        .write.mode("append").parquet(s"$corp/embeddings.parquet")
      // the append bypassed the Engine (a raw external write), so cached
      // file listings must be dropped — the ingest contract Graft
      // .invalidate documents; without it every read below would serve
      // the pre-append snapshot. Driven through the SQL face here so the
      // statement's plumbing is part of the lifecycle evidence.
      assert(e1.sql("REFRESH CORPUS").head.getString(0)
        .contains("refreshed corpus"))
      // stale index: the delta serves from the fresh tier — and because
      // the appended vectors duplicate the query neighborhoods, appended
      // ids actually WIN slots in the merged top-3
      val tiers = servedTiers
      assert(tiers.contains("fresh"), "ingested delta not served")
      assert(tiers("fresh").forall(_ > maxId),
        "fresh tier served an indexed vector")
      val h1 = health
      assert(h1.getLong(h1.fieldIndex("n_fresh")) == nDelta)
      assert(h1.getBoolean(h1.fieldIndex("rebuild")),
        "a 7% unindexed delta must cross the rebuild threshold")
      // REFRESH absorbs the delta O(delta): fresh drains to zero and the
      // verdict returns to the recall-only criterion
      val msg = e1.sql("REFRESH VECTOR INDEX ON embeddings")
        .head.getString(0)
      assert(msg.contains(s"($nDelta vectors appended)"),
        s"unexpected status: $msg")
      val h2 = health
      assert(h2.getLong(h2.fieldIndex("n_fresh")) == 0L)
      assert(h2.getDouble(h2.fieldIndex("fresh_frac")) == 0.0)
      assert(!servedTiers.contains("fresh"), "fresh tier still serving")
      assert(h2.getBoolean(h2.fieldIndex("rebuild")) ==
        (h2.getLong(h2.fieldIndex("total_hits")) <
          0.7 * 3 * h2.getLong(h2.fieldIndex("n_queries"))),
        "post-refresh verdict must be the recall criterion alone")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("START / SHOW / STOP ADMIT INGEST: the self-maintaining gate " +
      "drivable from SQL — files dropped into the watched directory flow " +
      "through the stored index, and later files see earlier admissions") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_ingest_sql_wh").toString
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_ingest_watch").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      intercept[IllegalArgumentException] { e1.sql("STOP INGEST nope") }
      val doc3 = spark.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") === 3).select("text").head.getString(0)
      val fresh = "the amber lighthouse keeper walks a winding cliff " +
        "path toward the harbor beacon every misty evening"
      // a file is already waiting when the gate starts
      Seq(3000001L -> doc3, 3000010L -> fresh).toDF("doc_id", "text")
        .write.mode("append").parquet(watch)
      // COMPACT EVERY n BATCHES rides the same statement (in-gate
      // compaction of the link-forward small files)
      assert(e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate " +
        "COMPACT EVERY 2 BATCHES")
        .head.getString(0).contains("started admit ingest gate"))
      val q = e1.ingestQuery("gate").getOrElse(fail("no query handle"))
      q.processAllAvailable()
      def verdicts: Map[Long, (Boolean, Option[Long])] =
        e1.storage.table("ingest_verdicts").collect().map { r =>
          r.getLong(0) -> ((r.getBoolean(r.fieldIndex("admitted")),
            Option(r.get(r.fieldIndex("matched_hist")))
              .map(_.toString.toLong)))
        }.toMap
      val v1 = verdicts
      assert(v1(3000001L)._2.exists(_ <= 3), "corpus copy not caught")
      assert(v1(3000010L) == ((true, None)), "fresh doc not admitted")
      // a LATER file re-sends the admitted content: the gate must catch
      // it against its OWN grown index
      Seq(3000020L -> fresh).toDF("doc_id", "text")
        .write.mode("append").parquet(watch)
      q.processAllAvailable()
      assert(verdicts(3000020L) == ((false, Some(3000010L))),
        "later file not checked against the grown index")
      val shown = e1.sql("SHOW INGESTS").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq
      assert(shown == Seq(("gate", true)))
      // the index tables are single-writer: a second ADMIT gate (under
      // any name) is refused while one runs
      intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate2")
      }
      assert(e1.sql("STOP INGEST gate").head.getString(0)
        .contains("stopped"))
      assert(e1.sql("SHOW INGESTS").isEmpty)
    } finally {
      e1.sql("DROP DEDUP INDEX ON documents")
      e1.close()
    }
  }

  test("START VECTOR INGEST: the frozen-model vector gate over SQL — " +
      "files of embeddings append to the stored index exactly once") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_vingest_sql_wh").toString
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_vingest_watch").toString
    try {
      // no index yet: crisp error, not a dangling stream
      intercept[IllegalArgumentException] {
        e1.sql(s"START VECTOR INGEST FROM '$watch'")
      }
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val before = e1.storage
        .table(operators.VectorIndex.tableName("assign")).count()
      spark.read.parquet(s"$d/embeddings.parquet")
        .selectExpr("vec_id + 5000000 AS vec_id", "embedding")
        .filter(col("vec_id") % 17 === 0)
        .write.mode("append").parquet(watch)
      val n = spark.read.parquet(watch).count()
      e1.sql(s"START VECTOR INGEST FROM '$watch'")
      e1.ingestQuery("vector_ingest").get.processAllAvailable()
      val na = e1.storage
        .table(operators.VectorIndex.tableName("assign")).count()
      val nc = e1.storage
        .table(operators.VectorIndex.tableName("codes")).count()
      assert(na == before + n && nc == na,
        s"expected ${before + n} assign/codes rows, got $na/$nc")
      e1.sql("STOP INGEST vector_ingest")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("ingest registry is warehouse-durable: restart visibility, " +
      "cross-engine single-writer refusal, REFRESH/OPTIMIZE fencing, and " +
      "alias-change resume without batch-numbering loss") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_ireg_wh").toString
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_ireg_watch").toString
    val fresh1 = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val fresh2 = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(5000001L -> fresh1).toDF("doc_id", "text")
        .write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      assert(e1.storage.table("ingest_verdicts").count() == 1L)
      // a SECOND engine over the same warehouse: its in-memory maps are
      // empty, but the durable registry still refuses a same-kind gate
      // (two ADMIT gates would double-write the single-writer band index)
      val e2 = new Engine(spark, d, wh)
      intercept[IllegalArgumentException] {
        e2.sql(s"START ADMIT INGEST FROM '$watch' AS gate2")
      }
      // maintenance on the gate's tables is fenced on BOTH engines —
      // REFRESH/OPTIMIZE republish the manifests the gate appends into,
      // BUILD would double-write them, DROP would delete them mid-append
      intercept[IllegalStateException] {
        e2.sql("REFRESH DEDUP INDEX ON documents")
      }
      intercept[IllegalStateException] {
        e1.sql(s"OPTIMIZE ${operators.DedupIndex.tableName("bands")}")
      }
      intercept[IllegalStateException] {
        e2.sql("BUILD DEDUP INDEX ON documents")
      }
      intercept[IllegalStateException] {
        e1.sql("DROP DEDUP INDEX ON documents")
      }
      // the verdict log is single-writer while the gate runs: OPTIMIZE
      // and DML on it are fenced too (its appendCommitted would race)
      intercept[IllegalStateException] {
        e1.sql("OPTIMIZE ingest_verdicts")
      }
      intercept[IllegalStateException] {
        e2.sql("DELETE FROM ingest_verdicts WHERE doc_id = 0")
      }
      // a same-NAME different-KIND start must not clobber the live claim
      val kindClash = intercept[IllegalArgumentException] {
        e2.sql(s"START VECTOR INGEST FROM '$watch' AS gate")
      }
      assert(kindClash.getMessage.contains("registered as a ADMIT"))
      assert(e2.sql("SHOW INGESTS").collect().map(_.getString(2)).toSeq
        == Seq("admit"), "the ADMIT claim was clobbered")
      // restart visibility: e2 lists the gate (not active IN e2)
      val shown = e2.sql("SHOW INGESTS").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
      assert(shown == Seq(("gate", false, "admit")))
      // the checkpoint pins its SOURCE: resuming from a different dir is
      // refused, not silently undefined
      e1.sql("STOP INGEST gate")
      assert(e2.sql("SHOW INGESTS").isEmpty,
        "STOP must clear the durable registration")
      val otherDir = Files.createTempDirectory("graft_ireg_other").toString
      intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$otherDir' AS gate")
      }
      // ALIAS-CHANGE RESUME (the round-8 advice scenario): STOP foo then
      // START ... AS bar must keep the KIND-keyed checkpoint, so Spark's
      // batch numbering continues past the sink markers instead of
      // restarting at 0 and silently losing every new batch
      Seq(5000002L -> fresh2).toDF("doc_id", "text")
        .write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS bar")
      e1.ingestQuery("bar").get.processAllAvailable()
      val v = e1.storage.table("ingest_verdicts").collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("admitted")))
        .toMap
      assert(v == Map(5000001L -> true, 5000002L -> true),
        s"alias-change resume lost data: $v")
      e1.sql("STOP INGEST bar")
      // a dead session's registration (engine closed WITHOUT stop) stays
      // visible and a same-name START resumes it
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      e1.close() // stops the query, keeps the registration
      val e3 = new Engine(spark, d, wh)
      assert(e3.sql("SHOW INGESTS").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
        Seq(("gate", false)))
      e3.sql(s"START ADMIT INGEST FROM '$watch' AS gate") // resume
      e3.ingestQuery("gate").get.processAllAvailable()
      e3.sql("STOP INGEST gate")
      e3.close()
      // LEGACY warehouse migration: pre-registry engines checkpointed by
      // ALIAS with no .src pin. Simulate one (rename the kind checkpoint
      // to an alias, drop the pin) and START under that alias: the
      // legacy numbering must be honored — a fresh kind-keyed checkpoint
      // would restart batch ids at 0 and the sink markers would swallow
      // every new batch
      import java.nio.file.{Files => F, Paths, StandardCopyOption}
      F.move(Paths.get(wh, "_ingest_ckpt", "admit"),
        Paths.get(wh, "_ingest_ckpt", "gate2"),
        StandardCopyOption.ATOMIC_MOVE)
      F.deleteIfExists(Paths.get(wh, "_ingest_ckpt", "admit.src"))
      val fresh3 = "an elderly clockmaker repairs the tower bells above " +
        "the quiet market square during every autumn festival week"
      Seq(5000003L -> fresh3).toDF("doc_id", "text")
        .write.mode("append").parquet(watch)
      val e4 = new Engine(spark, d, wh)
      e4.sql(s"START ADMIT INGEST FROM '$watch' AS gate2")
      e4.ingestQuery("gate2").get.processAllAvailable()
      assert(e4.storage.table("ingest_verdicts")
        .filter(col("doc_id") === 5000003L).count() == 1L,
        "legacy alias-keyed checkpoint was not honored - the new batch " +
          "was swallowed by restarted numbering")
      e4.sql("STOP INGEST gate2")
      e4.close()
    } finally {
      e1.sql("DROP DEDUP INDEX ON documents")
      e1.close()
    }
  }

  test("SNAPSHOT pins its version durably: the pinned read survives " +
      "RETAIN-lowering and heavy writes; DROP SNAPSHOT releases it") {
    engine.sql("DROP TABLE IF EXISTS pt")
    engine.sql("CREATE COLSTORE pt AS SELECT n_nationkey AS id FROM " +
      "nation WHERE n_nationkey < 4")
    try {
      engine.sql("RETAIN 2 VERSIONS ON pt")
      engine.sql("DELETE FROM pt WHERE id = 0") // v2: 1,2,3
      assert(engine.sql("SNAPSHOT pt VERSION AS OF 'v00002' AS pt_pin")
        .head.getString(0).contains("pinned"))
      // SHOW SNAPSHOTS surfaces the pin (what DROP can release, what
      // sweep is keeping alive)
      val snaps = engine.sql("SHOW SNAPSHOTS").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(snaps.contains(("pt_pin", "pt", "v00002")), s"got ${snaps.toSeq}")
      // retention collapses to 1 and the table churns far past the pin
      engine.sql("RETAIN 1 VERSIONS ON pt")
      (1 to 3).foreach(i => engine.sql(s"DELETE FROM pt WHERE id = $i"))
      assert(engine.sql("SELECT count(*) AS n FROM pt").head.getLong(0) == 0L)
      // the pinned training read still answers from v00002
      assert(engine.sql("SELECT id FROM pt_pin ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 2, 3),
        "pinned snapshot was swept under the reader")
      // re-registering an alias on ANOTHER table MOVES the pin — the
      // old table's pin must not leak (a leaked pin blocks sweeping its
      // version forever), and SHOW SNAPSHOTS shows exactly one row
      engine.sql("DROP TABLE IF EXISTS pt2")
      engine.sql("CREATE COLSTORE pt2 AS SELECT 1 AS id")
      try {
        engine.sql("SNAPSHOT pt2 VERSION AS OF 'v00001' AS pt_pin")
        val snaps2 = engine.sql("SHOW SNAPSHOTS").collect()
          .filter(_.getString(0) == "pt_pin")
          .map(r => (r.getString(1), r.getString(2)))
        assert(snaps2.toSeq == Seq(("pt2", "v00001")),
          s"alias move leaked a pin: ${snaps2.toSeq}")
        // move it back for the DROP assertions below
        engine.sql("SNAPSHOT pt VERSION AS OF 'v00002' AS pt_pin")
      } finally engine.sql("DROP TABLE IF EXISTS pt2")
      // DROP SNAPSHOT releases pin + view; the next rewrite sweeps it
      assert(engine.sql("DROP SNAPSHOT pt_pin").head.getString(0)
        .contains("unpinned"))
      assert(!spark.catalog.tableExists("pt_pin"))
      intercept[IllegalArgumentException] {
        engine.sql("DROP SNAPSHOT pt_pin")
      }
      engine.sql("INSERT INTO pt VALUES (9)")
      engine.sql("DELETE FROM pt WHERE id = 99") // a rewrite, triggers sweep
      intercept[IllegalArgumentException] {
        engine.sql("SNAPSHOT pt VERSION AS OF 'v00002' AS pt_again")
      }
    } finally {
      engine.sql("DROP TABLE IF EXISTS pt"); ()
    }
  }

  test("RETAIN / SHOW VERSIONS / SNAPSHOT: time travel over the SQL " +
      "surface — a training run can pin and re-read the exact corpus " +
      "version it consumed") {
    engine.sql("DROP TABLE IF EXISTS tt")
    engine.sql("CREATE COLSTORE tt AS SELECT n_nationkey AS id FROM " +
      "nation WHERE n_nationkey < 3")
    try {
      assert(engine.sql("RETAIN 2 VERSIONS ON tt").head.getString(0)
        .contains("retaining last 2"))
      engine.sql("DELETE FROM tt WHERE id = 0") // v2: 1, 2
      engine.sql("DELETE FROM tt WHERE id = 1") // v3: 2 (v1 swept)
      val versions = engine.sql("SHOW VERSIONS ON tt").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq
      assert(versions.map(_._1) == Seq("v00002", "v00003"))
      assert(versions.filter(_._2).map(_._1) == Seq("v00003"))
      // the pinned snapshot reads the OLD state while the live table moved
      assert(engine.sql("SNAPSHOT tt VERSION AS OF 'v00002' AS tt_then")
        .head.getString(0).contains("v00002"))
      assert(engine.sql("SELECT id FROM tt_then ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 2))
      assert(engine.sql("SELECT id FROM tt ORDER BY id").collect()
        .map(_.getInt(0)).toSeq == Seq(2))
      // a swept version is a crisp error, not a silent empty view
      intercept[IllegalArgumentException] {
        engine.sql("SNAPSHOT tt VERSION AS OF 1 AS tt_gone")
      }
      // unbalanced quotes must not parse (the runQueryStmt discipline)
      intercept[Exception] {
        engine.sql("SNAPSHOT tt VERSION AS OF 'v00002 AS tt_bad")
      }
      assert(!spark.catalog.tableExists("tt_bad"))
    } finally {
      engine.sql("DROP TABLE IF EXISTS tt")
      spark.catalog.dropTempView("tt_then"); ()
    }
  }

  test("streamed ingest REPLACES refresh: VectorStreams.ingest absorbs " +
      "the corpus delta live, the fresh tier never re-fills, and REFRESH " +
      "finds nothing to drain") {
    // the self-maintaining counterpart of the lifecycle test above: same
    // appendable corpus copy, but the delta reaches the index THROUGH the
    // streaming ingest twin instead of a batch REFRESH — the production
    // posture where vectors are indexed as they arrive, not reconciled
    // nightly. Done = after the stream, s104's fresh tier is empty, s105
    // counts zero fresh, and REFRESH appends exactly 0 vectors.
    import java.nio.file.{Files => F, Paths}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corp = F.createTempDirectory("graft_vidx_si").toString
    spark.read.parquet(s"$d/embeddings.parquet")
      .write.parquet(s"$corp/embeddings.parquet")
    Graft.tableNames.filterNot(_ == "embeddings").foreach { t =>
      F.createSymbolicLink(Paths.get(s"$corp/$t.parquet"),
        Paths.get(s"$d/$t.parquet")); ()
    }
    val wh = Files.createTempDirectory("graft_vidx_si_wh").toString
    val e1 = new Engine(spark, corp, wh)
    def freshCount: Long = {
      val h = SparkEntry.queries("s105_index_health")(spark, corp).head()
      h.getLong(h.fieldIndex("n_fresh"))
    }
    def servedTiers: Set[String] =
      SparkEntry.queries("s104_delta_search")(spark, corp).collect()
        .map(_.getString(2)).toSet
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val emb = spark.read.parquet(s"$corp/embeddings.parquet")
      val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
      val nDelta = math.max((emb.count() * 7) / 100, 10L)
      val delta = emb.filter(col("vec_id") < nDelta)
        .withColumn("vec_id", col("vec_id") + maxId + 1)
        .localCheckpoint()
      delta.write.mode("append").parquet(s"$corp/embeddings.parquet")
      assert(e1.sql("REFRESH CORPUS").head.getString(0)
        .contains("refreshed corpus"))
      assert(freshCount == nDelta, "stale index must show the delta")
      // the delta arrives as a STREAM, split across two micro-batches
      val rows = delta.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val cmds = e1.storage
      val src = MemoryStream[(Long, Seq[Float])]
      val q = streaming.VectorStreams.ingest(
        src.toDF().toDF("vec_id", "embedding"), cmds)
      try {
        src.addData(rows.take(rows.length / 2): _*)
        q.processAllAvailable()
        src.addData(rows.drop(rows.length / 2): _*)
        q.processAllAvailable()
      } finally q.stop()
      // the stream absorbed the delta: nothing fresh anywhere, and the
      // batch reconciliation has NOTHING left to do
      assert(freshCount == 0L, "streamed ingest left a fresh residue")
      assert(!servedTiers.contains("fresh"),
        "fresh tier still serving after streamed ingest")
      assert(e1.sql("REFRESH VECTOR INDEX ON embeddings").head.getString(0)
        .contains("(0 vectors appended)"),
        "REFRESH found residue the stream should have absorbed")
    } finally {
      e1.sql("DROP VECTOR INDEX ON embeddings")
      e1.close()
    }
  }

  test("STOP INGEST ... PURGE rotates the source directory: two " +
      "rotations, every document admitted exactly once — zero lost, " +
      "zero duplicated") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_rotate_wh").toString
    val e1 = new Engine(spark, d, wh)
    val dirA = Files.createTempDirectory("graft_rot_a").toString
    val dirB = Files.createTempDirectory("graft_rot_b").toString
    val dirC = Files.createTempDirectory("graft_rot_c").toString
    val fresh = Seq(
      "the amber lighthouse keeper walks a winding cliff path toward " +
        "the harbor beacon every misty evening",
      "a patient cartographer sketches the forgotten valley rivers " +
        "onto vellum beneath a flickering lantern glow",
      "an elderly clockmaker repairs the tower bells above the quiet " +
        "market square during every autumn festival week")
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      def drop(dir: String, id: Long, text: String): Unit =
        Seq(id -> text).toDF("doc_id", "text")
          .write.mode("append").parquet(dir)
      def admitted: Map[Long, Long] = e1.storage.table("ingest_verdicts")
        .filter(col("admitted")).groupBy(col("doc_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // crawl epoch 1: watch dirA
      drop(dirA, 7000001L, fresh(0))
      e1.sql(s"START ADMIT INGEST FROM '$dirA' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      assert(admitted == Map(7000001L -> 1L))
      // the crawl moves: PURGE retires checkpoint + source pin and
      // records the numbering floor; the same kind restarts on dirB
      assert(e1.sql("STOP INGEST gate PURGE").head.getString(0)
        .contains("purged"))
      drop(dirB, 7000002L, fresh(1))
      e1.sql(s"START ADMIT INGEST FROM '$dirB' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      assert(admitted == Map(7000001L -> 1L, 7000002L -> 1L),
        s"rotation 1 lost or duplicated: $admitted")
      // rotate AGAIN (floors must compound, not reset)
      e1.sql("STOP INGEST gate PURGE")
      drop(dirC, 7000003L, fresh(2))
      e1.sql(s"START ADMIT INGEST FROM '$dirC' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      assert(admitted ==
        Map(7000001L -> 1L, 7000002L -> 1L, 7000003L -> 1L),
        s"rotation 2 lost or duplicated: $admitted")
      e1.sql("STOP INGEST gate")
      // a RETIRED directory cannot be re-watched: its seen-files log
      // died with the purged checkpoint, so a fresh checkpoint would
      // reprocess every old file (duplicate codes/assign on the vector
      // side) — refused with the deliberate-override path named
      val retired = intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$dirA' AS gate")
      }
      assert(retired.getMessage.contains("retired"),
        s"wrong refusal: ${retired.getMessage}")
      // the guardrail the floor replaces: a fresh checkpoint over sink
      // tables that already carry markers, with NO floor, is the silent
      // data-loss mode — refused, not undefined. (Simulate a legacy
      // warehouse: checkpoint and floor wiped by hand; a NEVER-retired
      // directory so only the marker guard can fire.)
      import java.nio.file.{Files => F, Paths}
      def rmr(p: java.nio.file.Path): Unit = {
        if (F.isDirectory(p)) Option(p.toFile.listFiles())
          .getOrElse(Array.empty).foreach(f => rmr(f.toPath))
        F.deleteIfExists(p); ()
      }
      rmr(Paths.get(wh, "_ingest_ckpt", "admit"))
      F.deleteIfExists(Paths.get(wh, "_ingest_ckpt", "admit.src"))
      F.deleteIfExists(Paths.get(wh, "_ingest_ckpt", "admit.floor"))
      val dirD = Files.createTempDirectory("graft_rot_d").toString
      val refused = intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$dirD' AS gate")
      }
      assert(refused.getMessage.contains("swallow"),
        s"wrong refusal: ${refused.getMessage}")
    } finally {
      try e1.sql("DROP DEDUP INDEX ON documents")
      catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("VECTOR source rotation: STOP INGEST ... PURGE then a new " +
      "directory — every vector encoded exactly once across the " +
      "rotation, and a poisoned final batch (rejects-only marker) " +
      "still floors correctly") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_vrot_wh").toString
    val e1 = new Engine(spark, d, wh)
    val dirA = Files.createTempDirectory("graft_vrot_a").toString
    val dirB = Files.createTempDirectory("graft_vrot_b").toString
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val base = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("embedding")).head.getSeq[Float](0)
      def drop(dir: String, id: Long, emb: Seq[Float]): Unit =
        Seq(id -> emb).toDF("vec_id", "embedding")
          .write.mode("append").parquet(dir)
      def encoded: Map[Long, Long] = e1.storage
        .table(operators.VectorIndex.tableName("codes"))
        .filter(col("vec_id") >= 9400000L)
        .groupBy(col("vec_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // epoch 1: one clean vector, then a POISON-ONLY file — the last
      // committed marker for the kind lands on vector_ingest_rejects,
      // the case the floor must still clear
      drop(dirA, 9400001L, base.map(_ + 0.01f))
      e1.sql(s"START VECTOR INGEST FROM '$dirA' AS vgate")
      e1.ingestQuery("vgate").get.processAllAvailable()
      drop(dirA, 9400002L, Seq(1.0f, 2.0f)) // dim-mismatch: reject
      e1.ingestQuery("vgate").get.processAllAvailable()
      assert(encoded == Map(9400001L -> 1L))
      assert(e1.storage.table("vector_ingest_rejects").count() == 1L)
      e1.sql("STOP INGEST vgate PURGE")
      // epoch 2: rotate to dirB — nothing lost, nothing re-encoded
      drop(dirB, 9400003L, base.map(_ + 0.02f))
      e1.sql(s"START VECTOR INGEST FROM '$dirB' AS vgate")
      e1.ingestQuery("vgate").get.processAllAvailable()
      assert(encoded == Map(9400001L -> 1L, 9400003L -> 1L),
        s"vector rotation lost or duplicated: $encoded")
      val assigns = e1.storage
        .table(operators.VectorIndex.tableName("assign"))
        .filter(col("vec_id") >= 9400000L)
        .groupBy(col("vec_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(assigns == Map(9400001L -> 1L, 9400003L -> 1L),
        s"assign diverged from codes across rotation: $assigns")
      e1.sql("STOP INGEST vgate")
    } finally {
      try e1.sql("DROP VECTOR INDEX ON embeddings")
      catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("mid-PURGE crash recovery: a crash after the floor write REFUSES " +
      "a resume across the half-done rotation (the floor pin) and is " +
      "completed by re-running STOP ... FORCE PURGE; a crash after the " +
      "source retire heals the same way (purge is idempotent)") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val wh = Files.createTempDirectory("graft_pcrash_wh").toString
    val e1 = new Engine(spark, d, wh)
    val dirA = Files.createTempDirectory("graft_pc_a").toString
    val dirB = Files.createTempDirectory("graft_pc_b").toString
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    val freshC = "an elderly clockmaker repairs the tower bells above " +
      "the quiet market square during every autumn festival week"
    def admitted(e: Engine): Map[Long, Long] =
      e.storage.table("ingest_verdicts")
        .filter(col("admitted")).groupBy(col("doc_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(7200001L -> freshA).toDF("doc_id", "text")
        .write.mode("append").parquet(dirA)
      e1.sql(s"START ADMIT INGEST FROM '$dirA' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      // ── crash position A: PURGE died right after the floor write —
      // checkpoint, source pin and registration all survive, but the
      // kind's floor (1) now DISAGREES with the floor the checkpoint
      // pinned at creation (0). Resuming across that state is the
      // duplicate-replay window (a batch whose offsets were logged but
      // whose commit-log entry was unwritten would replay under SHIFTED
      // ids, past the sink markers) — the resume must be REFUSED and
      // the operator directed to complete the rotation.
      e1.close()
      val floorF = Paths.get(wh, "_ingest_ckpt", "admit.floor")
      F.writeString(floorF, "1")
      val e2 = new Engine(spark, d, wh)
      val pinBlock = intercept[IllegalArgumentException] {
        e2.sql(s"START ADMIT INGEST FROM '$dirA' AS gate")
      }
      assert(pinBlock.getMessage.contains("rotation"),
        s"wrong refusal: ${pinBlock.getMessage}")
      // documented recovery: complete the half-done rotation (idempotent
      // re-run), then watch a NEW directory — losslessly: everything the
      // old gate COMMITTED is in the sink tables; pending files move to
      // the new directory with the crawl
      e2.sql("STOP INGEST gate FORCE PURGE")
      assert(!F.isDirectory(Paths.get(wh, "_ingest_ckpt", "admit")),
        "completed purge must delete the checkpoint")
      Seq(7200002L -> freshB).toDF("doc_id", "text")
        .write.mode("append").parquet(dirB)
      e2.sql(s"START ADMIT INGEST FROM '$dirB' AS gate")
      e2.ingestQuery("gate").get.processAllAvailable()
      assert(admitted(e2) == Map(7200001L -> 1L, 7200002L -> 1L),
        s"half-done rotation recovery lost or duplicated: ${admitted(e2)}")
      // ── crash position B: PURGE died after retiring the source but
      // before deleting the checkpoint — registration still present
      // (it is removed LAST). The same-dir resume is now refused, and
      // the documented recovery — re-running the purge — completes it.
      e2.close()
      F.writeString(Paths.get(wh, "_ingest_ckpt", "admit.retired"),
        dirB + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      val e3 = new Engine(spark, d, wh)
      val blocked = intercept[IllegalArgumentException] {
        e3.sql(s"START ADMIT INGEST FROM '$dirB' AS gate")
      }
      assert(blocked.getMessage.contains("retired"))
      e3.sql("STOP INGEST gate FORCE PURGE") // idempotent completion
      assert(!F.isDirectory(Paths.get(wh, "_ingest_ckpt", "admit")),
        "re-run purge must finish deleting the checkpoint")
      // rotation now completes normally on a new directory, losslessly
      val dirC = Files.createTempDirectory("graft_pc_c").toString
      Seq(7200003L -> freshC).toDF("doc_id", "text")
        .write.mode("append").parquet(dirC)
      e3.sql(s"START ADMIT INGEST FROM '$dirC' AS gate")
      e3.ingestQuery("gate").get.processAllAvailable()
      assert(admitted(e3) ==
        Map(7200001L -> 1L, 7200002L -> 1L, 7200003L -> 1L),
        s"recovery lost or duplicated: ${admitted(e3)}")
      e3.sql("STOP INGEST gate")
      e3.close()
    } finally {
      try {
        val ec = new Engine(spark, d, wh)
        ec.sql("DROP DEDUP INDEX ON documents"); ec.close()
      } catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("ingest claim liveness: heartbeat_age_sec separates live gates " +
      "from dead claims; releasing a foreign claim requires FORCE; " +
      "legacy name-keyed registry entries stay readable and clearable") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_live_wh").toString
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_live_watch").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(7100001L -> ("the amber lighthouse keeper walks a winding " +
        "cliff path toward the harbor beacon every misty evening"))
        .toDF("doc_id", "text").write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      // a live gate's claim was touched by the batch it just ran
      val liveAge = e1.sql("SHOW INGESTS").collect().head.getLong(4)
      assert(liveAge >= 0L && liveAge < 120L,
        s"live heartbeat age implausible: $liveAge")
      // the session dies without STOP: the claim survives (resumable)
      e1.close()
      val e2 = new Engine(spark, d, wh)
      // bare STOP of a claim this session does not run is refused — it
      // may be a live gate in ANOTHER engine over this warehouse
      val needsForce = intercept[IllegalStateException] {
        e2.sql("STOP INGEST gate")
      }
      assert(needsForce.getMessage.contains("FORCE"))
      // age the claim: now the operator has evidence it is dead
      import java.nio.file.{Files => F, Paths}
      val claim = Paths.get(wh, "_ingest_registry", "kind.admit")
      assert(F.exists(claim), "kind-keyed claim file missing")
      F.setLastModifiedTime(claim, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 7200000L))
      val deadAge = e2.sql("SHOW INGESTS").collect().head.getLong(4)
      assert(deadAge >= 7000L, s"aged claim should read stale: $deadAge")
      assert(e2.sql("STOP INGEST gate FORCE").head.getString(0)
        .contains("cleared prior-session"))
      assert(e2.sql("SHOW INGESTS").isEmpty)
      // a LEGACY (pre-kind-keying) name-keyed entry: listed with its
      // kind, blocks a same-kind START, cleared by STOP ... FORCE
      F.writeString(Paths.get(wh, "_ingest_registry", "oldgate"),
        "ADMIT\t/legacy/dir")
      val listed = e2.sql("SHOW INGESTS").collect()
        .map(r => (r.getString(0), r.getString(2), r.getString(3)))
      assert(listed.toSeq == Seq(("oldgate", "admit", "/legacy/dir")))
      intercept[IllegalArgumentException] {
        e2.sql(s"START ADMIT INGEST FROM '$watch' AS gate2")
      }
      e2.sql("STOP INGEST oldgate FORCE")
      assert(e2.sql("SHOW INGESTS").isEmpty)
      e2.close()
    } finally {
      try {
        val e3 = new Engine(spark, d, wh)
        e3.sql("DROP DEDUP INDEX ON documents"); e3.close()
      } catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("kind-keyed claim race: two engines concurrently STARTing " +
      "same-kind gates under DIFFERENT names — exactly one wins (the " +
      "name-keyed TOCTOU this closes let both through)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_race_wh").toString
    val e1 = new Engine(spark, d, wh)
    val e2 = new Engine(spark, d, wh)
    val watchA = Files.createTempDirectory("graft_race_a").toString
    val watchB = Files.createTempDirectory("graft_race_b").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      def racer(e: Engine, watch: String, name: String) =
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            gate.await()
            try { e.sql(s"START ADMIT INGEST FROM '$watch' AS $name"); None }
            catch { case t: Throwable => Some(t) }
          }
        })
      val fa = racer(e1, watchA, "crawl_a")
      val fb = racer(e2, watchB, "crawl_b")
      gate.countDown()
      val (ra, rb) = (fa.get(120, TimeUnit.SECONDS),
        fb.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      val failures = Seq(ra, rb).flatten
      assert(failures.size == 1,
        s"exactly one racer must win the ADMIT kind; failures: " +
          failures.map(_.getMessage).mkString(" | "))
      // the loser's refusal names the single-writer conflict, and the
      // registry holds exactly ONE admit claim
      val reg = e1.sql("SHOW INGESTS").collect()
      assert(reg.length == 1 && reg.head.getString(2) == "admit",
        s"registry must hold exactly one claim: ${reg.toSeq}")
      val winner = reg.head.getString(0)
      assert(Set("crawl_a", "crawl_b").contains(winner))
      // winner's own engine can stop it; the loser engine never held it
      val owner = if (winner == "crawl_a") e1 else e2
      owner.sql(s"STOP INGEST $winner")
      assert(e1.sql("SHOW INGESTS").isEmpty)
    } finally {
      try e1.sql("DROP DEDUP INDEX ON documents")
      catch { case _: Throwable => () }
      e1.close(); e2.close()
    }
  }

  test("snapshot views self-restore: a durable pin re-registers its temp " +
      "view at engine construction — readable after restart without " +
      "re-issuing SNAPSHOT") {
    val wh = Files.createTempDirectory("graft_snaprestore_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("CREATE COLSTORE st AS SELECT n_nationkey AS id FROM " +
        "nation WHERE n_nationkey < 4")
      e1.sql("RETAIN 2 VERSIONS ON st") // keep v1 pinnable
      e1.sql("DELETE FROM st WHERE id = 0") // v2: 1,2,3
      e1.sql("SNAPSHOT st VERSION AS OF 'v00001' AS st_pin")
      assert(spark.table("st_pin").count() == 4L)
      // a RESTART = a new session + a new engine over the same warehouse
      // (temp views are session-scoped; the pin is durable)
      val s2 = spark.newSession()
      val e2 = new Engine(s2, d, wh)
      assert(s2.catalog.tableExists("st_pin"),
        "pin's view not restored at construction")
      assert(s2.table("st_pin").count() == 4L,
        "restored snapshot serves the wrong version")
      val snaps = e2.sql("SHOW SNAPSHOTS").collect()
        .map(r => (r.getString(0), r.getBoolean(3)))
      assert(snaps.toSeq == Seq(("st_pin", true)),
        s"SHOW SNAPSHOTS after restart: ${snaps.toSeq}")
      e2.sql("DROP SNAPSHOT st_pin")
      e2.close()
    } finally {
      engine.sql("DROP TABLE IF EXISTS st")
      e1.close()
    }
  }

  test("INSERT publishes a new version: a snapshot of the live version " +
      "keeps its rows through an INSERT and a restart") {
    val wh = Files.createTempDirectory("graft_insertpin_wh").toString
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("CREATE COLSTORE st AS SELECT n_nationkey AS id FROM " +
        "nation WHERE n_nationkey < 4")
      e1.sql("SNAPSHOT st VERSION AS OF 'v00001' AS st_pin")
      e1.sql("INSERT INTO st VALUES (100), (101)")
      val s2 = spark.newSession()
      val e2 = new Engine(s2, d, wh)
      assert(s2.table("st_pin").count() == 4L,
        "the INSERT wrote into the pinned version")
      assert(e2.sql("SELECT COUNT(*) FROM st").head.getLong(0) == 6L)
      val versions = e2.sql("SHOW VERSIONS ON st").collect()
        .map(_.getString(0)).toSeq
      assert(versions == Seq("v00001", "v00002"),
        s"SHOW VERSIONS after INSERT: $versions")
      e2.sql("DROP SNAPSHOT st_pin")
      e2.close()
    } finally {
      engine.sql("DROP TABLE IF EXISTS st")
      spark.catalog.dropTempView("st_pin")
      e1.close()
    }
  }


  test("SEARCH VECTORS ... DIVERSIFY ... OVER: the rerank pool width is " +
      "explicit — OVER at the default equals the default, OVER below " +
      "TOP is refused, a wider pool keeps the rank-1 relevance pick") {
    engine.sql("CREATE COLSTORE qov AS " +
      "SELECT a.vec_id AS q_id, " +
      "zip_with(a.embedding, b.embedding, (x, y) -> " +
      "(CAST(x AS DOUBLE) + CAST(y AS DOUBLE)) / 2) AS embedding " +
      "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 " +
      "WHERE a.vec_id BETWEEN 10 AND 19")
    try {
      // k=3 defaults the shortlist to max(10, 3k) = 10: OVER 10 must be
      // the identical plan and answer
      val dflt = engine
        .sql("SEARCH VECTORS USING qov TOP 3 DIVERSIFY 0.7").collect()
        .map(_.toSeq).toSet
      val over10 = engine
        .sql("SEARCH VECTORS USING qov TOP 3 DIVERSIFY 0.7 OVER 10")
        .collect().map(_.toSeq).toSet
      assert(dflt == over10, "OVER at the default changed the answer")
      // a wider pool may diversify differently, but rank-1 is the pure
      // relevance argmax of the SAME ADC scores — pool width cannot
      // change it (the shortlist is rel-sorted, any width >= 1 shares
      // its head)
      val over40 = engine
        .sql("SEARCH VECTORS USING qov TOP 3 DIVERSIFY 0.7 OVER 40")
        .collect()
      assert(over40.length == dflt.size, "OVER 40 changed the row count")
      def rank1(rows: Iterable[Seq[Any]]) = rows
        .filter(_(1) == 1).map(r => (r(0), r(2))).toSet
      assert(rank1(over40.map(_.toSeq)) == rank1(dflt),
        "pool width changed the rank-1 relevance pick")
      val narrow = intercept[IllegalArgumentException] {
        engine.sql("SEARCH VECTORS USING qov TOP 5 DIVERSIFY 0.7 OVER 4")
      }
      assert(narrow.getMessage.contains("narrower"))
    } finally engine.sql("DROP TABLE IF EXISTS qov")
  }

  test("malformed engine-only statements error crisply — never a silent " +
      "fallthrough to spark.sql (fuzzed quoting, keywords, case, " +
      "trailing junk)") {
    // every statement here LEADS with an engine-only keyword but matches
    // no engine form: the head guard must name it malformed; none may
    // reach spark.sql (whose parse errors would mislead, and whose
    // catalog DDL could silently half-execute a near-miss)
    val malformed = Seq(
      "STOP INGEST 'gate'", // quoted name
      "STOP INGEST gate PURGE FORCE", // clause order fixed by grammar
      "SNAPSHOT st VERSION AS OF 'v00001 AS s", // unbalanced quote
      "SNAPSHOT st AS s", // missing VERSION AS OF
      "RETAIN two VERSIONS ON st", // non-numeric k
      "RETAIN 2 VERSIONS st", // missing ON
      "VERIFY st twice", // trailing junk
      "CRASH AFTER BANANA", // unknown crash point
      "OPTIMIZE st ZORDER (a)", // missing BY
      "RUN QUERY 'q01_agg", // unbalanced quote
      "RUN QUERY q01_agg INTO 'quoted'", // quoted INTO target
      "SEARCH VECTORS USING t TOP 3 OVER 5", // OVER without DIVERSIFY
      "SEARCH VECTORS t", // missing USING
      "DECONTAM VECTORS USING t THRESHOLD high", // non-numeric
      "START ADMIT INGEST FROM /no/quotes AS g", // unquoted path
      "START VECTOR INGEST FROM 'd' COMPACT EVERY x BATCHES",
      "BUILD VECTOR INDEX embeddings", // missing ON
      "REFRESH DEDUP INDEX documents", // missing ON
      // USING <mode> belongs to BUILD VECTOR INDEX alone
      "BUILD DEDUP INDEX ON documents USING exact",
      "DROP VECTOR INDEX ON embeddings USING coarse",
      "REFRESH VECTOR INDEX ON embeddings USING coarse",
      "DROP SNAPSHOT", // missing name
      "DROP INDEX", // missing name
      "SHOW INGESTS WHERE kind = 'admit'", // engine SHOWs take no clauses
      "SHOW SNAPSHOTS LIKE 's%'",
      "LOAD 'x.csv' INTO", // missing table
      "LOAD x.csv INTO t", // unquoted path
      // round-11 serving/fence verbs — same head-guard contract
      "START SERVE VECTORS FROM '/d' TOP 3", // missing INTO
      "START SERVE VECTORS FROM d INTO t", // unquoted path
      "START SERVE VECTORS FROM '/d' INTO t DIVERSIFY 0.7 OVER", // no n
      "START DECONTAM VECTORS FROM '/d' INTO t THRESHOLD high",
      "STOP SERVE 'name'", // quoted name
      "STOP SERVE name FORCE", // serve takes PURGE only, never FORCE
      "RELEASE SINK t", // FORCE is mandatory - an un-FORCEd release
      //                   must never execute
      "RELEASE SINK 't' FORCE", // quoted name
      "SHOW SINKS WHERE owner = 'x'", // engine SHOWs take no clauses
      "SHOW SERVES LIKE 's%'")
    malformed.foreach { stmt =>
      val e = intercept[IllegalArgumentException](engine.sql(stmt))
      assert(e.getMessage.contains("malformed"),
        s"'$stmt' escaped the head guard: ${e.getMessage}")
    }
    // case-mixed and semicolon-trailing WELL-FORMED statements still
    // route to the engine (the guard must not over-trigger)
    assert(engine.sql("  sHoW   iNgEsTs ;  ").columns.head == "name")
    val noSuch = intercept[IllegalArgumentException] {
      engine.sql("sToP InGeSt never_started ;")
    }
    assert(noSuch.getMessage.contains("no ingest named"))
    // and plain Spark SQL still falls through untouched
    assert(engine.sql("SELECT 1 AS one").head.getInt(0) == 1)
  }
}
