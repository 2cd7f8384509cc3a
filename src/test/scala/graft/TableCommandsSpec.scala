package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.commands.TableCommands

/** DDL/DML surface over a temp warehouse (SURVEY.md §2.8 parity:
  * CREATE/LOAD/INSERT/UPDATE/DELETE/DROP as copy-on-write Parquet ops). */
class TableCommandsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCmds(): TableCommands = freshCmdsAt()._1

  private def freshCmdsAt(): (TableCommands, String) = {
    val wh = Files.createTempDirectory("graft_wh").toString
    (new TableCommands(spark, wh), wh)
  }

  test("create / insert / read round-trip") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    c.insertInto("t", Seq((3, "c")).toDF("id", "v"))
    val got = c.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("create: error if exists, ignore with ifNotExists") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq(1).toDF("id"))
    intercept[Exception] { c.createTable("t", Seq(2).toDF("id")) }
    c.createTable("t", Seq(2).toDF("id"), ifNotExists = true) // no-op
    assert(c.table("t").as[Int].collect().toSeq == Seq(1))
  }

  test("loadCsv: CSV file -> columnar table (LOAD / CREATE COLSTORE parity)") {
    val c = freshCmds()
    val csv = Files.createTempFile("graft", ".csv")
    Files.writeString(csv, "id,name\n1,ann\n2,bob\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    c.loadCsv("people", csv.toString, schema)
    assert(c.table("people").count() == 2)
    assert(c.table("people").filter(col("name") === "ann").count() == 1)
  }

  test("update: copy-on-write rewrite changes only matching rows") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "bal"))
    c.update("t", col("id") === 2, Map("bal" -> (col("bal") + 5)))
    val got = c.table("t").orderBy("id").collect().map(_.getDouble(1))
    assert(got.toSeq == Seq(10.0, 25.0, 30.0))
  }

  test("update: SET expressions all read the OLD row (swap works)") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq((1, 10, 20)).toDF("id", "a", "b"))
    c.update("t", col("id") === 1, Map("a" -> col("b"), "b" -> col("a")))
    val r = c.table("t").head()
    assert((r.getInt(1), r.getInt(2)) == (20, 10), "swap must not chain")
  }

  test("analyze: registers catalog table and computes real column stats") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("stats_t", (1 to 500).map(i => (i, s"v$i")).toDF("id", "v"))
    c.analyze("stats_t")
    val stats = spark.sql("DESCRIBE EXTENDED stats_t id")
      .filter(col("info_name") === "distinct_count").collect()
    // ANALYZE's NDV is HLL-approximate; 500 distinct -> within ~5%
    assert(stats.nonEmpty, "no column stats recorded")
    val ndv = stats.head.getString(1).toLong
    assert(ndv > 450 && ndv <= 510, s"implausible distinct_count $ndv")
    spark.sql("DROP TABLE IF EXISTS stats_t")
  }

  test("delete: copy-on-write keeps survivors; null cond rows survive") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq((1, Some(5)), (2, None), (3, Some(9)))
      .toDF("id", "x"))
    c.delete("t", col("x") > 6) // x=null -> cond null -> NOT deleted (SQL)
    val ids = c.table("t").select("id").as[Int].collect().toSet
    assert(ids == Set(1, 2))
  }

  test("drop: removes table; strict mode errors on missing") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("t", Seq(1).toDF("id"))
    c.dropTable("t")
    intercept[Exception] { c.table("t").collect() }
    intercept[IllegalArgumentException] { c.dropTable("t", ifExists = false) }
  }

  test("manifest swap: crash-staged versions are invisible and swept") {
    import spark.implicits._
    val (c, wh) = freshCmdsAt()
    c.createTable("t", Seq(1, 2, 3).toDF("id"))
    c.update("t", col("id") === 3, Map("id" -> lit(30)))
    // exactly one live version + the pointer; the superseded one is swept
    val listed = new java.io.File(s"$wh/t").list().sorted.toSeq
    assert(listed == Seq("CURRENT", "VERSIONS", "v00002"), s"got $listed")
    // simulate a writer that crashed AFTER staging a full version directory
    // but BEFORE publishing the pointer: readers must not see it
    Seq(99).toDF("id").write.parquet(s"$wh/t/v00003")
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 30))
    // the next rewrite publishes atomically and sweeps the orphan
    c.delete("t", col("id") === 1)
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(2, 30))
    assert(!new java.io.File(s"$wh/t/v00003").exists)
  }

  test("crash between staging and pointer move: old version still served, " +
      "orphan swept by next rewrite") {
    import spark.implicits._
    val (c, wh) = freshCmdsAt()
    c.createTable("t", Seq(1, 2, 3).toDF("id"))
    c.crashPoint = Some("staged")
    intercept[IllegalStateException] {
      c.update("t", col("id") === 3, Map("id" -> lit(30)))
    }
    // the un-published stage is inert: readers see the pre-crash data
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(new java.io.File(s"$wh/t/v00002").exists, "stage dir should remain")
    // the next (successful) rewrite publishes and sweeps the orphan
    c.update("t", col("id") === 3, Map("id" -> lit(31)))
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 31))
    val listed = new java.io.File(s"$wh/t").list().sorted.toSeq
    assert(listed == Seq("CURRENT", "VERSIONS", "v00003"), s"got $listed")
  }

  test("crash between pointer move and sweep: new version served, stale " +
      "versions swept by next rewrite") {
    import spark.implicits._
    val (c, wh) = freshCmdsAt()
    c.createTable("t", Seq(1, 2, 3).toDF("id"))
    c.crashPoint = Some("published")
    intercept[IllegalStateException] {
      c.delete("t", col("id") === 1)
    }
    // pointer moved before the crash: the delete IS visible...
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(2, 3))
    // ...and the superseded version survived the skipped sweep
    assert(new java.io.File(s"$wh/t/v00001").exists, "pre-image not swept yet")
    // any later rewrite sweeps all superseded versions
    c.delete("t", col("id") === 2)
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(3))
    val listed = new java.io.File(s"$wh/t").list().sorted.toSeq
    assert(listed == Seq("CURRENT", "VERSIONS", "v00003"), s"got $listed")
  }

  test("createIndex: bucketed re-cluster makes the keyed join exchange-free") {
    import spark.implicits._
    val c = freshCmds()
    c.createTable("idx_t", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    c.createIndex("idx_t", "id", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("idx_t_by_id")
      val joined = t.as("a").join(t.as("b"), col("a.id") === col("b.id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"indexed join should be shuffle-free:\n$plan")
      assert(joined.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS idx_t_by_id")
    }
  }

  test("transactions: ROLLBACK restores pre-images, COMMIT sweeps them") {
    import spark.implicits._
    val (c, wh) = freshCmdsAt()
    def read() = c.table("t").as[Int].collect().sorted.toSeq
    c.createTable("t", Seq(1, 2, 3).toDF("id"))
    c.begin()
    c.update("t", col("id") === 1, Map("id" -> lit(10)))
    c.insertInto("t", Seq(4).toDF("id"))
    assert(read() == Seq(2, 3, 4, 10)) // txn sees its own writes
    c.rollback()
    assert(read() == Seq(1, 2, 3)) // pointer restored from pre-image
    c.begin()
    c.delete("t", col("id") === 2)
    c.commit()
    assert(read() == Seq(1, 3))
    // after the commit sweep exactly one version remains
    assert(new java.io.File(s"$wh/t").list().count(_.startsWith("v")) == 1)
    intercept[IllegalArgumentException] { c.commit() } // no open txn
  }

  test("verify + optimize: integrity scan and file compaction") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    c.createTable("t", spark.range(100).toDF("id").repartition(8))
    assert(c.verifyTable("t") == 100)
    def dataFiles() = new java.io.File(c.dataPath("t"))
      .list().count(f => f.endsWith(".parquet"))
    assert(dataFiles() > 1)
    c.optimizeTable("t", targetPartitions = 1)
    assert(c.verifyTable("t") == 100)
    assert(dataFiles() == 1, "compaction should leave one data file")
    assert(c.table("t").as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  test("TupleServer: serves result rows to a client socket as CSV") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b,with comma"), (3, null: String))
      .toDF("id", "v")
    val h = graft.commands.TupleServer.serve(df)
    val sock = new java.net.Socket("127.0.0.1", h.port)
    val lines = try {
      val src = scala.io.Source.fromInputStream(sock.getInputStream)
      try src.getLines().toList finally src.close()
    } finally sock.close()
    h.await(timeoutMs = 30000)
    assert(lines.head == "id,v")
    assert(lines.tail.toSet == Set("1,a", "2,\"b,with comma\"", "3,"))
  }

  test("explain: surfaces the physical plan with pushdown visible") {
    val c = freshCmds()
    import spark.implicits._
    c.createTable("t", (1 to 100).toDF("id"))
    val plan = c.explain(c.table("t").filter(col("id") > 50))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"))
  }

  test("OPTIMIZE ZORDER BY refuses more than 7 columns: an 8th column's " +
      "bucket bits would reach the 64-bit key's SIGN bit (negative z " +
      "keys sort before positive - a silently non-monotone layout)") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    c.createTable("zwide", spark.range(10).select(
      (0 until 8).map(i => (col("id") + i).as(s"c$i")): _*))
    val e = intercept[IllegalArgumentException](
      c.optimizeTable("zwide",
        zorderBy = (0 until 8).map(i => s"c$i")))
    assert(e.getMessage.contains("at most 7"), e.getMessage)
    c.optimizeTable("zwide", zorderBy = (0 until 7).map(i => s"c$i"))
    assert(c.table("zwide").count() == 10L)
    c.dropTable("zwide")
  }

  test("OPTIMIZE ZORDER BY: row-group stats prune selective filters on " +
      "BOTH clustered columns; the unclustered layout prunes neither") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    // a 200 × 1000 grid: two independent dimensions of one fact table —
    // the workload shape where a LINEAR sort can only serve one of them
    c.createTable("zt", spark.range(200000).select(
      (col("id") / 1000).cast("long").as("x"),
      (col("id") % 1000).cast("long").as("y"),
      col("id").as("payload")))
    // rows the SCAN emits (post row-group pruning, pre record filter) —
    // read from the executed plan's own counter, the ANALYZE walk
    def scanned(f: org.apache.spark.sql.Column): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      val qe = c.table("zt").filter(f).queryExecution
      qe.toRdd.foreach(_ => ())
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      walk(qe.executedPlan)
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    // baseline: plain compaction (round-robin) — every file spans the
    // full range of both columns, so nothing can be skipped
    c.optimizeTable("zt", targetPartitions = 64)
    assert(c.table("zt").filter(col("y") < 10).count() == 2000)
    assert(c.table("zt").filter(col("x") < 5).count() == 5000)
    val (by, bx) = (scanned(col("y") < 10), scanned(col("x") < 5))
    assert(by > 150000 && bx > 150000,
      s"random layout unexpectedly skipped ($by, $bx)")
    // z-ordered: each file covers a small (x, y) hyper-rectangle — the
    // SAME layout serves selective predicates on EITHER column
    c.optimizeTable("zt", targetPartitions = 64, zorderBy = Seq("x", "y"))
    assert(c.table("zt").filter(col("y") < 10).count() == 2000,
      "zorder changed the answer")
    assert(c.table("zt").filter(col("x") < 5).count() == 5000,
      "zorder changed the answer")
    val (zy, zx) = (scanned(col("y") < 10), scanned(col("x") < 5))
    assert(zy * 3 <= by, s"y-filter not pruned: $zy of $by")
    assert(zx * 3 <= bx, s"x-filter not pruned: $zx of $bx")
    // unknown column is a crisp error, not a silent plain compaction
    intercept[IllegalArgumentException] {
      c.optimizeTable("zt", zorderBy = Seq("nope"))
    }
  }

  test("OPTIMIZE ZORDER BY (numeric, string): the string column gets an " +
      "order-preserving prefix bucket — predicates on BOTH columns prune, " +
      "not just the numeric one") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    // 200 numeric keys x 26 string prefixes, independent dimensions
    c.createTable("zs", spark.range(208000).select(
      (col("id") / 1040).cast("long").as("x"),
      concat(
        expr("char(97 + CAST(id % 26 AS INT))"),
        lit("_tag_"), (col("id") % 1000).cast("string")).as("s"),
      col("id").as("payload")))
    def scanned(f: org.apache.spark.sql.Column): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      val qe = c.table("zs").filter(f).queryExecution
      qe.toRdd.foreach(_ => ())
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      walk(qe.executedPlan)
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    val sPred = col("s").startsWith("b")   // 1/26 of rows, string axis
    val xPred = col("x") < 5               // 1/40 of rows, numeric axis
    c.optimizeTable("zs", targetPartitions = 64)
    val nS = c.table("zs").filter(sPred).count()
    val nX = c.table("zs").filter(xPred).count()
    assert(nS == 8000 && nX == 5200)
    val (bs, bx) = (scanned(sPred), scanned(xPred))
    assert(bs > 150000 && bx > 150000,
      s"random layout unexpectedly skipped ($bs, $bx)")
    c.optimizeTable("zs", targetPartitions = 64, zorderBy = Seq("x", "s"))
    assert(c.table("zs").filter(sPred).count() == nS,
      "zorder changed the answer")
    assert(c.table("zs").filter(xPred).count() == nX,
      "zorder changed the answer")
    val (zs, zx) = (scanned(sPred), scanned(xPred))
    // the old try_cast path made the string column bucket 0 everywhere:
    // the layout degenerated to a linear x-sort and zs stayed ~bs
    assert(zs * 3 <= bs, s"string-prefix filter not pruned: $zs of $bs")
    assert(zx * 3 <= bx, s"numeric filter not pruned: $zx of $bx")
  }

  test("appendCommitted: exactly-once O(batch) appends — atomic version " +
      "link-forward, replay no-op, marker-carried, old data survives sweep") {
    import spark.implicits._
    val (c, wh) = freshCmdsAt()
    c.appendCommitted("a", Seq(1, 2).toDF("id"), 0L) // creates
    c.appendCommitted("a", Seq(3).toDF("id"), 1L)
    assert(c.table("a").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(c.lastCommittedBatch("a").contains(1L))
    // the append LINKED v1's files forward and the sweep removed v1 —
    // the shared inodes must keep serving rows 1, 2
    val dirs = new java.io.File(s"$wh/a").list().sorted.toSeq
    assert(dirs == Seq("CURRENT", "VERSIONS", "v00002"), s"got $dirs")
    // replays (same or older id) are no-ops even with different rows
    c.appendCommitted("a", Seq(99).toDF("id"), 1L)
    c.appendCommitted("a", Seq(98).toDF("id"), 0L)
    assert(c.table("a").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // a COW rewrite carries the stream marker forward (compaction
    // contract), so a replay AFTER an OPTIMIZE-style rewrite still skips
    c.delete("a", col("id") === 2)
    assert(c.lastCommittedBatch("a").contains(1L))
    c.appendCommitted("a", Seq(97).toDF("id"), 1L)
    assert(c.table("a").as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("version retention + time travel: RETAIN keeps the last k " +
      "published versions queryable; crashed stages and rolled-back " +
      "post-images are never history") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    c.createTable("t", Seq(1).toDF("id")) // v00001
    c.setRetain("t", 3)
    c.appendCommitted("t", Seq(2).toDF("id"), 0L) // v00002
    c.appendCommitted("t", Seq(3).toDF("id"), 1L) // v00003
    c.appendCommitted("t", Seq(4).toDF("id"), 2L) // v00004 → v00001 swept
    assert(c.versionHistory("t") == Seq("v00002", "v00003", "v00004"))
    def at(v: String): Seq[Int] =
      spark.read.parquet(c.snapshotPath("t", v)).as[Int]
        .collect().sorted.toSeq
    assert(at("2") == Seq(1, 2), "numeric version form")
    assert(at("v00003") == Seq(1, 2, 3), "vNNNNN version form")
    intercept[IllegalArgumentException] { c.snapshotPath("t", "1") }
    // a crash-staged orphan directory is NOT history (never logged)
    c.crashPoint = Some("staged")
    intercept[IllegalStateException] {
      c.update("t", col("id") === 4, Map("id" -> lit(40)))
    }
    assert(c.versionHistory("t") == Seq("v00002", "v00003", "v00004"))
    // a rolled-back post-image is NOT history (number above the restored
    // pointer), and the retained window survives the rollback intact
    c.begin()
    c.delete("t", col("id") === 2)
    c.rollback()
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(c.versionHistory("t") == Seq("v00002", "v00003", "v00004"))
    assert(at("2") == Seq(1, 2), "history unreadable after rollback")
  }

  test("storage model property: 150 seeded-random interleavings of every " +
      "commit path (append/insert exactly-once, replays, COW rewrites, " +
      "compaction, crashes, retention) always equal the reference model") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    val rnd = new scala.util.Random(42)
    c.createTable("t", Seq(0).toDF("id"))
    c.setRetain("t", 2) // retention active throughout: sweep must never
                        // eat the live state while keeping history
    var model = Vector(0)
    var next = 1 // unique row values
    var nextBatch = 0L
    def freshRows(n: Int): Seq[Int] = {
      val r = (next until next + n).toSeq; next += n; r
    }
    def check(step: Int, op: String): Unit = {
      val got = c.table("t").as[Int].collect().sorted.toSeq
      assert(got == model.sorted,
        s"step $step ($op): table $got != model ${model.sorted}")
    }
    for (step <- 1 to 150) {
      rnd.nextInt(9) match {
        case 0 => // exactly-once O(batch) append, new batch id
          val rows = freshRows(1 + rnd.nextInt(3))
          c.appendCommitted("t", rows.toDF("id"), nextBatch)
          model ++= rows; nextBatch += 1
          check(step, "append-new")
        case 1 => // replayed append (any already-committed id): no-op
          if (nextBatch > 0) {
            c.appendCommitted("t", freshRows(2).toDF("id"),
              rnd.nextLong(nextBatch))
            check(step, "append-replay")
          }
        case 2 => // plain versioned insert of new rows
          val rows = freshRows(1 + rnd.nextInt(3))
          c.insertInto("t", rows.toDF("id"))
          model ++= rows
          check(step, "insert-new")
        case 3 => // plain insert repeating present rows: no replay guard,
                  // so the copies land
          if (model.nonEmpty) {
            val rows = Seq.fill(2)(model(rnd.nextInt(model.length)))
            c.insertInto("t", rows.toDF("id"))
            model ++= rows
            check(step, "insert-repeat")
          }
        case 4 => // compaction: content-preserving rewrite
          c.optimizeTable("t", targetPartitions = 2)
          check(step, "optimize")
        case 5 => // COW delete of one present value
          if (model.nonEmpty) {
            val v = model(rnd.nextInt(model.length))
            c.delete("t", col("id") === v)
            model = model.filterNot(_ == v)
            check(step, "delete")
          }
        case 6 => // crash between stage and pointer, then the engine's
                  // replay of the SAME batch id lands it exactly once
          val rows = freshRows(2)
          c.crashPoint = Some("staged")
          intercept[IllegalStateException] {
            c.appendCommitted("t", rows.toDF("id"), nextBatch)
          }
          check(step, "append-crashed")
          c.appendCommitted("t", rows.toDF("id"), nextBatch)
          model ++= rows; nextBatch += 1
          check(step, "append-crash-retry")
        case 7 => // tail-only compaction at a random threshold:
                  // content-preserving whatever the big/small split is
          c.compactTail("t",
            thresholdBytes = 1L << (8 + rnd.nextInt(16)))
          check(step, "compact-tail")
        case 8 => // crashed tail compaction, then the gate's next
                  // trigger re-runs it — still content-preserving
          c.crashPoint = Some(
            if (rnd.nextBoolean()) "staged" else "published")
          try { c.compactTail("t", thresholdBytes = 1L << 12); () }
          catch { case _: IllegalStateException => () } // ≤1-file no-op
          c.crashPoint = None
          check(step, "compact-tail-crashed")
          c.compactTail("t", thresholdBytes = 1L << 12)
          check(step, "compact-tail-retry")
      }
    }
    // closing invariants: integrity scan agrees, history is on-disk and
    // bounded by the retention window, and the newest retained snapshot
    // is the live state
    assert(c.verifyTable("t") == model.length.toLong)
    val hist = c.versionHistory("t")
    assert(hist.size <= 2 && hist.nonEmpty)
    assert(spark.read.parquet(c.snapshotPath("t", hist.last))
      .as[Int].collect().sorted.toSeq == model.sorted)
  }

  test("appendCommitted: crash between stage and pointer leaves the old " +
      "version live; the retry (the engine's replay) lands the batch once") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    c.createTable("t", Seq(1, 2).toDF("id"))
    c.crashPoint = Some("staged")
    intercept[IllegalStateException] {
      c.appendCommitted("t", Seq(3).toDF("id"), 0L)
    }
    // un-published stage is inert: no marker visible, rows unchanged
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(c.lastCommittedBatch("t").isEmpty)
    // foreachBatch re-delivers the same batch: applied exactly once
    c.appendCommitted("t", Seq(3).toDF("id"), 0L)
    c.appendCommitted("t", Seq(3).toDF("id"), 0L)
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("version scheme past v99999: the six-digit rollover orders " +
      "numerically, never re-stages the live version, and history " +
      "survives the width change") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths, StandardCopyOption}
    val (c, wh) = freshCmdsAt()
    c.createTable("t", Seq(1, 2).toDF("id"))
    c.setRetain("t", 3)
    // simulate a long-running stream having reached v99999: rename the
    // version dir and rewrite the pointer + log (all plain text files)
    F.move(Paths.get(wh, "t", "v00001"), Paths.get(wh, "t", "v99999"),
      StandardCopyOption.ATOMIC_MOVE)
    F.writeString(Paths.get(wh, "t", "CURRENT"), "v99999")
    F.writeString(Paths.get(wh, "t", "VERSIONS"), "v99999\n")
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // the next commits must stage v100000/v100001 — with the old
    // exactly-5-digit match, nextVersion went blind past the rollover and
    // returned the LIVE version name, whose Overwrite stage deleted live
    // data; lexicographic ordering then read v100000 < v99999 and history
    // misordered across the width change
    c.appendCommitted("t", Seq(3).toDF("id"), 0L)
    assert(c.dataPath("t").endsWith("v100000"))
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    c.appendCommitted("t", Seq(4).toDF("id"), 1L)
    assert(c.dataPath("t").endsWith("v100001"))
    assert(c.table("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    // history is numerically ascending ACROSS the width change, and the
    // 5-digit version is still time-travelable inside the window
    assert(c.versionHistory("t") == Seq("v99999", "v100000", "v100001"))
    assert(spark.read.parquet(c.snapshotPath("t", "99999"))
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("snapshot pins: a pinned version survives RETAIN-lowering and " +
      "heavy writes; DROP's unpin makes it sweepable again") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val (c, wh) = freshCmdsAt()
    c.createTable("t", Seq(1, 2, 3).toDF("id"))      // v1
    c.setRetain("t", 2)
    c.delete("t", col("id") === 1)                   // v2: keep v1, v2
    val pinned = "v00002"
    c.pinVersion("t", "train_run_7", pinned)
    // pinning an un-retained version is a crisp error, not a dangling pin
    intercept[IllegalArgumentException] {
      c.pinVersion("t", "x", "v00099")
    }
    // RETAIN drops to 1 AND heavy writes rotate far past the pin: the
    // pinned directory must survive every sweep, because a registered
    // SNAPSHOT view reads it directly
    c.setRetain("t", 1)
    (1 to 4).foreach(i => c.appendCommitted("t", Seq(10 + i).toDF("id"), i.toLong))
    assert(F.isDirectory(Paths.get(wh, "t", pinned)),
      "sweep deleted a pinned version")
    assert(spark.read.parquet(c.snapshotPath("t", pinned))
      .as[Int].collect().sorted.toSeq == Seq(2, 3),
      "pinned training read diverged")
    // the pin is alias-keyed and durable: a NEW TableCommands over the
    // same warehouse (engine restart) still honors it
    val c2 = new TableCommands(spark, wh)
    c2.appendCommitted("t", Seq(99).toDF("id"), 9L)
    assert(F.isDirectory(Paths.get(wh, "t", pinned)),
      "restarted engine swept a pinned version")
    assert(c2.pins("t") == Seq("train_run_7" -> pinned))
    // a MALFORMED pins line (manual edit, partial copy) must be skipped,
    // never thrown: pins() sits on every sweep, hence every commit — a
    // MatchError here would make the whole table unwritable
    F.writeString(Paths.get(wh, "t", "PINS"),
      F.readString(Paths.get(wh, "t", "PINS")) + "garbage-no-tab\n")
    assert(c2.pins("t") == Seq("train_run_7" -> pinned),
      "malformed pins line not skipped")
    c2.appendCommitted("t", Seq(98).toDF("id"), 10L) // commits fine
    assert(c2.table("t").as[Int].collect().contains(98))
    // unpin releases it: the next rewrite sweeps the directory
    assert(c2.unpinAlias("t", "train_run_7"))
    assert(!c2.unpinAlias("t", "train_run_7"), "double-unpin must report false")
    c2.appendCommitted("t", Seq(100).toDF("id"), 11L)
    assert(!F.isDirectory(Paths.get(wh, "t", pinned)),
      "unpinned version not swept")
  }

  test("appendCommitted is O(batch), not O(table): a commit against a " +
      "large pre-seeded log hard-links the live data files instead of " +
      "rewriting them") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val (c, wh) = freshCmdsAt()
    // pre-seed a LARGE log (many partitions -> many data files); retain 2
    // so the pre-commit version survives for the inode comparison
    c.createTable("log", spark.range(200000).toDF("id")
      .repartition(16))
    c.setRetain("log", 2)
    val liveBefore = Paths.get(c.dataPath("log"))
    val dataFiles = Option(liveBefore.toFile.listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.toPath)
    assert(dataFiles.length >= 16)
    // one small batch commits: EVERY pre-existing data file must appear
    // in the new version as the SAME file (hard link, metadata-only) —
    // that is the structural proof the per-batch write cost is O(batch),
    // independent of total log size (the COW commit would rewrite all
    // 200k rows every batch, a per-batch cost growing with stream
    // lifetime)
    c.appendCommitted("log", Seq(900000L).toDF("id"), 0L)
    val liveAfter = Paths.get(c.dataPath("log"))
    assert(liveAfter != liveBefore)
    dataFiles.foreach { f =>
      val linked = liveAfter.resolve(f.getFileName)
      assert(F.exists(linked) && F.isSameFile(f, linked),
        s"live data file ${f.getFileName} was rewritten, not linked")
    }
    // and the new version adds only the batch's own files beyond the
    // linked set (+ marker/_SUCCESS metadata)
    val newData = Option(liveAfter.toFile.listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .filterNot(f => F.exists(liveBefore.resolve(f.getName)))
    assert(newData.nonEmpty && newData.length <= 4,
      s"batch wrote ${newData.length} fresh files for a 1-row append")
    assert(c.table("log").count() == 200001L)
  }

  test("compactTail is O(tail), not O(table): graduated segments ride " +
      "forward as hard links while only the small-file tail is rewritten") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val (c, _) = freshCmdsAt()
    // a large ALREADY-COMPACTED segment (one big file), then a stream of
    // tiny appendCommitted batches building a small-file tail — exactly
    // the state a long-running gate's table is in between compactions
    c.createTable("log", spark.range(300000).toDF("id").coalesce(1))
    c.setRetain("log", 2) // keep the pre-compaction version for the
    //                       inode comparison below
    (0 until 5).foreach(b =>
      c.appendCommitted("log",
        Seq(1000000L + b).toDF("id").coalesce(1), b.toLong))
    val liveBefore = Paths.get(c.dataPath("log"))
    def files(p: java.nio.file.Path) =
      Option(p.toFile.listFiles()).get.filter(f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    val before = files(liveBefore)
    val (bigBefore, tailBefore) = before.partition(_.length >= 100000L)
    assert(bigBefore.length == 1 && tailBefore.length == 5,
      s"fixture wrong: ${bigBefore.length} big + ${tailBefore.length} tail")
    // tail-only compaction: threshold sits between the segment (~MB) and
    // the 1-row tail files (~hundreds of bytes)
    assert(c.compactTail("log", thresholdBytes = 100000L))
    val liveAfter = Paths.get(c.dataPath("log"))
    assert(liveAfter != liveBefore)
    // THE cost-shape assertion: the graduated segment's file is the SAME
    // file (hard link, metadata-only) — an O(table) compactor would have
    // rewritten all 300k rows to merge 5 one-row files
    bigBefore.foreach { f =>
      val linked = liveAfter.resolve(f.getName)
      assert(F.exists(linked) && F.isSameFile(f.toPath, linked),
        s"graduated segment ${f.getName} was rewritten, not linked")
    }
    // the tail merged: its 5 files are gone, replaced by one small file
    val after = files(liveAfter)
    val (bigAfter, tailAfter) = after.partition(_.length >= 100000L)
    assert(bigAfter.length == 1 && tailAfter.length == 1,
      s"tail not merged: ${tailAfter.length} small files remain")
    tailBefore.foreach(f => assert(!F.exists(liveAfter.resolve(f.getName)),
      s"old tail file ${f.getName} rode forward unmerged"))
    // contents + replay cursor intact
    assert(c.table("log").count() == 300005L)
    assert(c.lastCommittedBatch("log").contains(4L),
      "compaction dropped the stream marker")
    // replay of an old batch stays a no-op after compaction
    c.appendCommitted("log", Seq(999L).toDF("id"), 2L)
    assert(c.table("log").count() == 300005L)
    // idempotent no-op when the tail is a single file already
    assert(!c.compactTail("log", thresholdBytes = 100000L),
      "a single-file tail must be a no-op, not a rewrite")
  }

  test("compactTail crash injection: a crash at STAGED leaves the old " +
      "version live; at PUBLISHED the new version serves and the next " +
      "commit sweeps — replays stay no-ops through both") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    c.createTable("log", spark.range(1000).toDF("id").coalesce(1))
    (0 until 3).foreach(b =>
      c.appendCommitted("log",
        Seq(5000L + b).toDF("id").coalesce(1), b.toLong))
    // crash BEFORE the pointer swap: the staged rewrite is invisible
    c.crashPoint = Some("staged")
    intercept[IllegalStateException] { c.compactTail("log", 100000L) }
    assert(c.table("log").count() == 1003L,
      "a staged-crashed compaction leaked into the live version")
    assert(c.lastCommittedBatch("log").contains(2L))
    // the gate's replay after restart: old batch no-op, new batch lands
    c.appendCommitted("log", Seq(5001L).toDF("id"), 1L) // replay
    c.appendCommitted("log", Seq(5003L).toDF("id").coalesce(1), 3L)
    assert(c.table("log").count() == 1004L)
    // the re-triggered compaction (next gate interval) succeeds and
    // sweeps the crashed stage
    assert(c.compactTail("log", 100000L))
    assert(c.table("log").count() == 1004L)
    // crash AFTER the pointer swap: the compacted version IS live (the
    // swap is the commit); only the sweep was lost, and the next commit
    // path heals it
    c.appendCommitted("log", Seq(5004L).toDF("id").coalesce(1), 4L)
    c.crashPoint = Some("published")
    intercept[IllegalStateException] { c.compactTail("log", 100000L) }
    assert(c.table("log").count() == 1005L,
      "published compaction must serve the compacted version")
    assert(c.lastCommittedBatch("log").contains(4L))
    c.appendCommitted("log", Seq(5004L).toDF("id"), 4L) // replay: no-op
    assert(c.table("log").count() == 1005L)
    c.appendCommitted("log", Seq(5005L).toDF("id").coalesce(1), 5L)
    assert(c.table("log").count() == 1006L)
  }

  test("OPTIMIZE ZORDER BY on a heavy-tailed numeric column: equi-depth " +
      "buckets keep pruning where uniform min/max buckets collapse " +
      "(one huge outlier key compresses every ordinary value)") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    // ordinary keys 0..199, plus 0.5% outlier rows at key 10^12: the
    // uniform quantizer's range is [0, 10^12], so ALL ordinary keys land
    // in bucket 0 and selective filters on them scan everything
    c.createTable("zh", spark.range(104000).select(
      when(col("id") % 200 === 199, lit(1000000000000L))
        .otherwise(col("id") % 200).as("k"),
      col("id").as("payload")))
    val pred = col("k") >= 40 && col("k") < 45 // 2.5% of ordinary rows
    val n = c.table("zh").filter(pred).count()
    assert(n == 2600L)
    c.optimizeTable("zh", targetPartitions = 64, zorderBy = Seq("k"))
    assert(c.table("zh").filter(pred).count() == n,
      "zorder changed the answer")
    def scanned(f: org.apache.spark.sql.Column): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      val qe = c.table("zh").filter(f).queryExecution
      qe.toRdd.foreach(_ => ())
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      walk(qe.executedPlan)
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    val z = scanned(pred)
    assert(z * 3 <= 104000,
      s"outlier key collapsed the layout: scanned $z of 104000")
  }

  test("OPTIMIZE ZORDER BY on non-ASCII strings: the surrogate-clamped " +
      "base-2^16 proxy stays monotone — answers unchanged, ASCII-prefix " +
      "pruning intact with BMP-high and astral rows in the table") {
    import spark.implicits._
    val (c, _) = freshCmdsAt()
    // 26 ASCII prefixes + BMP-high (U+E000 block, sorts after every
    // ASCII prefix) + astral (U+1F600, a surrogate pair in UTF-16) rows
    // interleaved through the whole id range
    c.createTable("zu", spark.range(104000).select(
      when(col("id") % 40 === 38,
        concat(lit("\uE000\uE001"), (col("id") % 97).cast("string")))
        .when(col("id") % 40 === 39,
          concat(lit("\uD83D\uDE00x"), (col("id") % 97).cast("string")))
        .otherwise(concat(
          expr("char(97 + CAST(id % 26 AS INT))"), lit("_"),
          (col("id") % 997).cast("string"))).as("s"),
      col("id").as("payload")))
    val total = c.table("zu").count()
    val asciiPred = col("s").startsWith("b")
    val bmpPred = col("s") >= "\uE000"
    val (nA, nB) = (c.table("zu").filter(asciiPred).count(),
      c.table("zu").filter(bmpPred).count())
    assert(nB == 5200L, s"fixture: $nB non-ASCII-bucket rows")
    c.optimizeTable("zu", targetPartitions = 64, zorderBy = Seq("s"))
    // correctness: the rewrite is a pure relayout under every alphabet
    assert(c.table("zu").count() == total)
    assert(c.table("zu").filter(asciiPred).count() == nA,
      "zorder changed an ASCII-prefix answer with unicode rows present")
    assert(c.table("zu").filter(bmpPred).count() == nB,
      "zorder changed the >= U+E000 answer")
    // monotonicity: an ASCII prefix filter still prunes even though
    // astral/BMP-high rows share the clamp ceiling bucket — if the proxy
    // inverted order anywhere, those rows would smear every file's
    // min/max range and kill pruning
    def scanned(f: org.apache.spark.sql.Column): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      val qe = c.table("zu").filter(f).queryExecution
      qe.toRdd.foreach(_ => ())
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      walk(qe.executedPlan)
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    val zA = scanned(asciiPred)
    assert(zA * 3 <= total,
      s"ASCII-prefix filter not pruned under unicode rows: $zA of $total")
  }
}
