package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness's rules that need no Spark session: the
  * GRAFT_CONF / GRAFT_AB parser and the session conf list. */
class HarnessConfSpec extends AnyFunSuite {

  test("confEntries trims entries and skips empty ones, so a trailing ';' is harmless") {
    assert(Graft.confEntries("GRAFT_CONF", " a.b = 1 ; c=x=y;; ") ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Graft.confEntries("GRAFT_CONF", "k=v;") == Seq("k" -> "v"))
    assert(Graft.confEntries("GRAFT_CONF", " ; ") == Nil)
  }

  test("confEntries rejects an entry that is not key=value, naming the variable") {
    for (bad <- Seq("novalue", "=v", "k=v;oops")) {
      val e = intercept[IllegalArgumentException](
        Graft.confEntries("GRAFT_CONF", bad))
      assert(e.getMessage.contains("GRAFT_CONF") &&
        e.getMessage.contains("key=value"), e.getMessage)
    }
  }

  test("abArms takes one conf with exactly two '|' arms") {
    assert(Bench.abArms("graft.opt.x=on|off") == (("graft.opt.x", "on", "off")))
    assert(Bench.abArms(" k = a | b ;") == (("k", "a", "b")))
    for (bad <- Seq("k=a", "k=a|b|c", "k=a|", "k=|b", "a|b", "k=a|b;j=c|d", "")) {
      val e = intercept[IllegalArgumentException](Bench.abArms(bad))
      assert(e.getMessage.contains("GRAFT_AB"), e.getMessage)
    }
  }

  test("normalizePlan masks run-order ids, so two runs' plans compare equal") {
    val run1 = "*(3) Project [a#12, b#7L]\n+- ShuffleQueryStage 4, plan_id=91"
    val run2 = "*(1) Project [a#40, b#2L]\n+- ShuffleQueryStage 2, plan_id=17"
    assert(Bench.normalizePlan(run1) ==
      "*(N) Project [a#, b#L]\n+- ShuffleQueryStage N, plan_id=")
    assert(Bench.normalizePlan(run2) == Bench.normalizePlan(run1))
  }

  test("sessionConfs: cleanCheckpoints on, partitions and advisory data-sized") {
    val sf001 = TestSpark.sfDir
    val sf01 = new java.io.File(sf001).getParent + "/sf0.01"
    for (d <- Seq(sf001, sf01); cpus <- Seq(4, 32)) {
      val confs = Graft.sessionConfs(cpus, d)
      assert(confs.map(_._1).distinct.size == confs.size, confs)
      val m = confs.toMap
      assert(m("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
      val (parts, advisory) = Graft.dataSizedConfs(d, cpus)
      assert(m("spark.sql.shuffle.partitions") == parts)
      assert(m("spark.sql.adaptive.advisoryPartitionSizeInBytes") == advisory)
    }
  }
}

/** [[Graft.prepare]] reports a failed index build instead of returning
  * silently, so Bench can list it and Verify can log it and go on. */
class PrepareSpec extends AnyFunSuite {

  test("prepare on a directory without embeddings.parquet reports the failure") {
    val spark = TestSpark.spark
    val empty = java.nio.file.Files.createTempDirectory("graft_noemb").toString
    val prep = Graft.prepare(spark, empty)
    assert(prep.failure.exists(_.contains("embeddings")), prep.failure)
    prep.release()
  }
}
