package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same epoch as Spark's listener timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Local properties that tie Spark jobs to the operation that launched
  * them (`op`) and to the part of the operation they ran in (`phase`). */
object Tags {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

/** Records jobs, stages, task metrics and Catalyst planning phases from
  * Spark's listener interfaces. Used only in traced runs; everything is
  * kept in memory and written out once the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val op: String, val phase: String,
      val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class Stage(val id: Int) {
    var start = -1L
    var end = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    val durations = ArrayBuffer.empty[Long]
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val phases = ArrayBuffer.empty[java.util.Map[String, Any]]

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, prop(Tags.Op), prop(Tags.Phase), e.time,
      e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.start = e.stageInfo.submissionTime.getOrElse(-1L)
      s.end = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.durations += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val rec = Seq[(String, Any)](
        "start" -> ph.values.map(_.startTimeMs).min,
        "end" -> ph.values.map(_.endTimeMs).max) ++
        ph.map { case (k, v) => k -> v.durationMs }
      phases.synchronized { phases += Json.obj(rec: _*) }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Everything recorded so far, after the listener bus has delivered
    * every pending event. */
  def dump(spark: SparkSession): java.util.Map[String, Any] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext, 30000L)
    val jobStage = jobs.values.asScala.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "op" -> j.op, "phase" -> j.phase,
        "start" -> j.start, "end" -> j.end)
    }
    val ss = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      s.synchronized {
        val d = s.durations.sorted
        Json.obj(
          "id" -> s.id, "job" -> jobStage.getOrElse(s.id, -1),
          "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
          "spill" -> s.spill, "input" -> s.input,
          "task_max_ms" -> d.lastOption.getOrElse(0L),
          "task_median_ms" -> (if (d.isEmpty) 0.0 else
            if (d.size % 2 == 1) d(d.size / 2).toDouble
            else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0))
      }
    }
    Json.obj("jobs" -> Json.list(js), "stages" -> Json.list(ss),
      "phases" -> Json.list(phases.synchronized(phases.toSeq)))
  }
}

/** An [[graft.Engine]] that records the time each client statement spends
  * inside `Engine.sql` and tags the Spark jobs the statement launches.
  * Statements are keyed by the serving thread and a per-thread sequence
  * number, which the benchmark's clients can reproduce from their side. */
final class TracedEngine(spark: SparkSession, dataDir: String,
    warehouse: String) extends graft.Engine(spark, dataDir, warehouse) {

  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val seq = new ConcurrentHashMap[String, Int]()
  private val recs = ArrayBuffer.empty[java.util.Map[String, Any]]

  override def sql(command: String): DataFrame = {
    if (depth.get > 0) return super.sql(command)
    val thread = Thread.currentThread.getName
    val n = seq.merge(thread, 1, (a: Int, b: Int) => a + b) - 1
    spark.sparkContext.setLocalProperty(Tags.Op, s"$thread#$n")
    val t0 = Clock.ms
    depth.set(1)
    try super.sql(command)
    finally {
      depth.set(0)
      val t1 = Clock.ms
      recs.synchronized {
        recs += Json.obj("thread" -> thread, "seq" -> n,
          "start" -> t0, "end" -> t1)
      }
    }
  }

  def records: java.util.List[Any] = recs.synchronized(Json.list(recs.toSeq))
}

/** Minimal JSON plumbing over the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def list(xs: Seq[Any]): java.util.List[Any] =
    new java.util.ArrayList[Any](xs.asJava)

  def read(path: String): java.util.Map[String, Any] =
    mapper.readValue(new java.io.File(path),
      classOf[java.util.Map[String, Any]])
  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}
