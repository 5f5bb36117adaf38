package perfbench

import scala.collection.mutable

import org.apache.spark.perfbenchbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What the listener saw for one job group: one traced call. */
final case class GroupStats(
    jobs: Seq[JobSeen], stages: Int, tasks: Int, taskSeconds: Double,
    mainStageSkew: Double, shuffleWriteBytes: Long, spillBytes: Long,
    bytesWritten: Long)

final case class JobSeen(callSite: String, seconds: Double)

/** Records job, stage and task events per job group. The benchmark sets
  * a fresh group around every traced call, so each call's work is read
  * back by its group name.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val sqlSites = mutable.Map.empty[Long, String]
  private val completedStages = mutable.Map.empty[String, Set[Int]]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // jobs of one SQL action (adaptive execution submits each shuffle
    // stage as a job of its own) take the action's call site
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = Job(group, site, e.time)
    e.stageIds.foreach(s => stageGroup(s) = group)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlSites(s.executionId) = s.description }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    completedStages(g) = completedStages.getOrElse(g, Set.empty) + e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += Task(e.stageId,
        e.taskInfo.duration / 1000.0, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  def stats(group: String): GroupStats = synchronized {
    val ts = tasks.getOrElse(group, mutable.ArrayBuffer.empty).toSeq
    val byStage = ts.groupBy(_.stage)
    val skew =
      if (byStage.isEmpty) 0.0
      else {
        val main = byStage.values.maxBy(_.map(_.seconds).sum).map(_.seconds).sorted
        val med = Stats.median(main)
        if (med > 0) main.last / med else 0.0
      }
    val js = jobs.values.filter(_.group == group).toSeq.sortBy(_.start)
      .map(j => JobSeen(j.callSite, math.max(0L, j.end - j.start) / 1000.0))
    GroupStats(js, completedStages.getOrElse(group, Set.empty).size, ts.size,
      ts.map(_.seconds).sum, skew, ts.map(_.shuffleWrite).sum,
      ts.map(_.spill).sum, ts.map(_.written).sum)
  }
}

object LayerListener {
  private final case class Task(stage: Int, seconds: Double, shuffleWrite: Long,
      spill: Long, written: Long)
  private final case class Job(group: String, callSite: String, start: Long,
      var end: Long = -1L)
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, jobs: Seq[JobSeen])

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. Every traced call runs under its
  * own Spark job group, named after the span, so the listener can
  * attribute its jobs.
  */
final class Tracer(spark: SparkSession) {
  val listener = new LayerListener
  val cores: Int = spark.sparkContext.defaultParallelism
  spark.sparkContext.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val open = mutable.Stack[Int]()
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  private def nowMs: Double = System.currentTimeMillis().toDouble

  /** Runs `f` inside span `name`; returns its result, wall seconds and
    * the job-group statistics of the Spark work it started.
    */
  def span[T](name: String)(f: => T): (T, Double, GroupStats) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    val group = s"$name#$id"
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    // no group description: SQL actions then keep their call site as
    // their description, which is what attributes jobs to a layer
    sc.setJobGroup(group, null, interruptOnCancel = false)
    open.push(id)
    val start = nowMs
    val t0 = System.nanoTime()
    val r =
      try f
      finally {
        open.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, null, interruptOnCancel = false)
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val end = nowMs
    ListenerDrain.drain(sc)
    val st = listener.stats(group)
    spans += Span(id, parent, name, start, end, st.jobs)
    (r, sec, st)
  }

  def count(name: String, value: Double): Unit = counters(name) = value

  def toJson(workload: String, seed: Long, metrics: Map[String, Double]): String = {
    def str(s: String) = Json.str(s)
    val sp = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""jobs":[${s.jobs.map(j => s"[${str(j.callSite)},${Json.num(j.seconds)}]").mkString(",")}]}""")
    val cs = counters.map { case (k, v) => s"${str(k)}:${Json.num(v)}" }
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${Json.num(v)}" }
    s"""{"workload":${str(workload)},"seed":$seed,""" +
      s""""spans":[${sp.mkString(",")}],"counters":{${cs.mkString(",")}},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
