package krawlbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes every Spark job of a traced region to a program layer.
  *
  * A job is labelled from two things Spark records for it: the program call
  * site (the SQL execution's description, else the stage name, e.g.
  * `collect at CrawlPipeline.scala:508`) and, for writes, the table
  * directory the SQL execution inserts into (taken from the
  * `InsertIntoHadoopFsRelationCommand` arguments of the physical plan).
  * Task metrics are summed per label. `selfTimes` splits the region's wall
  * time over the labels active at each instant (concurrent jobs share the
  * instant equally); instants with no job running (planning, footer reads,
  * manifests) go to `pipeline.unattributed`, so the parts add up to the
  * wall time.
  */
final class Tracer extends SparkListener {

  final class Job(val label: String, val start: Long) { var end = -1L }

  final class Counters {
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var tasks = 0L
  }

  private val writeTarget =
    "InsertIntoHadoopFsRelationCommand\\s*\\nInput:[^\\n]*\\nArguments: ([^,\\s]+)".r
  /** SQL execution id -> (call site, write target). */
  private val execs = mutable.Map.empty[Long, (String, Option[String])]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val counters = mutable.Map.empty[String, Counters]
  private var markerJob = -1
  @volatile private var markerDone = false

  /** Wait (up to `timeoutMs`) until the asynchronous listener bus has
    * delivered every event posted so far: run a marker job and wait for its
    * end, which the bus delivers after all earlier events.
    */
  def settle(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Unit = {
    sc.setJobDescription(Tracer.Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Layer label of one job. Writes are told apart by target table; the
    * rest by the program file of the call site.
    */
  def label(callSite: String, target: Option[String]): String = target match {
    case Some(t) if t.contains("/url_seen_summary/data/") => "frontier.compact"
    case Some(t) if t.contains("/url_seen/data/") => "tables.url_seen_append"
    case Some(t) if t.contains("/results/data/") => "tables.results_append"
    case Some(t) if t.contains("/fetch_log/data/") => "tables.fetch_log_append"
    case _ if callSite.contains("BloomSeen.scala") ||
        callSite.contains("CuckooSeen.scala") => "frontier.filter_update"
    case _ if callSite.contains("CrawlOps.scala") => "frontier.compact"
    case _ if callSite.startsWith("collect at CrawlPipeline.scala") =>
      "pipeline.status_counts"
    case _ => "pipeline.other_jobs"
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.description,
        writeTarget.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1)))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == Tracer.Marker))
      markerJob = e.jobId
    else {
      // jobs of one SQL execution (adaptive query stages run on pool
      // threads without program frames) take the execution's call site
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execs.get(id.toLong))
      val site = exec.map(_._1).getOrElse(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      val l = label(site, exec.flatMap(_._2))
      jobs(e.jobId) = new Job(l, e.time)
      e.stageIds.foreach(stageLabel(_) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    if (e.jobId == markerJob) markerDone = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLabel.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters.getOrElseUpdate(l, new Counters)
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.tasks += 1
    }
  }

  /** Seconds per label over [t0, t1] (epoch ms), plus `pipeline.unattributed`. */
  def selfTimes(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val spans = jobs.values.toSeq.map(j => (j.label, math.max(j.start, t0),
      if (j.end < 0) t1 else math.min(j.end, t1))).filter(s => s._3 > s._2)
    val cuts = (spans.flatMap(s => Seq(s._2, s._3)) ++ Seq(t0, t1)).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val live = spans.filter(s => s._2 <= a && s._3 >= b).map(_._1).distinct
      val dt = (b - a) / 1000.0
      if (live.isEmpty) acc("pipeline.unattributed") += dt
      else live.foreach(l => acc(l) += dt / live.size)
    }
    acc.toMap
  }

  def counterMap: Map[String, Counters] = synchronized(counters.toMap)
}

object Tracer {
  /** Job description of the marker job `settle` runs. */
  val Marker = "krawlbench-trace-marker"
}
