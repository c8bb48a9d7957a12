package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span of the traced pass. `parent` is -1 for a pass span. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
                      startMs: Long, endMs: Long)

/** One call into a layer, as the traced pass saw it. */
final case class CallSpan(span: Span, layer: String, group: String, buildEndMs: Long)

/** The eight per-layer metrics. */
final case class LayerStats(wallS: Double, buildS: Double, driverS: Double,
                            planMs: Double, jobs: Int, tasks: Int, taskS: Double,
                            shuffleMb: Double) {
  def +(o: LayerStats): LayerStats = LayerStats(wallS + o.wallS, buildS + o.buildS,
    driverS + o.driverS, planMs + o.planMs, jobs + o.jobs, tasks + o.tasks,
    taskS + o.taskS, shuffleMb + o.shuffleMb)
  def toMap: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"), ("build_s", buildS, "s"), ("driver_s", driverS, "s"),
    ("plan_ms", planMs, "ms"), ("jobs", jobs.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("task_s", taskS, "s"),
    ("shuffle_mb", shuffleMb, "MB"))
}

object LayerStats {
  val Zero: LayerStats = LayerStats(0, 0, 0, 0, 0, 0, 0, 0)
  val Names: Seq[String] = Zero.toMap.map(_._1)
}

/** Job record kept by the listener. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var tasks: Int = 0
  @volatile var taskMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
}

/** The traced pass's recorder: a SparkListener for jobs and tasks, a
  * QueryExecutionListener for planning time, and the span list. All
  * of it lives in the benchmark; the library is not instrumented.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** (first phase start ms, summed phase ms) per finished query. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val calls: mutable.ArrayBuffer[CallSpan] = mutable.ArrayBuffer.empty
  private var nextId = 0

  def newSpanId(): Int = synchronized { nextId += 1; nextId }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val rec = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs.toDouble).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Metrics of each recorded call. A job belongs to a call
    * when it carries the call's job group, or, lacking a group, when it
    * started inside the call. `driver_s` is the call's wall time not
    * covered by the union of its jobs' intervals, so driver time plus
    * job-covered time is the wall time by construction.
    */
  def callStats(): Seq[(CallSpan, LayerStats)] = synchronized {
    calls.toSeq.map { c =>
      val s = c.span.startMs
      val e = c.span.endMs
      val mine = jobs.values.filter { j =>
        if (j.group != null) j.group == c.group else j.startMs >= s && j.startMs <= e
      }.toSeq
      val wall = e - s
      val cov = Stats.covered(mine.map(j => (j.startMs, if (j.endMs < 0) e else j.endMs)), s, e)
      c -> LayerStats(
        wallS = wall / 1000.0,
        buildS = (c.buildEndMs - s) / 1000.0,
        driverS = (wall - cov) / 1000.0,
        planMs = plans.filter { case (ps, _) => ps >= s && ps <= e }.map(_._2).sum,
        jobs = mine.size,
        tasks = mine.map(_.tasks).sum,
        taskS = mine.map(_.taskMs).sum / 1000.0,
        shuffleMb = mine.map(_.shuffleWriteBytes).sum / 1e6)
    }
  }

  /** [[callStats]] summed per (pass, layer). */
  def layerStats(): Map[(Int, String), LayerStats] =
    callStats().groupBy { case (c, _) => (c.span.pass, c.layer) }
      .map { case (k, cs) => k -> cs.map(_._2).reduce(_ + _) }

  /** Spans (passes, calls, and the jobs under each call) as JSON lines. */
  def spanLines(): Seq[String] = synchronized {
    val jobSpans = calls.flatMap { c =>
      jobs.values.filter(_.group == c.group).map { j =>
        Span(-j.id, c.span.id, s"job ${j.id}", c.span.pass, j.startMs, j.endMs)
      }
    }
    (spans ++ jobSpans).map { s =>
      Report.json(scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }.toSeq
  }
}
