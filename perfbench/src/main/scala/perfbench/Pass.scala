package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, Observation, PerfbenchAccess, Row, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Thrown when a call into the library throws: the rest of the pass
  * depends on its result, so the pass stops there.
  */
final class PassAborted(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

/** One pass of a workload: the sequence of calls into the library.
  *
  * Each call has three parts. `build` calls the library and returns
  * its result; `sink` consumes the result the way a user would
  * (collect a small answer, or write a large one to the noop sink);
  * `check` validates the consumed output against the planted truth.
  * Build and sink are timed; the check is the benchmark's own work, so
  * its wall and CPU time, including the tasks of any Spark job it runs,
  * are subtracted from the pass's totals.
  */
final class Pass(val id: Int, spark: SparkSession, tracer: Option[Tracer], taskCpu: TaskCpu) {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Per-batch latencies, for workloads that stream batches. */
  val batchSeconds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Quality ratios as (hits, total), summed over the pass. */
  val quality: mutable.LinkedHashMap[String, (Long, Long)] = mutable.LinkedHashMap.empty
  private var checkNanos = 0L
  private var checkCpuNanos = 0L
  private var checkTaskCpuNanos = 0L
  private val threads = ManagementFactory.getThreadMXBean
  private val passSpanId = tracer.map(_.newSpanId()).getOrElse(-1)
  private val passStartMs = System.currentTimeMillis

  def excludedNanos: Long = checkNanos
  def excludedCpuNanos: Long = checkCpuNanos
  def excludedTaskCpuNanos: Long = checkTaskCpuNanos

  def addQuality(name: String, hits: Long, total: Long): Unit = {
    val (h, t) = quality.getOrElse(name, (0L, 0L))
    quality(name) = (h + hits, t + total)
  }

  def call[A, B](layer: String, op: String)(build: => A)(sink: A => B)
                (check: B => Option[String]): B = {
    attempted += 1
    val group = s"perfbench-pass$id-call$attempted"
    val sc = spark.sparkContext
    tracer.foreach(_ => sc.setJobGroup(group, s"$layer $op", interruptOnCancel = false))
    val t0 = System.currentTimeMillis
    val out =
      try {
        val a = build
        val tb = System.currentTimeMillis
        val b = sink(a)
        tracer.foreach { t =>
          val sp = Span(t.newSpanId(), passSpanId, s"$layer $op", id, t0,
            System.currentTimeMillis)
          t.spans += sp
          t.calls += CallSpan(sp, layer, group, tb)
        }
        b
      } catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"$layer $op threw: $e"
          throw new PassAborted(s"$layer $op", e)
      } finally tracer.foreach(_ => sc.clearJobGroup())
    untimed {
      val verdict =
        try check(out)
        catch { case NonFatal(e) => Some(s"check threw: $e") }
      verdict.foreach { msg => failed += 1; failures += s"$layer $op: $msg" }
    }
    out
  }

  /** Runs benchmark-side work whose time is not the library's. */
  def untimed[T](f: => T): T = {
    val w0 = System.nanoTime
    val c0 = threads.getCurrentThreadCpuTime
    // task-end events of the timed work before this point are counted
    // first, so only the check's own tasks are set aside
    PerfbenchAccess.drainListenerBus(spark)
    val t0 = taskCpu.totalNanos
    try f
    finally {
      PerfbenchAccess.drainListenerBus(spark)
      checkTaskCpuNanos += taskCpu.totalNanos - t0
      checkCpuNanos += threads.getCurrentThreadCpuTime - c0
      checkNanos += System.nanoTime - w0
    }
  }

  /** Records the pass span once the pass ends (traced passes only). */
  def close(): Unit = tracer.foreach { t =>
    t.spans += Span(passSpanId, -1, s"pass $id", id, passStartMs, System.currentTimeMillis)
  }
}

/** Sinks: how a user consumes each kind of result. */
object Sink {
  def collect(df: DataFrame): Array[Row] = df.collect()

  /** Writes `df` to the noop sink, with in-plan observed counters that
    * feed the check without a second pass over the data.
    */
  def noop(df: DataFrame, counters: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, counters.head, counters.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get
  }
}
