package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one pass measured. */
final case class PassResult(id: Int, traced: Boolean, runS: Double, cpuS: Double,
                            driverCpuS: Double, taskCpuS: Double, processCpuS: Double,
                            heapPeakMb: Double, gcMs: Long, jitMs: Long, stealMs: Long,
                            codegenCompiles: Long, checkS: Double, load1: Double,
                            cachedFrames: Int, persistedRdds: Int, attempted: Int,
                            failed: Int, aborted: Boolean, batchSeconds: Seq[Double],
                            quality: Map[String, (Long, Long)], failures: Seq[String])

/** Driver-heap high-water mark after collections: the largest heap
  * occupancy any garbage collection left behind.
  */
object Heap {
  private val peak = new AtomicLong(0L)
  private val memory = ManagementFactory.getMemoryMXBean

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peak.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  /** Collects once more, so the pass's retained heap counts too. */
  def peakMb(): Double = {
    System.gc()
    peak.accumulateAndGet(memory.getHeapMemoryUsage.getUsed, math.max)
    peak.get / (1024.0 * 1024.0)
  }
}

/** CPU time of Spark's task threads, summed from task-end events:
  * the executor side of what the program itself computes. Attached for
  * the whole run; it only adds two counters per task.
  */
final class TaskCpu extends SparkListener {
  private val nanos = new AtomicLong(0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      nanos.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
    }

  def totalNanos: Long = nanos.get
}

object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time the hypervisor gave to other guests (Linux /proc/stat
    * steal ticks, 10 ms each); 0 where it cannot be read.
    */
  private def stealMs: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").lift(8).map(_.toLong * 10).getOrElse(0L)
      finally src.close()
    } catch { case NonFatal(_) => 0L }

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    require(Set("0", "1")(need("trace")), "--trace is 0 or 1")
    Opts(need("workload"), need("seed").toLong, seconds, need("trace") == "1",
      need("work"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime
    val o = parse(args)
    val workload = Workload(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    Heap.install()

    val spark = graft.GraftSession.build(master = s"local[$nproc]", appName = "perfbench")
    val taskCpu = new TaskCpu
    spark.sparkContext.addSparkListener(taskCpu)
    val sessionS = jvmUpS + (System.nanoTime - t0) / 1e9
    try run(spark, o, workload, nproc, sessionS, t0 - (jvmUpS * 1e9).toLong, taskCpu)
    finally spark.stop()
    sys.exit(0)
  }

  /** Counts what the pass left cached, then clears it so the next
    * pass starts from the same state.
    */
  private def cleanup(spark: SparkSession): (Int, Int) = {
    val left = (PerfbenchAccess.cachedFrames(spark),
      spark.sparkContext.getPersistentRDDs.size)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      // a block may already be gone when the frame that owned it is
      // uncached concurrently
      try rdd.unpersist(blocking = true)
      catch { case NonFatal(_) => }
    }
    left
  }

  /** One pass. `cpu_s` is the CPU time of the program's own threads:
    * the calling (driver) thread plus Spark's task threads, each less
    * the checks' share. JIT compiler and GC threads are left out; the
    * whole process's CPU time is kept beside it for comparison.
    */
  private def runPass(spark: SparkSession, w: Workload, id: Int, taskCpu: TaskCpu,
                      tracer: Option[Tracer]): PassResult = {
    // the previous pass ended with a full collection (Heap.peakMb)
    w.beforePass(spark)
    PerfbenchAccess.drainListenerBus(spark)
    Heap.reset()
    val load1 = os.getSystemLoadAverage
    val gc0 = gcMs
    val jit0 = jitMs
    val steal0 = stealMs
    val cg0 = PerfbenchAccess.codegenCompiles
    val t0 = taskCpu.totalNanos
    val d0 = threads.getCurrentThreadCpuTime
    val c0 = os.getProcessCpuTime
    val w0 = System.nanoTime
    val p = new Pass(id, spark, tracer, taskCpu)
    val aborted =
      try { w.pass(p); false }
      catch { case _: PassAborted => true }
    val wall = System.nanoTime - w0 - p.excludedNanos
    val processCpu = os.getProcessCpuTime - c0 - p.excludedCpuNanos - p.excludedTaskCpuNanos
    val driverCpu = threads.getCurrentThreadCpuTime - d0 - p.excludedCpuNanos
    val gc = gcMs - gc0
    val jit = jitMs - jit0
    val steal = stealMs - steal0
    val compiles = PerfbenchAccess.codegenCompiles - cg0
    PerfbenchAccess.drainListenerBus(spark)
    val taskCpuNanos = taskCpu.totalNanos - t0 - p.excludedTaskCpuNanos
    p.close()
    val heap = Heap.peakMb()
    val (frames, rdds) = cleanup(spark)
    PassResult(id, tracer.isDefined, wall / 1e9, (driverCpu + taskCpuNanos) / 1e9,
      driverCpu / 1e9, taskCpuNanos / 1e9, processCpu / 1e9, heap, gc, jit, steal, compiles,
      p.excludedNanos / 1e9, load1, frames, rdds, p.attempted, p.failed, aborted,
      p.batchSeconds.toSeq, p.quality.toMap, p.failures.toSeq)
  }

  /** A traced pass: the listeners are attached for this pass only and
    * drained before they are detached.
    */
  private def tracedPass(spark: SparkSession, w: Workload, id: Int, taskCpu: TaskCpu,
                         tracer: Tracer): PassResult = {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    try runPass(spark, w, id, taskCpu, Some(tracer))
    finally {
      PerfbenchAccess.drainListenerBus(spark)
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
  }

  private def run(spark: SparkSession, o: Opts, w: Workload, nproc: Int,
                  sessionS: Double, start: Long, taskCpu: TaskCpu): Unit = {
    val dir = s"${o.work}/${w.name}-${o.seed}"
    Files.delete(dir)
    val g0 = System.nanoTime
    w.setup(spark, o.seed, dir)
    val inputsS = (System.nanoTime - g0) / 1e9
    val warm0 = System.nanoTime
    val warm = runPass(spark, w, 0, taskCpu, None)
    val warmS = (System.nanoTime - warm0) / 1e9
    val setupS = (System.nanoTime - start) / 1e9

    val passes = mutable.ArrayBuffer(warm)
    val tracer = new Tracer
    val m0 = System.nanoTime
    def elapsed = (System.nanoTime - m0) / 1e9
    // measured passes until the window closes, at least one. With
    // --trace 1, traced passes alternate with untraced ones, which
    // open and close the window, so the passes' warm-up drift cancels
    // out of the tracing overhead.
    passes += runPass(spark, w, passes.size, taskCpu, None)
    while (elapsed < o.seconds || (o.trace && !passes.exists(_.traced))) {
      if (o.trace) passes += tracedPass(spark, w, passes.size, taskCpu, tracer)
      passes += runPass(spark, w, passes.size, taskCpu, None)
    }

    val report = Report(w, o, nproc, spark.version, sessionS, inputsS, warmS, setupS,
      passes.toSeq, if (o.trace) Some(tracer) else None)
    report.write()
    report.printTable()
    println(report.resultLine)
    Files.delete(dir)
  }
}
