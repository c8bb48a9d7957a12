package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

/** Dev-aid profiling main (guide §1): runs selected SparkEntry queries
  * through the noop sink with a SparkListener accumulating per-query
  * job/stage/task counts, summed task time, and shuffle bytes — the
  * empirical loop's first question ("is the time scheduling overhead,
  * shuffle, or compute?") answered without the UI (disabled in bench).
  *
  * Usage: runMain graft.ProfileQueries <sfDir> q1,q2,... [reps]
  */
object ProfileQueries {
  final class Acc {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val gettingResultMs = new AtomicLong
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      shufReadB.set(0); shufWriteB.set(0); gettingResultMs.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build(appName = "graft-profile-queries")
    val acc = new Acc
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        acc.jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        acc.stages.incrementAndGet()
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          val i = s.stageInfo
          val tm = i.taskMetrics
          val ms = if (tm != null) tm.executorRunTime else -1L
          val wall = (for (a <- i.submissionTime; b <- i.completionTime)
            yield (b - a) / 1e3).getOrElse(-1.0)
          println(f"  [stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"wall=${wall}%6.2f time=${ms / 1e3}%7.2fs gc=${if (tm != null) tm.jvmGCTime / 1e3 else 0.0}%5.1f " +
            f"shR=${if (tm != null) tm.shuffleReadMetrics.totalBytesRead / 1e6 else 0.0}%6.1f " +
            f"shW=${if (tm != null) tm.shuffleWriteMetrics.bytesWritten / 1e6 else 0.0}%6.1f  ${i.name.take(100)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        acc.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          acc.taskTimeMs.addAndGet(m.executorRunTime)
          acc.shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          acc.shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // warm-up identical to Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.{functions => F}
      val t = Tables(spark, sfDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part,
        t.orders, t.lineitem, t.events, t.documents, t.embeddings)
        .foreach(_.count())
      val warmed = t.documents.limit(64)
        .select(F.explode(graft.text.TextOps.shingles(
          graft.text.TextOps.tokens(F.col("text")), 3)).as("s"))
        .groupBy("s").count().count()
      require(warmed >= 0)
    }
    println(f"${"query"}%-28s rep  wall_s  jobs stages  tasks ttime_s shR_MB shW_MB")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { r =>
        acc.reset()
        spark.sparkContext.setJobDescription(s"profile:$n")
        val dt = operators.Pins.scoped {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // let queued listener events drain before reading the counters
        // (listenerBus is private[spark]; a short sleep suffices for a
        // dev aid — counters are advisory, wall time is the number)
        Thread.sleep(400)
        println(f"$n%-28s $r%3d ${dt}%7.2f ${acc.jobs.get}%5d ${acc.stages.get}%6d ${acc.tasks.get}%6d ${acc.taskTimeMs.get / 1e3}%7.2f ${acc.shufReadB.get / 1e6}%6.1f ${acc.shufWriteB.get / 1e6}%6.1f")
      }
    }
    spark.stop()
  }
}
