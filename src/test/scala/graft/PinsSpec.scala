package graft

import graft.harmonize.Discovery
import graft.operators.{Par, Pins}
import org.apache.spark.sql.{functions => F}

import scala.jdk.CollectionConverters._

/** One lifecycle for persisted and pinned frames: what a
  * `Pins.scoped` block leaves behind (nothing), on success and on
  * failure, for the operators and for every wired query.
  */
class PinsSpec extends SparkSpec {

  /** What a leak leaves: CacheManager entries, persisted RDD ids and
    * live non-daemon threads. RDD ids and threads compare as SETS —
    * the ContextCleaner may drop unrelated entries concurrently.
    */
  private case class Held(cached: Int, rdds: Set[Int], threads: Set[Thread])

  private def held(): Held = Held(
    org.apache.spark.sql.CacheAccess.cachedFrames(spark),
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet)

  /** What is held now and was not at `before`, ignoring `allowedRdds`. */
  private def grown(before: Held, allowedRdds: Set[Int] = Set.empty): Seq[String] = {
    val now = held()
    Seq(
      Option.when(now.cached > before.cached)(
        s"${now.cached - before.cached} CacheManager entries"),
      Option.when((now.rdds -- before.rdds -- allowedRdds).nonEmpty)(
        s"persisted RDDs ${(now.rdds -- before.rdds -- allowedRdds).toSeq.sorted}"),
      Option.when((now.threads -- before.threads).nonEmpty)(
        s"non-daemon threads ${(now.threads -- before.threads).map(_.getName)}")
    ).flatten
  }

  test("Pins.scoped releases what it recorded; unscoped frames stay cached") {
    val df = spark.range(50).toDF("id")
    val outer = Pins.persist(df.where(F.col("id") > 1))
    val before = held()
    val (inner, nested) = Pins.scoped {
      val inner = Pins.persist(df.where(F.col("id") > 2))
      val nested = Pins.scoped {
        val pinned = Pins.pin(df.where(F.col("id") > 3))
        assert(pinned.count() == 46)
        Pins.persist(df.where(F.col("id") > 4))
      }
      // the inner scope released only its own frames
      assert(nested.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(inner.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(inner.count() == 47)
      (inner, nested)
    }
    assert(inner.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(grown(before).isEmpty, grown(before).mkString("; "))
    // outside any scope persist() behaves as it always did
    assert(outer.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    outer.unpersist()
  }

  test("Par.both: a throwing side leaves no thread and no cached frame behind") {
    val before = held()
    val e = intercept[IllegalStateException] {
      Pins.scoped {
        val kept = Pins.persist(spark.range(1000).toDF("id"))
        Par.both(kept.count(), throw new IllegalStateException("injected"))
      }
    }
    assert(e.getMessage == "injected")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-par-both"),
      "the side thread outlived Par.both")
    assert(grown(before).isEmpty, grown(before).mkString("; "))
    // both results come back when neither side fails
    assert(Par.both(1 + 1, "b") == ((2, "b")))
  }

  test("inclusionSketchGate: a failing side leaves no thread and no cached frame behind") {
    // the injected error fires while the two sides materialize
    // concurrently — before Par.both, the pool's non-daemon threads
    // and the three persisted frames outlived the exception
    val bad = spark.range(200).select(
      F.when(F.col("id") === 150, F.raise_error(F.lit("injected")))
        .otherwise(F.col("id")).as("v"))
    val good = spark.range(100).select(F.col("id").as("v"))
    val before = held()
    intercept[Exception] {
      Pins.scoped {
        Discovery.inclusionSketchGate(Seq(("A", bad, "v"), ("B", good, "v"))).collect()
      }
    }
    assert(grown(before).isEmpty, grown(before).mkString("; "))
  }

  test("leak gate: every wired query leaves nothing behind its Pins.scoped block") {
    val sfDir = "/root/testdata/sf0.001"
    def run(name: String): Seq[String] = {
      val before = held()
      val failed =
        try {
          Pins.scoped(SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save())
          None
        } catch { case e: Exception => Some(s"failed: ${e.getMessage.take(200)}") }
      failed.toSeq ++ grown(before)
    }
    val problems = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val first = run(name)
      // the process-level fixture memos (SparkEntry.capFrames and the
      // multimodal corpora) pin their blocks once per session by
      // design: persisted RDDs left by a first run must not grow on a
      // second one
      val memoOnly = first.nonEmpty && first.forall(_.startsWith("persisted RDDs"))
      (if (memoOnly) run(name) else first).map(p => s"$name: $p")
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
