package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** Lineage pinning for iterative loops — one shared implementation of
  * the per-round checkpoint/localCheckpoint pattern (the pageRank
  * plan-explosion fix) PLUS its missing half: deterministic release.
  *
  * `Dataset.unpersist()` only clears CacheManager entries (frames
  * pinned via `persist()`); an eager `localCheckpoint` parks its
  * MEMORY_AND_DISK blocks behind a `LogicalRDD` leaf that the
  * CacheManager never sees, so per-round `unpersist()` calls in a loop
  * are silent no-ops and every round's blocks linger until the
  * ContextCleaner happens to GC the RDD object — which a tight
  * iterative loop (5-8 rounds before any GC) easily outruns. At
  * cluster scale that is `rounds × |frontier|` of dead blocks
  * competing with the live working set.
  *
  * Lifetime: a frame pinned or persisted by an operator and still
  * held by its result (a pinned final round, a cached pair table)
  * belongs to the innermost open [[scoped]] block, which releases it
  * on exit — normal or exceptional. Outside any scope such frames
  * stay cached for downstream reuse, as `persist()` leaves them.
  */
object Pins {

  /** Release actions recorded by the innermost open scope. Threads
    * started inside a scope inherit it (DynamicVariable is
    * inheritable), so recording synchronizes on the buffer.
    */
  private val scope = new DynamicVariable[Option[ArrayBuffer[() => Unit]]](None)

  private def record(df: DataFrame)(free: DataFrame => Unit): DataFrame = {
    scope.value.foreach(s => s.synchronized(s += (() => free(df))))
    df
  }

  /** Run `body`, then release every frame [[pin]] and [[persist]]
    * recorded while it ran (newest first), also when it throws. Scopes
    * nest: an inner scope releases only its own frames. A result that
    * reads a released frame recomputes it or, for a pin, fails — so
    * consume results inside the scope.
    */
  def scoped[T](body: => T): T = {
    val frees = ArrayBuffer.empty[() => Unit]
    scope.withValue(Some(frees)) {
      try body
      finally frees.synchronized(frees.reverseIterator.foreach(_()))
    }
  }

  /** `df.persist()` (MEMORY_AND_DISK), recorded in the open scope. */
  def persist(df: DataFrame): DataFrame = record(df.persist())(_.unpersist())

  /** Row-count-derived partition count for iterative support frames
    * (optimization guide §2: derive partitioning from measured input
    * size, never a constant tuned for one deployment): ramps to full
    * parallelism once a frame has enough rows to be worth splitting
    * (~50k rows/task for the narrow rows these loops carry), then
    * keeps growing past core count for genuinely large frames
    * (~1M rows/task), so a 1e10-row frontier still gets thousands of
    * partitions. The small end is the measured problem: a toy graph's
    * cached supports inherit parallelism-many near-empty partitions,
    * and every round then pays parallelism-many task launches per map
    * stage — pageRank's 32-task map stages over a ~50k-row cached
    * edge frame burned ~28 s of summed task time to move 5 MB.
    */
  def partsForRows(rows: Long, parallelism: Int): Int = {
    val byCpu = math.min(parallelism.toLong, (rows + 49999) / 50000)
    val byVolume = (rows + 999999) / 1000000
    math.max(1L, math.max(byCpu, byVolume)).toInt
  }

  /** Rows below which an iterative loop's per-round small side (rank/
    * label/frontier tables — narrow rows by construction) is joined
    * with an explicit broadcast hint instead of a shuffle (guide §3.1:
    * pick the strategy deliberately; the checkpointed frames these
    * loops iterate carry NO size statistics, so the planner defaults
    * to sort-merge and re-shuffles the big cached side every round).
    * 1M narrow rows is tens of MB framed — comfortably under the
    * session's 64 MB autoBroadcast bar and far under the 8 GB hard
    * cap; above it the loop falls back to the planner's choice.
    */
  val BroadcastRows: Long = 1L << 20

  /** Eager lineage pin: a reliable checkpoint when the session has a
    * checkpoint dir (cluster deployments — survives executor loss),
    * else an eager localCheckpoint (single-JVM runs, where losing an
    * executor means losing the app anyway). Plain persist() is NOT
    * enough for a frame referenced more than once per round: the
    * logical plan doubles every iteration even though execution reads
    * the cache.
    */
  def pin(df: DataFrame): DataFrame = record(
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true))(release)

  /** Release a pinned (or persisted) frame's storage NOW. Walks the
    * analyzed plan for `LogicalRDD` leaves and unpersists their
    * backing RDDs directly — the blocks a localCheckpoint holds are
    * invisible to `Dataset.unpersist()`. The frame's data is
    * unrecoverable afterwards (its lineage was truncated at the pin),
    * so only release a round once its successor is eagerly pinned.
    * Reliable-checkpoint frames keep their checkpoint-dir files (the
    * RDD unpersist is a no-op there); persist()-backed frames release
    * through the plain unpersist.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }
  }
}
