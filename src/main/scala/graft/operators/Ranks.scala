package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Exact global rank at scale.
  *
  * `row_number().over(Window.orderBy(...))` with no partitionBy is the
  * classic scale-killer: Catalyst plans a single-partition Exchange and
  * ONE task sorts the whole input. This helper computes the identical
  * 1-based global rank with a range-partitioned sort plus
  * per-partition offsets, so every task sorts |rows|/p and no
  * single-partition window ever appears in the plan.
  *
  * Mechanics (fully inside the SQL engine — no RDD detour): the input
  * is range-partitioned and sorted within partitions on `order`, then
  * stamped with `monotonically_increasing_id()` — whose documented
  * layout is (partitionId << 33) + row-index-within-partition, i.e.
  * exactly (partition ordinal, intra-partition sorted position). The
  * stamped frame is PERSISTED so the partition layout is pinned once;
  * a tiny aggregate over the high bits yields per-partition row
  * counts, the driver prefix-sums them into offsets (p entries, a
  * plan literal), and the global rank is
  * `offset(pid) + low33(mid) + 1` — pure per-row arithmetic, no
  * second shuffle, no window, whole-stage-codegen throughout. The
  * r11 `.rdd + zipWithIndex` implementation computed the same thing
  * but paid an InternalRow->Row->InternalRow round-trip over the full
  * ranked input and severed Catalyst/AQE at the boundary.
  *
  * Correctness of the two passes: both the counts aggregate and the
  * returned frame read the SAME InMemoryRelation, so the partition
  * layout (and thus every pid/mid) is identical by construction; a
  * lost cached block recomputes through the relation's own fixed
  * lineage, reproducing the same sampled range boundaries. As long as
  * the order is TOTAL (callers must include a unique tie-break
  * column), the resulting rank is a pure function of the data.
  *
  * Ordering semantics are Spark SQL's own (UTF8String binary
  * comparison for strings, NaN-last / signed-zero-normalized doubles)
  * because the sort happens inside the SQL engine — the ranks agree
  * bit-for-bit with what `Window.orderBy(order)` would have produced.
  *
  * The persisted intermediate (the ranked input, narrow by
  * construction at the call sites) goes through [[Pins.persist]]: an
  * enclosing [[Pins.scoped]] releases it, otherwise it stays cached for
  * downstream reuse.
  */
object Ranks {

  private val Low33Mask = (1L << 33) - 1

  /** Append `rankCol` = the exact 1-based global rank of each row
    * under `order`. `order` must be a total order (include a unique
    * tie-break column); `parts` defaults to the session's shuffle
    * parallelism.
    */
  def globalRank(df: DataFrame, order: Seq[Column],
                 rankCol: String = "rnk", parts: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalRank needs at least one order column")
    val p0 = if (parts > 0) parts
             else math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val stamped = Pins.persist(df.repartitionByRange(p0, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__gr_mid", F.monotonically_increasing_id()))
    val pid = F.shiftrightunsigned(F.col("__gr_mid"), 33)
    // p rows after map-side partial aggregation — driver-small. The
    // counts group on spark_partition_id (the TRUE partition ordinal),
    // not the mid's high bits: monotonically_increasing_id allocates
    // only 33 bits to the intra-partition index, so a partition with
    // > 2^33 rows silently bleeds ids into the NEXT pid's space —
    // grouping on the decoded bits could never see the overflow (each
    // decoded pid tops out at 2^33 by construction). With no overflow
    // the two ids agree exactly; on overflow the true-pid count trips
    // the loud guard below instead of corrupting every rank.
    val counts = stamped
      // projected first: nondeterministic expressions are legal in a
      // Project but rejected inside a grouping expression
      .select(F.spark_partition_id().cast("long").as("__gr_pid"))
      .groupBy("__gr_pid")
      .agg(F.count(F.lit(1)).as("__gr_cnt"))
      .orderBy("__gr_pid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    counts.find(_._2 > Low33Mask + 1).foreach { case (p, c) =>
      throw new IllegalStateException(
        s"globalRank: partition $p holds $c rows, above the 2^33 " +
          s"monotonically_increasing_id intra-partition capacity — " +
          s"increase `parts` (currently $p0)")
    }
    var acc = 0L
    val offsets: Map[Long, Long] = counts.map { case (p, c) =>
      val entry = p -> acc; acc += c; entry
    }.toMap
    // offsets as a literal map lookup (p entries) — the coalesce is
    // unreachable (every pid present in the cache appears in counts)
    // but keeps the rank expression non-null for downstream schemas
    val offExpr =
      if (offsets.isEmpty) F.lit(0L)
      else F.coalesce(F.element_at(F.typedlit(offsets), pid), F.lit(0L))
    stamped
      .withColumn(rankCol,
        offExpr + F.col("__gr_mid").bitwiseAND(F.lit(Low33Mask)) + F.lit(1L))
      .drop("__gr_mid")
  }
}
