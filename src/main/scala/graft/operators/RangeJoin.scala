package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: pairs where `r.time ∈ [l.time + lower, l.time +
  * upper]` and the equality keys match — the time-windowed join Spark plans
  * as a nested-loop unless the range is turned into an equality key.
  *
  * Plan shape (the 100 TB consideration): Spark's optimizer turns a pure
  * inequality condition into BroadcastNestedLoopJoin — quadratic work and a
  * broadcast of a whole side. Instead time is quantized into buckets of
  * width = (upper - lower): a right row lands in exactly one bucket; a left
  * row's window then overlaps AT MOST TWO consecutive buckets, so the left
  * side explodes to ≤ 2 bucket keys and the join is a plain equality join
  * on (keys…, bucket) with a final exact range filter. Work is linear in
  * matches + bucket collisions, shuffles hash-partition by (key, bucket)
  * (time-locality also tames hot keys: one key's rows spread across its
  * time range), and AQE/skew handling applies as with any equi-join.
  */
object RangeJoin {

  /** @param on      equality key columns (same names both sides)
    * @param leftTs  left time column (integral — epoch micros/seconds/etc.)
    * @param rightTs right time column (same unit)
    * @param lower   window start offset relative to left time (inclusive)
    * @param upper   window end offset relative to left time (inclusive);
    *                must exceed `lower`
    * @return inner-join of left and right rows (all columns from both;
    *         non-key column names must not clash)
    */
  def intervalJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTs: String, rightTs: String, lower: Long, upper: Long): DataFrame = {
    require(on.nonEmpty, "interval join needs at least one equality key")
    require(upper > lower, s"need upper > lower, got [$lower, $upper]")
    val clashes = (left.columns.toSet -- on)
      .intersect(right.columns.toSet -- on)
    require(clashes.isEmpty, s"non-key columns clash across sides: $clashes")
    val w = upper - lower // bucket width == window span ⇒ ≤ 2 buckets/left row
    // exact floor division for any sign and ANY long magnitude: subtract the
    // non-negative pmod first, then divide the exact multiple with INTEGRAL
    // division (Catalyst IntegralDivide — long/long → long). Double division
    // would be exact only below 2^53; nanosecond-scale epochs (~2^61) would
    // silently land in wrong buckets and drop matches.
    def fdiv(c: org.apache.spark.sql.Column) = {
      val shifted = (c - pmod(c, lit(w))).cast("long")
      org.apache.spark.sql.graft.SparkInternals.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.graft.SparkInternals.expression(shifted),
          org.apache.spark.sql.graft.SparkInternals.expression(lit(w)),
          org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    }
    val lB = left.withColumn("__bkt", explode(sequence(
      fdiv(col(leftTs) + lower), fdiv(col(leftTs) + upper))))
    val rB = right.withColumn("__bkt", fdiv(col(rightTs)))
    lB.join(rB, on :+ "__bkt")
      .filter(col(rightTs) >= col(leftTs) + lower &&
        col(rightTs) <= col(leftTs) + upper)
      .drop("__bkt")
  }

  /** Interval-OVERLAP join: pairs where `[l.start, l.end] ∩ [r.start,
    * r.end] ≠ ∅` (inclusive bounds) and the equality keys match — the
    * genomics/temporal-span sibling of [[intervalJoin]] (two interval sets
    * instead of points against windows).
    *
    * Plan shape: both sides explode to the `bucketWidth`-quantized buckets
    * their interval covers and the join is a plain equality join on
    * (keys…, bucket). A pair whose intervals share k buckets would emit k
    * copies; instead of a quadratic-prone distinct, each pair is kept only
    * in the FIRST bucket both intervals cover — `bucket ==
    * max(firstBucket(l), firstBucket(r))`, a per-row filter, so every true
    * pair survives exactly once and dedup costs nothing.
    *
    * `bucketWidth` trades replication (rows per interval ≈ span/width + 1)
    * against bucket collision density — set it near the typical interval
    * span. Intervals covering more than `maxBucketsPerRow` buckets
    * (span ≫ width: the chromosome-length outlier among gene reads, the
    * week-long session among minutes) do NOT ride the explode — each side's
    * oversized subset is by nature small (bounded total span ÷ huge span),
    * so it takes a broadcast branch with the raw overlap predicate instead,
    * the oversized-container pattern of the spatial containment plan
    * (`SpatialJoinRewrite.containment`). Branches
    * partition the pair space (big×all, small×big, small×small) — no pair
    * is produced twice.
    *
    * Rows with null/inverted intervals (end < start) match nothing. */
  def overlapJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      leftStart: String, leftEnd: String, rightStart: String, rightEnd: String,
      bucketWidth: Long, maxBucketsPerRow: Int = 1024): DataFrame = {
    require(on.nonEmpty, "overlap join needs at least one equality key")
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(maxBucketsPerRow >= 1, s"maxBucketsPerRow must be >= 1: $maxBucketsPerRow")
    val clashes = (left.columns.toSet -- on).intersect(right.columns.toSet -- on)
    require(clashes.isEmpty, s"non-key columns clash across sides: $clashes")
    val w = bucketWidth
    def fdiv(c: org.apache.spark.sql.Column) = {
      val shifted = (c - pmod(c, lit(w))).cast("long")
      org.apache.spark.sql.graft.SparkInternals.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.graft.SparkInternals.expression(shifted),
          org.apache.spark.sql.graft.SparkInternals.expression(lit(w)),
          org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    }
    val overlaps = col(rightStart) <= col(leftEnd) && col(leftStart) <= col(rightEnd)
    def valid(s: String, e: String) =
      col(s).isNotNull && col(e).isNotNull && col(e) >= col(s)
    def spanOk(s: String, e: String) = fdiv(col(e)) - fdiv(col(s)) < maxBucketsPerRow
    val lOk = left.filter(valid(leftStart, leftEnd))
    val rOk = right.filter(valid(rightStart, rightEnd))
    val lSmall = lOk.filter(spanOk(leftStart, leftEnd))
    val rSmall = rOk.filter(spanOk(rightStart, rightEnd))
    val lBig = lOk.filter(!spanOk(leftStart, leftEnd))
    val rBig = rOk.filter(!spanOk(rightStart, rightEnd))
    val lB = lSmall.withColumn("__bkt",
      explode(sequence(fdiv(col(leftStart)), fdiv(col(leftEnd)))))
    val rB = rSmall.withColumn("__bkt",
      explode(sequence(fdiv(col(rightStart)), fdiv(col(rightEnd)))))
    val fine = lB.join(rB, on :+ "__bkt")
      // first-shared-bucket dedup: exactly one surviving copy per true pair
      .filter(col("__bkt") === greatest(fdiv(col(leftStart)), fdiv(col(rightStart))))
      .filter(overlaps)
      .drop("__bkt")
    // the coarse branches union UNCONDITIONALLY — they contribute zero rows
    // when no oversized interval exists, and gating them on an eager
    // isEmpty probe would cost up to two full-input Spark jobs at plan
    // construction (the probe scans to exhaustion precisely in the common
    // no-oversized case). At execution the broadcast side materializes
    // first and AQE's empty-relation propagation collapses the join (and
    // the big-side scan under it) when it comes back empty, so the
    // no-oversized case pays one linear filter pass, not a join.
    fine
      .unionByName(broadcast(lBig).join(rOk, on).filter(overlaps))
      .unionByName(lSmall.join(broadcast(rBig), on).filter(overlaps))
  }
}
