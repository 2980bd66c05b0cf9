package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence — the "users who bought X also bought Y"
  * aggregation (Linden et al. 2003, item-item collaborative filtering),
  * and in a curation pipeline the document-level co-citation /
  * co-mention signal. Input is a (basket, item) relation; output is the
  * top-k most co-occurring partners per item with exact counts.
  *
  * Scale shape: the pair set comes from a per-basket self-join, whose
  * blowup is quadratic in BASKET size, not corpus size — the one
  * scale-killer in this op is the hub basket (the order with 10⁶ items,
  * the page every crawler hits), so baskets larger than
  * `maxBasketSize` are dropped ENTIRELY before the join (dropping, not
  * sampling, keeps counts exact over the kept population and the
  * contract replayable; the cap is a published knob, and callers can
  * count dropped baskets cheaply from the same size aggregate). Pair
  * counts are combinable; the final per-item top-k is one window over
  * the (already aggregated) pair table, deterministically ordered by
  * (count desc, partner id asc).
  *
  * Duplicate (basket, item) rows collapse first — multiplicity within a
  * basket is presence, not weight, matching the set semantics of the
  * co-citation literature. Returns (item, rn, other, cnt), rn in 1..k. */
object CoOccur {

  def topCoOccur(baskets: DataFrame, basketCol: String, itemCol: String,
      topK: Int, maxBasketSize: Long = 1000L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2: $maxBasketSize")
    // one basket-keyed exchange feeds everything up to pair emission: the
    // (b,i) distinct, the basket-size cap aggregate, the size-cap semi
    // join, and BOTH sides of the per-basket self-join all require rows
    // co-located by `b` (hashpartitioning(b) satisfies each one's
    // clustered distribution), so repartitioning by `b` FIRST collapses
    // what was three exchanges of the basket rows — distinct on (b,i),
    // re-exchange by b for the size join, plus the size aggregate — into
    // a single shuffle of the input. It is a hot-key exposure: every row
    // of a hub basket reaches one reducer (its distinct and size count
    // run there) before the size cap below can drop the basket, so one
    // huge basket bounds this stage's slowest task; the cap keeps the
    // quadratic self-join bounded.
    val bi = baskets
      .select(col(basketCol).as("b"), col(itemCol).as("i"))
      .filter(col("b").isNotNull && col("i").isNotNull)
      .repartition(col("b"))
      .distinct()
    val kept = bi.join(
      bi.groupBy(col("b")).agg(count(lit(1)).as("_n"))
        .filter(col("_n") <= maxBasketSize).select(col("b")),
      Seq("b"))
    val pairs = kept
      .join(kept.select(col("b"), col("i").as("j")), Seq("b"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cnt").desc, col("j"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("i").as("item"), col("rn"), col("j").as("other"),
        col("cnt"))
  }
}
