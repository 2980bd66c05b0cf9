package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard for CPU-heavy per-row kernels.
  *
  * A Spark stage's parallelism before its first shuffle is the SCAN's split
  * count — and parquet cannot split below one row group, so a small or
  * single-row-group file (a side corpus extract, a repro sample, the test
  * tables here) runs every pre-shuffle kernel in ONE task no matter how many
  * cores the cluster has. For the text/vector operators the pre-shuffle work
  * (shingling, MinHash/SimHash signatures, H3/Hilbert encodes, dot products)
  * is precisely the expensive part, so the gap between "1 task" and
  * "defaultParallelism tasks" is the whole machine.
  *
  * `Scatter(df)` repartitions round-robin to `defaultParallelism` ONLY when
  * the input's planned partition count is below it. At warehouse scale the
  * input already carries more splits than cores and this is a literal no-op
  * (no Exchange added, checked at plan time, no job run); at small scale the
  * one cheap shuffle of the raw rows buys back full parallelism for the
  * kernel stage. Never call it where a plan contract forbids an extra
  * Exchange (e.g. the incremental-dedup corpus side, whose no-shuffle plan
  * is asserted in ScalePlanSpec), nor where an exchange of the caller's
  * already sets the parallelism: `GeoNormalize.writeClustered` scatters
  * only when `numFiles <= 0`, since its range exchange otherwise does.
  * Reading the partition count plans the input's query (analysis,
  * optimization, code generation) on the driver once more.
  */
private[graft] object Scatter {
  def apply(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // planned scan partitioning; plan-time only, runs no job
    val have = df.rdd.getNumPartitions
    if (have >= want) df else df.repartition(want)
  }
}
