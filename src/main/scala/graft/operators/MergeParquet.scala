package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction: the reference's `merge-pqs` command (east_asia.py:376-419) —
  * greedy bin-packing of per-file row counts into ≤ maxRows batches, then one
  * Hilbert-clustered ZSTD parquet file per batch with a lineage column.
  */
object MergeParquet {

  /** Greedy bin-pack (exact reference semantics, east_asia.py:382-393):
    * accumulate counts in the given order; when adding a file would exceed
    * `maxRows`, start a new batch. Driver-side planning over per-file counts
    * — at 100 TB this is a few thousand (path, count) rows, trivially
    * collectable. */
  def planBatches(fileCounts: Seq[(String, Long)], maxRows: Long): Seq[Seq[String]] = {
    val batches = Seq.newBuilder[Seq[String]]
    var current = Seq.newBuilder[String]
    var acc = 0L
    var empty = true
    fileCounts.foreach { case (f, n) =>
      if (!empty && acc + n > maxRows) {
        batches += current.result()
        current = Seq.newBuilder[String]
        acc = 0L
        empty = true
      }
      current += f
      acc += n
      empty = false
    }
    if (!empty) batches += current.result()
    batches.result()
  }

  /** Count rows per input file (the resp.json manifest the reference builds
    * with a separate DuckDB query, East-Asia-Building-Footprints.md:279-287). */
  def fileCounts(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] = {
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
  }

  /** Merge: per batch, union-scan the files, attach `source` lineage
    * (READ_PARQUET(filename=True) → `filename AS source`, east_asia.py:396-400),
    * and write one ~500MB-class Hilbert-ordered ZSTD file
    * (east_asia.py:401-408) through the clustered sink
    * ([[GeoNormalize.writeClustered]] with one file: its 4 MB row groups and
    * its GeoParquet `geo` footer).
    *
    * Each batch ends in one single-task write, which compresses every page
    * of its file on one core; `maxConcurrent` batches are submitted at once
    * from a bounded driver-side pool so those single-core tails overlap
    * instead of running back to back. Spark's scheduler interleaves the
    * stages (FIFO by default; a fair pool makes it even). */
  def merge(spark: SparkSession, inPaths: Seq[String], outDir: String,
      maxRows: Long = 10000000L, zstdLevel: Int = 22,
      maxConcurrent: Int = 4): Seq[String] = {
    val counts = fileCounts(spark, inPaths)
    val batches = planBatches(counts, maxRows)
    def writeBatch(files: Seq[String], i: Int): String = {
      val out = f"$outDir/merged_$i%04d"
      GeoNormalize.writeClustered(spark.read.parquet(files: _*)
        .withColumn("source", substring_index(input_file_name(), "/", -1)),
        out, numFiles = 1, zstdLevel = zstdLevel)
      out
    }
    Concurrency.mapBounded(batches.zipWithIndex, maxConcurrent) {
      case (files, i) => writeBatch(files, i)
    }
  }
}

/** Bounded-concurrency driver-side job submission. Spark jobs triggered
  * from different driver threads run concurrently on the cluster; the
  * bound keeps driver memory and scheduler pressure sane. */
private[graft] object Concurrency {
  def mapBounded[A, B](items: Seq[A], maxConcurrent: Int)(f: A => B): Seq[B] = {
    require(maxConcurrent >= 1)
    if (items.sizeIs <= 1 || maxConcurrent == 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, items.size))
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(a)
      }))
      futures.map(_.get()) // propagate the first failure
    } finally pool.shutdown()
  }
}
