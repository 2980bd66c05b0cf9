package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions.hilbert_of_geom

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
  def planBatches(fileCounts: Seq[(String, Long)], maxRows: Long): Seq[Seq[String]] =
    fileCounts.foldLeft(Vector.empty[(Vector[String], Long)]) {
      case (done :+ ((files, acc)), (f, n)) if acc + n <= maxRows =>
        done :+ ((files :+ f, acc + n))
      case (batches, (f, n)) => batches :+ ((Vector(f), n))
    }.map(_._1)

  /** Merge as one planned write. Planning runs no job: each input file's
    * row count (the reference's resp.json manifest,
    * East-Asia-Building-Footprints.md:279-287) comes from its footer, in
    * path order; zero-row files join no batch. The read schema comes from
    * the same footers, so the read runs no inference job; a `mergeSchema`
    * read when they disagree. The write tags each row with
    * its batch (a broadcast map on `_metadata.file_path`) and its `source`
    * file name (`filename AS source`, east_asia.py:396-400), gives each
    * batch one partition (`repartitionById`, which AQE does not coalesce),
    * Hilbert-sorts it, and writes through [[GeoNormalize.sink]]. Batch `i`
    * is one `part-….zstd.parquet` in `outDir/merged_batch=NNNN/` (`%04d`);
    * returns those directories in batch order. `maxConcurrent` is ignored:
    * batches are partitions of one job, not separately submitted jobs. */
  def merge(spark: SparkSession, inPaths: Seq[String], outDir: String,
      maxRows: Long = 10000000L, zstdLevel: Int = 22,
      maxConcurrent: Int = 4): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // an empty schema lists the inputs as the read does, without inferring
    val inputs = spark.read.schema(new StructType).parquet(inPaths: _*)
      .inputFiles.sorted.toSeq.map { f =>
        // Spark re-parses the path string into `_metadata.file_path`
        val path = new Path(new Path(new java.net.URI(f)).toString)
        val footer = RowGroupScan.footerOf(path.toString, conf)
        (path.toUri.toString, footer.getBlocks.asScala.map(_.getRowCount).sum,
          RowGroupScan.sparkSchemaOf(spark, path.toString, footer))
      }
    val batches = planBatches(inputs.collect { case (f, n, _) if n > 0 => f -> n }, maxRows)
    if (batches.isEmpty) return Nil
    // every footer's schema, not one file's: any disagreement merges them
    val all = inputs.map(_._3).distinct match {
      case Seq(schema) => spark.read.schema(schema).parquet(inPaths: _*)
      case _ => spark.read.option("mergeSchema", "true").parquet(inPaths: _*)
    }
    val ids = batches.indices.map(i => f"$i%04d")
    val batchOf = spark.sparkContext.broadcast(
      batches.zip(ids).flatMap { case (files, id) => files.map(_ -> id) }.toMap)
    val tag = udf((path: String) => batchOf.value(path))
    GeoNormalize.sink(all
      .withColumn("source", col("_metadata.file_name"))
      .withColumn("merged_batch", tag(col("_metadata.file_path")))
      .withColumn("__hk", hilbert_of_geom(col("geom")))
      .repartitionById(batches.size, col("merged_batch").cast("int"))
      // leading with the partition column meets the partitioned writer's
      // required ordering, so Spark adds no second sort
      .sortWithinPartitions("merged_batch", "__hk")
      .drop("__hk"), outDir, zstdLevel, partitionBy = Seq("merged_batch"))
    ids.map(id => s"$outDir/merged_batch=$id")
  }
}
