package graft.operators

import org.apache.spark.sql.DataFrame

/** Parquet physical-layout tuning beyond codec/row-group size: split-block
  * bloom filters on high-cardinality lookup keys.
  *
  * At 100 TB an id-probe ("is this doc_id / content hash already in the
  * corpus?") against plain parquet degenerates to scanning every row group
  * whose min/max straddles the key — for uniformly distributed hashes that
  * is EVERY row group, so the probe costs a full column scan. A per-row-
  * group bloom filter (parquet-format SBBF, written by parquet-mr from the
  * standard `parquet.bloom.filter.*` options) lets the reader drop row
  * groups on a few hash probes instead: the incremental-ingest dedup probe
  * and the similarity id-fetch both turn from scans into footer+filter
  * reads. False positives only cost a scan that would have happened anyway;
  * false negatives cannot occur.
  */
object ParquetTuning {

  /** Write `df` as parquet with bloom filters on `bloomCols`. `ndv` sizes
    * the filter (bits ≈ -ndv·ln(fpp)/ln(2)²; parquet-mr caps block size),
    * so pass the expected DISTINCT count at the target scale, not the
    * local row count. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
      ndv: Long, fpp: Double = 0.01): Unit = {
    val base = df.write.format("parquet").mode("overwrite")
    val w = bloomCols.foldLeft(base) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.bloom.filter.fpp#$c", fpp.toString)
    }
    w.save(path)
  }

  /** True iff EVERY row group of every parquet file under `dir` carries a
    * bloom filter for `column` — the write contract the gate pins. */
  def bloomPresentAll(dir: String, conf: org.apache.hadoop.conf.Configuration,
      column: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    files.nonEmpty && files.forall { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        blocks.nonEmpty && blocks.forall { rg =>
          rg.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .exists { cc =>
              val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(cc)
              bf != null
            }
        }
      } finally reader.close()
    }
  }
}
