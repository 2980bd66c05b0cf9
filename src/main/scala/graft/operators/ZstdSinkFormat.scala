package graft.operators

import java.nio.ByteBuffer
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.github.luben.zstd.{EndDirective, Zstd, ZstdCompressCtx}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.compression.CompressionCodecFactory.BytesInputCompressor
import org.apache.parquet.hadoop.{CodecFactory, MemoryManager, ParquetFileWriter,
  ParquetOutputFormat, ParquetRecordWriter, ParquetWriter}
import org.apache.parquet.hadoop.codec.{CodecConfig, ZstandardCodec}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Spark's parquet sink with one zstd context per open file instead of one
  * per page — the format both zstd sinks ([[GeoNormalize.writeClustered]],
  * [[MergeParquet.merge]]) write through:
  * `df.write.format(ZstdSinkFormat.name)…save(out)`.
  *
  * Spark's writer compresses each page through parquet's
  * `CodecFactory.HeapBytesCompressor`, which opens a fresh
  * `ZstdOutputStream` per page. A new level-22 stream of unknown size
  * allocates and clears ~0.7 GB of match-finder tables: ~0.5 s of one core
  * per page, whatever the page's size. Here one `ZstdCompressCtx` per file
  * writer compresses every page of the file, each as its own frame of
  * unknown size (CONTINUE, then END — the frames and parameters the stream
  * path writes, without the re-allocation), and is freed when the writer
  * closes, on commit and on abort alike.
  *
  * Everything else is Spark's: `prepareWrite` (schema conf, commit protocol,
  * `.zstd.parquet` extension), `ParquetWriteSupport` (row encoding, Spark's
  * footer keys), and parquet's `ParquetRecordWriter` with the block, page,
  * dictionary and writer-version settings `ParquetOutputFormat` reads from
  * the job conf, registered with parquet's `MemoryManager`. Codecs other
  * than ZSTD go to parquet's own `CodecFactory`. */
private[graft] class ZstdSinkFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    new ZstdSinkFormat.Writers(super.prepareWrite(spark, job, options, dataSchema))
}

private[graft] object ZstdSinkFormat {
  /** The `DataFrameWriter.format` name of the sink. */
  val name: String = classOf[ZstdSinkFormat].getName

  /** zstd contexts created, and still open, in this JVM. */
  private[graft] val contextsCreated = new AtomicLong
  private[graft] val contextsOpen = new AtomicInteger

  private final class Writers(parquet: OutputWriterFactory) extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String =
      parquet.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter = new FileWriter(path, ctx)
  }

  /** `ParquetOutputFormat.getRecordWriter` with the compressor swapped. */
  private final class FileWriter(file: String, ctx: TaskAttemptContext)
      extends OutputWriter {
    private val conf = ctx.getConfiguration
    private val compressor: BytesInputCompressor =
      CodecConfig.from(ctx).getCodec match {
        case CompressionCodecName.ZSTD => new ZstdPages(
          conf.getInt(ZstandardCodec.PARQUET_COMPRESS_ZSTD_LEVEL,
            ZstandardCodec.DEFAULT_PARQUET_COMPRESS_ZSTD_LEVEL),
          conf.getInt(ZstandardCodec.PARQUET_COMPRESS_ZSTD_WORKERS,
            ZstandardCodec.DEFAULTPARQUET_COMPRESS_ZSTD_WORKERS))
        case other => new CodecFactory(conf, ParquetOutputFormat.getPageSize(conf))
          .getCompressor(other)
      }
    private val writer =
      try open()
      catch { case e: Throwable => compressor.release(); throw e }

    private def open(): ParquetRecordWriter[InternalRow] = {
      val support = new ParquetWriteSupport
      val wctx = support.init(conf)
      val path = new Path(file)
      val props = ParquetProperties.builder()
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .build()
      val blockSize = ParquetOutputFormat.getLongBlockSize(conf)
      val out = new ParquetFileWriter(HadoopOutputFile.fromPath(path, conf),
        wctx.getSchema, ParquetFileWriter.Mode.CREATE, blockSize,
        conf.getInt(ParquetOutputFormat.MAX_PADDING_BYTES,
          ParquetWriter.MAX_PADDING_SIZE_DEFAULT),
        ParquetOutputFormat.createEncryptionProperties(conf, path, wctx), props)
      out.start()
      new ParquetRecordWriter[InternalRow](out, support, wctx.getSchema,
        wctx.getExtraMetaData, blockSize, props.getPageSizeThreshold,
        compressor, props.getDictionaryPageSizeThreshold,
        props.isEnableDictionary, ParquetOutputFormat.getValidation(conf),
        props.getWriterVersion, memoryManager(conf))
    }

    override def path(): String = file
    override def write(row: InternalRow): Unit = writer.write(null, row)
    override def close(): Unit =
      try writer.close(ctx) finally compressor.release()
  }

  /** The pool Spark's writer registers with. Parquet creates it on the
    * first `ParquetOutputFormat` writer of the JVM; until then the sink
    * keeps one of its own, built the same way. */
  private var ownPool: MemoryManager = _
  private def memoryManager(conf: Configuration): MemoryManager = synchronized {
    Option(ParquetOutputFormat.getMemoryManager).getOrElse {
      if (ownPool == null) ownPool = new MemoryManager(
        conf.getFloat(ParquetOutputFormat.MEMORY_POOL_RATIO, 0.95f),
        conf.getLong(ParquetOutputFormat.MIN_MEMORY_ALLOCATION, 1L << 20))
      ownPool
    }
  }

  /** One zstd context for every page of one file. */
  private final class ZstdPages(level: Int, workers: Int) extends BytesInputCompressor {
    private val zc = new ZstdCompressCtx().setLevel(level).setWorkers(workers)
    contextsCreated.incrementAndGet()
    contextsOpen.incrementAndGet()
    private var src = ByteBuffer.allocateDirect(0)
    private var dst = ByteBuffer.allocateDirect(0)
    private var open = true

    override def getCodecName: CompressionCodecName = CompressionCodecName.ZSTD

    override def compress(bytes: BytesInput): BytesInput = {
      val in = bytes.toByteBuffer
      if (src.capacity < in.remaining) src = ByteBuffer.allocateDirect(in.remaining)
      src.clear()
      src.put(in).flip()
      val bound = Zstd.compressBound(src.remaining.toLong).toInt
      if (dst.capacity < bound) dst = ByteBuffer.allocateDirect(bound)
      dst.clear()
      // CONTINUE first leaves the frame's size unknown, as a stream's is:
      // an END first pledges the page size, and zstd then picks its
      // small-input parameters (pages compress worse). No reset between
      // frames: zstd-jni's reset() also drops the level.
      zc.compressDirectByteBufferStream(dst, src, EndDirective.CONTINUE)
      // END is done when it returns true; with workers > 0 it may return
      // early with room left, so grow only a full buffer
      while (!zc.compressDirectByteBufferStream(dst, src, EndDirective.END))
        if (!dst.hasRemaining) {
          val more = ByteBuffer.allocateDirect(dst.capacity * 2)
          dst.flip()
          dst = more.put(dst)
        }
      dst.flip()
      val out = new Array[Byte](dst.remaining)
      dst.get(out)
      BytesInput.from(out)
    }

    override def release(): Unit = if (open) {
      open = false
      zc.close()
      contextsOpen.decrementAndGet()
    }
  }
}
