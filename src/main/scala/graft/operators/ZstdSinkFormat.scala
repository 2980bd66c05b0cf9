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
import org.apache.parquet.hadoop.api.WriteSupport.FinalizedWriteContext
import org.apache.parquet.hadoop.codec.{CodecConfig, ZstandardCodec}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetWriteSupport}
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.geom.GeomLib

/** Spark's parquet sink with one zstd context per open file instead of one
  * per page — the format the clustered sink ([[GeoNormalize.sink]], behind
  * `writeClustered` and [[MergeParquet.merge]]) uses:
  * `df.write.format(ZstdSinkFormat.name)…save(out)`.
  *
  * Spark's writer compresses each page through parquet's
  * `CodecFactory.HeapBytesCompressor`, which opens a fresh
  * `ZstdOutputStream` per page. A level-22 stream of unknown size gets the
  * level's full match-finder geometry (window 2^27, chain 2^27, hash
  * 2^25): ~640 MB of tables allocated and zeroed, ~0.5 s of one core per
  * page, whatever the page's size. Here one `ZstdCompressCtx` per file
  * writer compresses every page of the file, each as its own frame of
  * unknown size (CONTINUE, then END), and is freed when the writer closes,
  * on commit and on abort alike. Before a page, the context's window,
  * chain and hash logs are cut to the page ([[ZstdSinkFormat.geometry]]):
  * the clamp zstd itself applies to an input of known size, floored at
  * its 128 KB block. A page then needs a few MB of tables, and every
  * frame holds the blocks the full geometry gives; only its header's
  * Window_Descriptor names the smaller window. The size is not pledged:
  * a pledged page of 256 KB or less would move onto zstd's small-input
  * parameter rows, which compress those pages worse.
  *
  * A file with a binary `geom` column also gets the public GeoParquet 1.1
  * `geo` footer key ([[GeoNormalize.geoFooterJson]]: per-file bbox and
  * geometry types), folded from the rows as they are written and merged
  * into the footer when the writer closes, before the commit protocol runs.
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
        ctx: TaskAttemptContext): OutputWriter = new FileWriter(path, dataSchema, ctx)
  }

  /** `ParquetOutputFormat.getRecordWriter` with the compressor swapped and,
    * for a binary `geom` column, [[GeoFooterSupport]] as the write support. */
  private final class FileWriter(file: String, dataSchema: StructType,
      ctx: TaskAttemptContext) extends OutputWriter {
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
      val geom = dataSchema.fields.indexWhere(f =>
        f.name == "geom" && f.dataType == BinaryType)
      val support =
        if (geom < 0) new ParquetWriteSupport else new GeoFooterSupport(geom)
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

  /** Spark's row encoding plus the file's `geo` footer key. Each row's
    * geometry is parsed once: its WKB type code joins the file's types
    * (codes outside 1..7 are dropped, as `geoFooterJson` drops them) and
    * its envelope widens the bbox. Null, empty and undecodable geometries
    * add no bbox; a file with none has no `bbox`. Bounds are compared as
    * Spark's `min`/`max` compare doubles (NaN above every number, -0.0
    * equal to 0.0, first seen kept on ties), so the key equals the one
    * those aggregates give over the written file. */
  private final class GeoFooterSupport(geom: Int) extends ParquetWriteSupport {
    private var types = 0 // bit t set: type code t seen
    private var box: Array[Double] = _ // xmin, ymin, xmax, ymax

    override def write(row: InternalRow): Unit = {
      if (!row.isNullAt(geom)) {
        val wkb = row.getBinary(geom)
        val t = GeomLib.wkbShapeType(wkb)
        if (t >= 1 && t <= 7) types |= 1 << t
        val g = GeomLib.readOrNull(wkb)
        if (g != null && !g.isEmpty) {
          val e = g.getEnvelopeInternal
          if (box == null) box = Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
          else {
            if (compareDoubles(e.getMinX, box(0)) < 0) box(0) = e.getMinX
            if (compareDoubles(e.getMinY, box(1)) < 0) box(1) = e.getMinY
            if (compareDoubles(e.getMaxX, box(2)) > 0) box(2) = e.getMaxX
            if (compareDoubles(e.getMaxY, box(3)) > 0) box(3) = e.getMaxY
          }
        }
      }
      super.write(row)
    }

    override def finalizeWrite(): FinalizedWriteContext =
      new FinalizedWriteContext(java.util.Map.of("geo", GeoNormalize.geoFooterJson(
        "geom", Option(box).map(b => (b(0), b(1), b(2), b(3))),
        (1 to 7).filter(t => (types & (1 << t)) != 0))))
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

  /** zstd 1.5's default (windowLog, chainLog, hashLog) for a frame of
    * unknown size, by level: `ZSTD_defaultCParameters[0]`. Level 0 is
    * zstd's default level 3, negative levels share row 0, and levels
    * above 22 are 22. */
  private val defaultRows: Array[(Int, Int, Int)] = Array(
    (19, 12, 13), (19, 13, 14), (20, 15, 16), (21, 16, 17), (21, 18, 18),
    (21, 18, 19), (21, 18, 19), (21, 19, 20), (21, 19, 20), (22, 20, 21),
    (22, 21, 22), (22, 21, 22), (22, 22, 23), (22, 22, 22), (22, 22, 23),
    (22, 23, 23), (22, 22, 22), (23, 23, 22), (23, 23, 22), (23, 24, 22),
    (25, 25, 23), (26, 26, 24), (27, 27, 25))

  /** The (windowLog, chainLog, hashLog) a page of `pageBytes` is compressed
    * with at `level`: the level's default row with the window cut to
    * ⌈log2 pageBytes⌉, but not below 17 (zstd's 128 KB block, so blocks
    * split where they did), and the chain and hash logs to one above the
    * window, as `ZSTD_adjustCParams` cuts them for a known size. Levels
    * 5–12 keep their hash log: their row match finder spreads positions
    * over 2^hashLog rows, so a smaller table changes the matches. */
  private[graft] def geometry(level: Int, pageBytes: Int): (Int, Int, Int) = {
    val (w, c, h) = defaultRows(if (level == 0) 3 else level.max(0).min(22))
    val need = 32 - Integer.numberOfLeadingZeros(math.max(pageBytes, 2) - 1)
    val win = w.min(need.max(17))
    (win, c.min(win + 1), if (level >= 5 && level <= 12) h else h.min(win + 1))
  }

  /** One zstd context for every page of one file. */
  private[graft] final class ZstdPages(level: Int, workers: Int)
      extends BytesInputCompressor {
    private val zc = new ZstdCompressCtx().setLevel(level).setWorkers(workers)
    contextsCreated.incrementAndGet()
    contextsOpen.incrementAndGet()
    private var src = ByteBuffer.allocateDirect(0)
    private var dst = ByteBuffer.allocateDirect(0)
    private var window = 0
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
      // a new geometry clears the tables (a few MB); an unchanged one lets
      // zstd carry them over to the next frame as they are
      val (w, chain, hash) = geometry(level, src.remaining)
      if (w != window) {
        zc.setWindowLog(w).setChainLog(chain).setHashLog(hash)
        window = w
      }
      // CONTINUE first leaves the frame's size unknown, as a stream's is,
      // so zstd starts from the level's default row and only the logs set
      // above differ: an END first pledges the page size, and zstd then
      // picks its small-input rows for pages of 256 KB or less (they
      // compress worse). No reset between frames: zstd-jni's reset() also
      // drops the level and the logs.
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
