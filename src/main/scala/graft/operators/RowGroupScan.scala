package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types._

/** Row-group-level data skipping: a footer index at ROW-GROUP granularity
  * plus a selective scan that reads only the matching row groups.
  *
  * File-level zone maps stop at file bounds: a 500 MB Hilbert-sorted
  * file whose [zmin, zmax] straddles the predicate is opened WHOLE even
  * though only a handful of its row groups intersect. The reference's entire physical design leans on small row
  * groups for exactly this reason (15 000-row groups — ref
  * east_asia.py:82, SURVEY §1.3): the pruning unit is the row group, not
  * the file. This object extends the log's own index to that granularity:
  *
  *  - [[buildWideIndex]] — one row per (file, row group, COLUMN) from the
  *    parquet footers only: min/max (numeric AND string), null counts,
  *    row counts, and the column's Spark type. One distributed task per
  *    file, no data pages touched. The log persists it as a stats/
  *    sidecar ([[TableLog.computeRowGroupIndex]]) so repeated reads open
  *    ZERO footers.
  *  - [[classify]] — the ONE row-group verdict: it folds index rows
  *    into a reject/full verdict per (file, rg) for every constraint at
  *    once. The log's planner runs it on the driver for a small
  *    snapshot and inside tasks (one hash partition of the index by
  *    file each) for a large one, so the driver holds only the kept
  *    slices. Null bounds keep conservatively (skipping may lose rows;
  *    keeping never does).
  *  - [[scanSlices]] — scans EXACTLY the kept row groups through Spark's
  *    own parquet reader (`ParquetFileFormat`, vectorized where the
  *    schema allows): each kept run of contiguous row groups becomes one
  *    byte-range split, and parquet hands a row group to the split that
  *    holds its midpoint. The constraints travel along as pushed source
  *    filters, so surviving groups still skip pages through the
  *    ColumnIndex. Optionally emits each row's FILE-ORDINAL position
  *    (`__graft_fn`, `__graft_ridx`, from the reader's row-index column)
  *    so deletion vectors apply to a PARTIAL read.
  *
  * Schema evolution across files is the reader's: the plan's UNION schema
  * comes from the index's per-file column types (widened losslessly by
  * [[widenType]]), files missing a column null-fill it, narrower files
  * widen on read, and a type the reader cannot widen fails loudly.
  *
  * Scale: driver residency is the KEPT (file, rowGroup) slices only —
  * bounded by the query's selectivity, never the table (100 TB at 128 MB
  * row groups ≈ 10⁶ index rows, all classified where they live). Each scan
  * task opens one footer per run to locate its byte range and reads at
  * most [[rgsPerTask]] row groups' pages; nothing reads a page outside
  * the keep set.
  */
object RowGroupScan {

  /** Max row groups per scan task: bounds task size so a single file with
    * many kept row groups fans out instead of serializing on one task. */
  private val rgsPerTask = 8

  /** Footer opens performed by INDEX BUILDS (not data scans) — a
    * local-mode diagnostic counter: with the index served from the log's
    * persisted sidecar a declarative read must not open any footer just
    * to plan (the gate contract for `computeRowGroupIndex`). Executors
    * share the JVM under local[*]; on a real cluster this is advisory. */
  private[graft] val indexFooterOpens =
    new java.util.concurrent.atomic.LongAdder

  /** One wide-index row: per-(file, row group, top-level column) stats.
    * `rg == -1` marks a zero-row-group file (schema carrier only, never
    * scanned). Numeric bounds fold through `longValue` (safe for pruning:
    * truncation can only widen the kept set for integral probes); string
    * bounds only for string-annotated BINARY columns, in UTF-8 byte order
    * (what parquet stats and Spark's string comparison both use). */
  private[operators] final case class IdxRow(file: String, rg: Int,
      column: String, ord: Int, dtype: String, n_rows: Long,
      n_nulls: Option[Long], lmin: Option[Long], lmax: Option[Long],
      smin: Option[String], smax: Option[String],
      dmin: Option[Double] = None, dmax: Option[Double] = None)

  /** One kept row group: the `rg`-th of `file`. */
  private[operators] final case class RgSlice(file: String, rg: Int)

  /** The WIDE per-row-group stats index over EVERY top-level column —
    * (file, rg, column, ord, dtype, n_rows, n_nulls, lmin, lmax, smin,
    * smax), one distributed footer-only task per file. `files` pairs the
    * path to OPEN with the label to EMIT (the log's sidecar stores
    * table-relative labels; ad-hoc builds pass the path twice). */
  private[operators] def buildWideIndex(spark: SparkSession,
      files: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    files.toDS().mapPartitions { it =>
      it.flatMap { case (abs, label) => fileIdxRows(abs, label, conf.value) }
    }.toDF()
  }

  /** One file's wide-index rows from its footer only — the per-file body
    * of [[buildWideIndex]], also callable DRIVER-side so small snapshots
    * can plan with zero Spark jobs (the Delta manifest posture: planning
    * metadata is driver work). Column types come from Spark's parquet
    * schema conversion at its DEFAULT settings, so the persisted `dtype`
    * strings never depend on the writing session. */
  private[operators] def fileIdxRows(abs: String, label: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[IdxRow] = {
    {
      import scala.jdk.CollectionConverters._
      {
        indexFooterOpens.increment()
        val footer = footerOf(abs, conf)
        locally {
          val msg = footer.getFileMetaData.getSchema
          val sparkFields = new org.apache.spark.sql.execution.datasources
            .parquet.ParquetToSparkSchemaConverter().convert(msg).fields
          val fields = (0 until msg.getFieldCount).map { i =>
            (msg.getType(i), i, sparkFields(i).dataType.catalogString)
          }
          val blocks = footer.getBlocks.asScala.toList
          if (blocks.isEmpty)
            fields.map { case (t, i, dt) =>
              IdxRow(label, -1, t.getName, i, dt, 0L, None, None, None,
                None, None, None, None)
            }
          else blocks.zipWithIndex.flatMap { case (rg, rgIdx) =>
            val chunks = rg.getColumns.asScala
            fields.map { case (t, i, dt) =>
              var nNulls: Option[Long] = None
              var lmin: Option[Long] = None
              var lmax: Option[Long] = None
              var smin: Option[String] = None
              var smax: Option[String] = None
              var dmin: Option[Double] = None
              var dmax: Option[Double] = None
              if (t.isPrimitive) {
                import org.apache.parquet.schema.LogicalTypeAnnotation
                val stringish = t.asPrimitiveType()
                  .getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation
                      .StringLogicalTypeAnnotation => true
                  case _: LogicalTypeAnnotation
                      .EnumLogicalTypeAnnotation => true
                  case _: LogicalTypeAnnotation
                      .JsonLogicalTypeAnnotation => true
                  case _ => false
                }
                // INT64 timestamps normalize to MICROS — the unit Spark
                // reads them in (floorDiv for nanos truncates stats and
                // values identically, so bounds stay exact)
                val tsToUs: Long => Long = t.asPrimitiveType()
                  .getLogicalTypeAnnotation match {
                  case ts: LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation =>
                    ts.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                        _ * 1000L
                      case LogicalTypeAnnotation.TimeUnit.MICROS =>
                        identity
                      case _ => Math.floorDiv(_, 1000L) // NANOS
                    }
                  case _ => identity
                }
                chunks.find(_.getPath.toDotString == t.getName)
                  .map(_.getStatistics).filter(_ != null).foreach { st =>
                    if (st.isNumNullsSet) nNulls = Some(st.getNumNulls)
                    // hasNonNullValue guards an ALL-NULL chunk, whose
                    // min/max fields are uninitialized primitives (0) —
                    // taking them would fabricate bounds
                    if (!st.isEmpty && st.hasNonNullValue)
                      (st.genericGetMin, st.genericGetMax) match {
                        case (a: java.lang.Long, b: java.lang.Long) =>
                          lmin = Some(tsToUs(a.longValue))
                          lmax = Some(tsToUs(b.longValue))
                        case (a: java.lang.Float, b: java.lang.Float) =>
                          val (x, y) = (a.doubleValue, b.doubleValue)
                          // NaN in FP stats is writer-dependent
                          // (PARQUET-1222): a NaN max means "unbounded
                          // above" under Spark's NaN-greatest order, a
                          // NaN min drops the stats entirely. -0.0
                          // collapses to 0.0 so plain comparisons agree
                          // with Spark's -0.0 = 0.0 semantics.
                          if (!x.isNaN) {
                            dmin = Some(if (x == 0.0) 0.0 else x)
                            if (!y.isNaN)
                              dmax = Some(if (y == 0.0) 0.0 else y)
                          }
                          lmin = Some(a.longValue); lmax = Some(b.longValue)
                        case (a: java.lang.Double, b: java.lang.Double) =>
                          val (x, y) = (a.doubleValue, b.doubleValue)
                          if (!x.isNaN) {
                            dmin = Some(if (x == 0.0) 0.0 else x)
                            if (!y.isNaN)
                              dmax = Some(if (y == 0.0) 0.0 else y)
                          }
                          lmin = Some(a.longValue); lmax = Some(b.longValue)
                        case (a: Number, b: Number) =>
                          lmin = Some(a.longValue); lmax = Some(b.longValue)
                        case (a: org.apache.parquet.io.api.Binary,
                              b: org.apache.parquet.io.api.Binary)
                            if stringish =>
                          smin = Some(a.toStringUsingUTF8)
                          smax = Some(b.toStringUsingUTF8)
                        case _ =>
                      }
                  }
              }
              IdxRow(label, rgIdx, t.getName, i, dt, rg.getRowCount,
                nNulls, lmin, lmax, smin, smax, dmin, dmax)
            }
          }
        }
      }
    }
  }

  /** `spark.read.parquet` minus the schema-inference job: Spark 4 runs a
    * one-task Spark job per `spark.read.parquet` call just to read a
    * footer for the schema — a fixed scheduler round-trip per read that
    * dominates small-query latency and is pure overhead at any scale
    * (the footer is driver-readable metadata). This derives the schema
    * driver-side from the FIRST path's footer through Spark's own
    * ParquetToSparkSchemaConverter (same session conversion flags:
    * binaryAsString, int96AsTimestamp, inferTimestampNTZ, nanosAsLong),
    * so the read plans with an explicit schema and zero jobs. For
    * uniform-schema path sets only — the lake's write invariant;
    * schema-evolution readers use mergeSchema and keep inference.
    * Anything unexpected (directory with no parquet, unreadable footer)
    * falls back to the inferring read. */
  private[graft] def readNoInfer(spark: SparkSession,
      paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readNoInfer needs at least one path")
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      // listed through the path's own FileSystem (file:, hdfs:, s3a: URIs
      // and plain paths alike), skipping the `_`/`.` names Spark skips
      def filesOf(path: String): Seq[String] = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        if (!fs.getFileStatus(p).isDirectory) Seq(path)
        else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
          .filter { f =>
            val n = f.getName
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }.map(_.toString).sorted
      }
      val headFiles = filesOf(paths.head)
      val head = headFiles.head
      val msg = parquetSchemaOf(head, conf)
      // uniform-schema cross-check (one extra footer, driver-side): when
      // the path set spans more than one file, a set that silently
      // violates the write contract must fall back to inference LOUDLY
      // here rather than read mismatched files as nulls. Field names in
      // order are the cheap sufficient check — a type drift with the
      // same names is the widening the lake handles via readEvolved,
      // which keeps mergeSchema.
      val guard =
        if (paths.size > 1) Some(filesOf(paths.last).last)
        else if (headFiles.size > 1) Some(headFiles.last)
        else None
      val drifted = guard.filter(_ != head).exists { g =>
        val gMsg = parquetSchemaOf(g, conf)
        import scala.jdk.CollectionConverters._
        def names(m: org.apache.parquet.schema.MessageType) =
          m.getFields.asScala.map(_.getName).toSeq
        names(msg) != names(gMsg)
      }
      if (drifted)
        // detected drift: a plain inferring read would ALSO trust one
        // arbitrary footer — mergeSchema is the read that is actually
        // correct for a drifted set
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
      else {
        val schema = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(
            org.apache.spark.sql.graft.SparkInternals.sqlConf(spark))
          .convert(msg)
        spark.read.schema(schema).parquet(paths: _*)
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        spark.read.parquet(paths: _*)
    }
  }

  /** The schema Spark's parquet inference reads from `file`'s footer:
    * its stored Spark schema, else its parquet schema converted with the
    * session's flags. */
  private[graft] def sparkSchemaOf(spark: SparkSession, file: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(file), footer),
      new ParquetToSparkSchemaConverter(SparkInternals.sqlConf(spark)))
  }

  /** DRIVER-side parquet write of wide-index rows (parquet-mr Group
    * API) — the write half of zero-job sidecar staging. The schema
    * matches what Spark writes for an IdxRow frame (same names, string
    * annotations, physical types), so spark.read, the distributed
    * planners, and [[localParquetRows]] consume either provenance
    * identically. */
  private[operators] def writeIdxRowsLocal(rows: Seq[IdxRow],
      out: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message graft_rgidx {
        |  optional binary file (UTF8);
        |  optional int32 rg;
        |  optional binary column (UTF8);
        |  optional int32 ord;
        |  optional binary dtype (UTF8);
        |  optional int64 n_rows;
        |  optional int64 n_nulls;
        |  optional int64 lmin;
        |  optional int64 lmax;
        |  optional binary smin (UTF8);
        |  optional binary smax (UTF8);
        |  optional double dmin;
        |  optional double dmax;
        |}""".stripMargin)
    val c = new org.apache.hadoop.conf.Configuration(conf)
    GroupWriteSupport.setSchema(schema, c)
    val writer = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(out))
      .withConf(c)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      g.append("file", r.file)
      g.append("rg", r.rg)
      g.append("column", r.column)
      g.append("ord", r.ord)
      g.append("dtype", r.dtype)
      g.append("n_rows", r.n_rows)
      r.n_nulls.foreach(v => g.append("n_nulls", v))
      r.lmin.foreach(v => g.append("lmin", v))
      r.lmax.foreach(v => g.append("lmax", v))
      r.smin.foreach(v => g.append("smin", v))
      r.smax.foreach(v => g.append("smax", v))
      r.dmin.foreach(v => g.append("dmin", v))
      r.dmax.foreach(v => g.append("dmax", v))
      writer.write(g)
    } finally writer.close()
  }

  /** DRIVER-side parquet write of (file, bitmap) bloom rows — the
    * compaction twin of [[writeIdxRowsLocal]]; schema matches the
    * Spark-written bloom sidecars. */
  private[operators] def writeBloomRowsLocal(
      rows: Seq[(String, Array[Byte])], out: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message graft_bloom {
        |  optional binary f (UTF8);
        |  optional binary bitmap;
        |}""".stripMargin)
    val c = new org.apache.hadoop.conf.Configuration(conf)
    GroupWriteSupport.setSchema(schema, c)
    val writer = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(out))
      .withConf(c)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { case (f, bytes) =>
      val g = gf.newGroup()
      g.append("f", f)
      g.add("bitmap", org.apache.parquet.io.api.Binary
        .fromConstantByteArray(bytes))
      writer.write(g)
    } finally writer.close()
  }

  /** Whole-file DRIVER-side read of a SMALL parquet into Spark rows —
    * zero Spark jobs. For METADATA sidecars only (stats indexes, bloom
    * bitmaps, DV position lists, vector codebooks): callers enforce a
    * byte bound before calling. Decodes through the same Spark parquet
    * reader as [[scanSlices]] with the session's schema conversion, so
    * values and schema are identical to
    * `spark.read.parquet(file).collect()`. */
  private[graft] def localParquetRows(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : (Array[Row], StructType) = {
    val msg = footerOf(file, conf).getFileMetaData.getSchema
    val spark = SparkSession.active
    val schema = SparkInternals.asNullable(new org.apache.spark.sql
      .execution.datasources.parquet.ParquetToSparkSchemaConverter(
        SparkInternals.sqlConf(spark)).convert(msg))
    val read = SparkInternals.parquetReader(spark, schema, new StructType(),
      Nil)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rows = read(wholeFile(file, conf))
      .map(toRow(_).asInstanceOf[Row]).toArray
    (rows, schema)
  }

  /** One byte range `[start, start + length)` of `file` as a Spark file
    * split carrying the constant partition values `pv`. */
  private def split(file: String, start: Long, length: Long,
      fileSize: Long,
      pv: org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow.empty)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(pv,
      org.apache.spark.paths.SparkPath.fromPath(
        new org.apache.hadoop.fs.Path(file)),
      start, length, Array.empty[String], 0L, fileSize)

  /** A whole `file` as one Spark file split (its length from the file
    * system). */
  private[graft] def wholeFile(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile = {
    val p = new org.apache.hadoop.fs.Path(file)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    split(file, 0L, len, len)
  }

  // ===== row-group verdicts ============================================

  /** Non-ASCII characters whose Unicode case mapping is pure ASCII,
    * keyed by that mapping in lower case: `upper('ß') = 'SS'`,
    * `upper('ı') = 'I'`, `upper('ſ') = 'S'`, `lower('K') = 'k'` (the
    * Kelvin sign) and the Latin ligatures (`upper('ﬁ') = 'FI'`). Spark's
    * upper/lower and the JDK agree on this list at the root locale, and
    * no other code point maps into ASCII. A case-mapped equality matches
    * them too, so they belong to the variant set. */
  private val caseFoldPreimages: Seq[(String, Array[Byte])] = Seq(
    "ss" -> "\u00df", "i" -> "\u0131", "s" -> "\u017f", "k" -> "\u212a",
    "ff" -> "\ufb00", "fi" -> "\ufb01", "fl" -> "\ufb02",
    "ffi" -> "\ufb03", "ffl" -> "\ufb04", "st" -> "\ufb05",
    "st" -> "\ufb06").map { case (f, c) => f -> c.getBytes("UTF-8") }

  /** TRUE iff some case VARIANT v of `x` lies in [lo, hi] under UTF-8
    * byte order — the exact row-group keep test for case-mapped
    * equalities (`lower(c) = x` matches exactly the variants of x). A
    * variant spells each char of x in upper or lower case (non-letters
    * fixed) or spells a run of x with one [[caseFoldPreimages]]
    * character. `prefix` asks instead whether [lo, hi] can contain some
    * string STARTING WITH a variant. Digit-DP over (char of x, byte of
    * v) with lo/hi tightness flags; once neither bound is tight every
    * completion fits. Caller guarantees `x` is pure ASCII. */
  private[operators] def variantInRange(x: String, lo: String,
      hi: String, prefix: Boolean = false): Boolean = {
    val lob = lo.getBytes("UTF-8"); val hib = hi.getBytes("UTF-8")
    val n = x.length
    // v's bytes `bs` from offset `off`: the tightness flags after them,
    // or None once v leaves [lo, hi]
    def feed(bs: Array[Byte], off: Int, loT0: Boolean, hiT0: Boolean)
        : Option[(Boolean, Boolean)] = {
      var loT = loT0; var hiT = hiT0; var ok = true; var j = 0
      while (ok && j < bs.length) {
        val (i, vb) = (off + j, bs(j) & 0xff)
        // an exhausted tight lo (v extends lo) is already > lo;
        // an exhausted tight hi (v extends hi) is already > hi
        ok = !(loT && i < lob.length && vb < (lob(i) & 0xff)) &&
          !(hiT && (i >= hib.length || vb > (hib(i) & 0xff)))
        loT = loT && i < lob.length && vb == (lob(i) & 0xff)
        hiT = hiT && i < hib.length && vb == (hib(i) & 0xff)
        j += 1
      }
      if (ok) Some((loT, hiT)) else None
    }
    val memo = scala.collection.mutable.HashMap
      .empty[(Int, Int, Boolean, Boolean), Boolean]
    def rec(i: Int, off: Int, loT: Boolean, hiT: Boolean): Boolean =
      (!loT && !hiT) || memo.getOrElseUpdate((i, off, loT, hiT),
        if (i == n)
          // v complete: a still-tight lo means v equals lo's first `off`
          // bytes, so v >= lo iff lo has no tail; a still-tight hi admits
          // v. PREFIX mode already has its witness: tight-lo means lo
          // itself starts with v, tight-hi means hi does.
          prefix || !loT || lob.length <= off
        else {
          val ch = x.charAt(i)
          val cased = Seq(Character.toUpperCase(ch),
            Character.toLowerCase(ch)).distinct
            .map(c => (Array(c.toByte), 1))
          val runs = caseFoldPreimages.collect {
            case (f, bs) if x.regionMatches(true, i, f, 0, f.length) =>
              (bs, f.length)
            // a prefix may end inside a ligature's spelling
            case (f, bs) if prefix && f.length > n - i &&
                f.regionMatches(true, 0, x, i, n - i) => (bs, n - i)
          }
          (cased ++ runs).exists { case (bs, len) =>
            feed(bs, off, loT, hiT).exists { case (l, h) =>
              rec(i + len, off + bs.length, l, h)
            }
          }
        })
    rec(0, 0, loT = true, hiT = true)
  }

  /** TRUE iff some SPACE-PADDED variant of `x` (`' '^i + x + ' '^j`;
    * sides per `mode`: 'b' both, 'l' leading-only, 'r' trailing-only;
    * i = j = 0 included) lies in [lo, hi] under UTF-8 byte order — the
    * row-group keep test for trim-mapped equalities (`trim(c) = x`
    * matches exactly the padded variants of x). The trailing-pad
    * family {x + ' '^j} is tested EXACTLY: its minimum is x, so a
    * member ≥ lo exists iff lo ≤ x, or lo = x ++ t where the minimal
    * witness x + ' '^j ≥ lo (t all spaces → lo itself; first non-space
    * byte of t below 0x20 → one pad past it) also clears hi. Leading
    * pads (i ≥ 1) are tested conservatively: every such variant starts
    * with byte 0x20, so they all sort below a lo whose first byte
    * exceeds 0x20 and above a hi that is empty or starts below 0x20 —
    * anything else keeps. On space-free data (the overwhelmingly
    * common case: smin's first byte > 0x20) the leading test rejects
    * and pruning is driven by the exact trailing test, as tight as a
    * plain equality. */
  private[operators] def paddedVariantInRange(x: String, lo: String,
      hi: String, mode: Char): Boolean = {
    val xb = x.getBytes("UTF-8")
    val lob = lo.getBytes("UTF-8"); val hib = hi.getBytes("UTF-8")
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
    def trailing: Boolean =
      if (cmp(xb, hib) > 0) false            // even x exceeds hi
      else if (cmp(lob, xb) <= 0) true       // witness: x itself
      else if (lob.length > xb.length &&
          xb.indices.forall(i => lob(i) == xb(i))) {
        var i = xb.length                    // lo = x ++ t; scan t
        while (i < lob.length && lob(i) == 0x20.toByte) i += 1
        if (i == lob.length) true            // t all spaces: witness lo
        else if ((lob(i) & 0xff) < 0x20) {
          // minimal witness: x padded one space past t's low byte
          val w = xb ++ Array.fill(i - xb.length + 1)(0x20.toByte)
          cmp(w, hib) <= 0
        } else false                         // every pad sorts below lo
      } else false
    def leading: Boolean =
      !(lob.nonEmpty && (lob(0) & 0xff) > 0x20) &&
        !(hib.isEmpty || (hib(0) & 0xff) < 0x20)
    def point: Boolean = cmp(lob, xb) <= 0 && cmp(xb, hib) <= 0
    mode match {
      case 'r' => trailing
      case 'l' => point || leading
      case _ => trailing || leading
    }
  }

  /** One (file, rg) planning verdict. `full` = every row provably
    * satisfies ALL constraints. */
  private[operators] final case class RgVerdict(file: String, rg: Int,
      nRows: Long, rejected: Boolean, full: Boolean)

  private[operators] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** An index-row DISPROOF for one constraint: TRUE iff this (file, rg,
    * column) row's bounds PROVE no row can satisfy the constraint. Null
    * or missing bounds never reject (conservative keep). Spark's string
    * comparison is UTF-8 byte order — the same order the stats fold in,
    * so string pruning can never disagree with the scan's re-filter.
    * Numeric bounds judge only stats in their own space: a DECIMAL's
    * stats are unscaled at its file's scale, so only an
    * [[TableLog.AtScale]] probe of that `scale` may judge them. */
  private def leafReject(l: TableLog.RgConstraint, r: Row,
      ix: Map[String, Int], scale: Option[Int] = None): Boolean = {
    val dtype = r.getString(ix("dtype"))
    val numSpace = scale.fold(!dtype.startsWith("decimal"))(sc =>
      dtype.endsWith(s",$sc)"))
    def lng(c: String): Option[Long] =
      if (r.isNullAt(ix(c))) None else Some(r.getLong(ix(c)))
    def bound(c: String): Option[Long] = if (numSpace) lng(c) else None
    def str(c: String): Option[String] =
      if (r.isNullAt(ix(c))) None else Some(r.getString(ix(c)))
    // defensive get: rows memoized before the dmin/dmax columns
    // existed simply never disprove FP constraints
    def dbl(c: String): Option[Double] =
      ix.get(c).filter(i => !r.isNullAt(i)).map(r.getDouble)
    l match {
      case TableLog.NumRange(_, lo, hi) =>
        (bound("lmin"), bound("lmax")) match {
          case (Some(lmin), Some(lmax)) =>
            lo.exists(lmax < _) || hi.exists(lmin > _)
          case _ => false
        }
      case TableLog.DblRange(_, lo, hi, hiExcl) =>
        lo.exists(l0 => dbl("dmax").exists(_ < l0)) ||
          hi.exists(h => dbl("dmin").exists(m =>
            if (hiExcl) m >= h else m > h))
      case TableLog.DblIn(_, vs) =>
        (dbl("dmin"), dbl("dmax")) match {
          case (Some(mn), Some(mx)) =>
            !vs.exists(v => mn <= v && v <= mx)
          case _ => false
        }
      case TableLog.NumIn(_, vs) =>
        (bound("lmin"), bound("lmax")) match {
          case (Some(lmin), Some(lmax)) =>
            !vs.exists(v => lmin <= v && v <= lmax)
          case _ => false
        }
      case TableLog.StrRange(_, lo, hi, hiExcl) =>
        (str("smin"), str("smax")) match {
          case (Some(smin), Some(smax)) =>
            lo.exists(utf8Cmp(smax, _) < 0) ||
              hi.exists(h => if (hiExcl) utf8Cmp(smin, h) >= 0
                             else utf8Cmp(smin, h) > 0)
          case _ => false
        }
      case TableLog.StrIn(_, vs) =>
        (str("smin"), str("smax")) match {
          case (Some(smin), Some(smax)) =>
            !vs.exists(v => utf8Cmp(smin, v) <= 0 && utf8Cmp(v, smax) <= 0)
          case _ => false
        }
      case TableLog.NullCheck(_, isNull) =>
        lng("n_nulls") match {
          case Some(nn) =>
            if (isNull) nn == 0L else nn == r.getLong(ix("n_rows"))
          case None => false
        }
      case TableLog.NumNotIn(_, vs) =>
        (bound("lmin"), bound("lmax")) match {
          case (Some(lmin), Some(lmax)) => lmin == lmax && vs.contains(lmin)
          case _ => false
        }
      case TableLog.StrNotIn(_, vs) =>
        (str("smin"), str("smax")) match {
          case (Some(smin), Some(smax)) => smin == smax && vs.contains(smin)
          case _ => false
        }
      case TableLog.CaseIn(_, vs, _, pfx) =>
        (str("smin"), str("smax")) match {
          case (Some(smin), Some(smax)) =>
            !vs.exists(variantInRange(_, smin, smax, pfx))
          case _ => false
        }
      case TableLog.TrimIn(_, vs, mode) =>
        vs.isEmpty || ((str("smin"), str("smax")) match {
          case (Some(smin), Some(smax)) =>
            !vs.exists(paddedVariantInRange(_, smin, smax, mode))
          case _ => false
        })
      case TableLog.AtScale(in, sc) => leafReject(in, r, ix, Some(sc))
      case or: TableLog.RgOr => sys.error(
        s"RgOr must be expanded before leaf evaluation: $or")
    }
  }

  /** An index-row PROOF for one constraint: TRUE iff the bounds prove
    * EVERY row of the group satisfies it — the metadata-only COUNT path.
    * Demands exact stats: zero nulls, and a dtype whose parquet min/max
    * are not truncated (integral/date/timestamp for numeric, string for
    * string — float/double stats may exclude NaN rows and never prove).
    * A missing bound never proves. */
  private def leafFull(l: TableLog.RgConstraint, r: Row,
      ix: Map[String, Int]): Boolean = {
    def lng(c: String): Option[Long] =
      if (r.isNullAt(ix(c))) None else Some(r.getLong(ix(c)))
    def str(c: String): Option[String] =
      if (r.isNullAt(ix(c))) None else Some(r.getString(ix(c)))
    val dtype = r.getString(ix("dtype"))
    val exactNum = Set("tinyint", "smallint", "int", "bigint",
      "date", "timestamp", "timestamp_ntz")(dtype)
    val noNulls = lng("n_nulls").contains(0L)
    l match {
      case TableLog.NumRange(_, lo, hi) =>
        exactNum && noNulls && ((lng("lmin"), lng("lmax")) match {
          case (Some(lmin), Some(lmax)) =>
            lo.forall(lmin >= _) && hi.forall(lmax <= _)
          case _ => false
        })
      case TableLog.NumIn(_, vs) =>
        exactNum && noNulls && ((lng("lmin"), lng("lmax")) match {
          case (Some(lmin), Some(lmax)) =>
            lmin == lmax && vs.contains(lmin)
          case _ => false
        })
      case _: TableLog.DblRange | _: TableLog.DblIn =>
        false // FP stats never prove containment (NaN rows invisible)
      case TableLog.StrRange(_, lo, hi, hiExcl) =>
        dtype == "string" && noNulls &&
          ((str("smin"), str("smax")) match {
            case (Some(smin), Some(smax)) =>
              lo.forall(utf8Cmp(smin, _) >= 0) &&
                hi.forall(h => if (hiExcl) utf8Cmp(smax, h) < 0
                               else utf8Cmp(smax, h) <= 0)
            case _ => false
          })
      case TableLog.StrIn(_, vs) =>
        dtype == "string" && noNulls &&
          ((str("smin"), str("smax")) match {
            case (Some(smin), Some(smax)) =>
              smin == smax && vs.contains(smin)
            case _ => false
          })
      case TableLog.NullCheck(_, isNull) =>
        lng("n_nulls") match {
          case Some(nn) =>
            if (isNull) nn == r.getLong(ix("n_rows")) else nn == 0L
          case None => false
        }
      case TableLog.NumNotIn(_, vs) =>
        exactNum && noNulls && ((lng("lmin"), lng("lmax")) match {
          case (Some(lmin), Some(lmax)) =>
            !vs.exists(v => lmin <= v && v <= lmax)
          case _ => false
        })
      case TableLog.StrNotIn(_, vs) =>
        dtype == "string" && noNulls &&
          ((str("smin"), str("smax")) match {
            case (Some(smin), Some(smax)) =>
              !vs.exists(v => utf8Cmp(smin, v) <= 0 && utf8Cmp(v, smax) <= 0)
            case _ => false
          })
      case TableLog.CaseIn(_, vs, up, pfx) =>
        // driver-side fold restricted to pure-ASCII group values, where
        // Java and Spark case mapping provably agree; anything wider
        // simply doesn't prove (conservative)
        dtype == "string" && noNulls &&
          ((str("smin"), str("smax")) match {
            case (Some(smin), Some(smax)) =>
              smin == smax && smin.forall(_.toInt < 128) && {
                val f = if (up) smin.toUpperCase(java.util.Locale.ROOT)
                        else smin.toLowerCase(java.util.Locale.ROOT)
                if (pfx) vs.exists(f.startsWith) else vs.contains(f)
              }
            case _ => false
          })
      case TableLog.TrimIn(_, vs, mode) =>
        // strip SPACES only (0x20) — Spark's trim family semantics
        def strip(s: String): String = {
          var a = 0; var b = s.length
          if (mode != 'r') while (a < b && s.charAt(a) == ' ') a += 1
          if (mode != 'l') while (b > a && s.charAt(b - 1) == ' ') b -= 1
          s.substring(a, b)
        }
        dtype == "string" && noNulls && vs.nonEmpty &&
          ((str("smin"), str("smax")) match {
            case (Some(smin), Some(smax)) =>
              smin == smax && vs.contains(strip(smin))
            case _ => false
          })
      case TableLog.AtScale(in, _) => leafFull(in, r, ix)
      case or: TableLog.RgOr => sys.error(
        s"RgOr must be expanded before leaf evaluation: $or")
    }
  }

  /** THE row-group verdict: fold index rows into one [[RgVerdict]] per
    * (file, rg) — reject = any top-level conjunct disproves (a
    * disjunction only when EVERY branch does), full = every conjunct
    * proves (a disjunction when ANY branch does) — plus the distinct
    * (ord, column, dtype) descriptors. `rows` may come in any order but
    * must hold every row of each group it touches; a constraint whose
    * column a group lacks (stats-less, or evolved away) neither rejects
    * nor proves. rg == -1 schema carriers contribute descriptors but no
    * verdicts. The log's planner runs this on the driver for a small
    * snapshot and inside tasks for a large one. */
  private[operators] def classify(rows: Iterator[Row],
      schema: org.apache.spark.sql.types.StructType,
      constraints: Seq[TableLog.RgConstraint])
      : (Seq[RgVerdict], Seq[(Int, String, String)]) = {
    val ix = schema.fieldNames.zipWithIndex.toMap
    val (iFile, iRg, iCol) = (ix("file"), ix("rg"), ix("column"))
    val (iOrd, iDtype, iNRows) = (ix("ord"), ix("dtype"), ix("n_rows"))
    val cols = scala.collection.mutable.LinkedHashSet[(Int, String,
      String)]()
    // group rows by (file, rg), keeping encounter order
    val groups = scala.collection.mutable.LinkedHashMap[(String, Int),
      scala.collection.mutable.Map[String, Row]]()
    rows.foreach { r =>
      cols += ((r.getInt(iOrd), r.getString(iCol), r.getString(iDtype)))
      groups.getOrElseUpdate((r.getString(iFile), r.getInt(iRg)),
        scala.collection.mutable.Map.empty)
        .update(r.getString(iCol), r)
    }
    def flag(byCol: scala.collection.Map[String, Row],
        l: TableLog.RgConstraint,
        f: (TableLog.RgConstraint, Row, Map[String, Int]) => Boolean)
        : Boolean = byCol.get(l.column).exists(f(l, _, ix))
    val verdicts = groups.iterator.collect { case ((f, rg), byCol)
        if rg >= 0 =>
      val rej = constraints.exists {
        case TableLog.RgOr(bs) =>
          bs.nonEmpty && bs.forall(flag(byCol, _, leafReject(_, _, _)))
        case leaf => flag(byCol, leaf, leafReject(_, _, _))
      }
      val full = constraints.nonEmpty && constraints.forall {
        case TableLog.RgOr(bs) => bs.exists(flag(byCol, _, leafFull))
        case leaf => flag(byCol, leaf, leafFull)
      }
      val n = byCol.valuesIterator.next().getLong(iNRows)
      RgVerdict(f, rg, n, rej, full)
    }.toSeq
    (verdicts, cols.toSeq)
  }

  // ===== read-side type widening =======================================
  //
  // Files written before an int→long / float→double / decimal-precision
  // evolution stay readable through the selective scan: the union
  // schema resolves to the WIDEST type and Spark's parquet reader widens
  // each file's values on read. Only lossless scalar widenings qualify;
  // anything else is still a loud type-drift error (a silent narrow or
  // cross-family cast could corrupt data).

  private val intWidths = Seq("tinyint", "smallint", "int", "bigint")
  private val DecimalRe = """decimal\((\d+),(\d+)\)""".r

  /** Least upper bound of two catalog types under lossless widening;
    * None when they don't widen into each other. */
  private[operators] def widenType(a: String, b: String)
      : Option[String] = {
    if (a == b) return Some(a)
    val ia = intWidths.indexOf(a); val ib = intWidths.indexOf(b)
    if (ia >= 0 && ib >= 0) return Some(intWidths(math.max(ia, ib)))
    if (Set(a, b) == Set("float", "double")) return Some("double")
    (a, b) match {
      case (DecimalRe(p1, s1), DecimalRe(p2, s2)) =>
        // scale-up keeps every value exact iff both the fractional and
        // the integral digit budgets grow monotonically
        val (ip1, is1) = (p1.toInt, s1.toInt)
        val (ip2, is2) = (p2.toInt, s2.toInt)
        val s = math.max(is1, is2)
        val p = math.max(ip1 - is1, ip2 - is2) + s
        if (p <= 38) Some(s"decimal($p,$s)") else None
      case _ => None
    }
  }

  /** Fold (ord, column, dtype) descriptors into the union schema:
    * mergeSchema order (first field position, then name), widening
    * scalar types to their lossless LUB, loud on any other type
    * conflict. */
  private[operators] def unionColsFromTuples(
      all0: Seq[(Int, String, String)]): Seq[(String, String)] = {
    val all = all0.distinct
    all.groupBy(_._2).map { case (c, rs) =>
      val t = rs.map(_._3).distinct.reduceLeft { (x, y) =>
        widenType(x, y).getOrElse(sys.error(
          s"type drift on column $c: " +
            rs.map(_._3).distinct.sorted.mkString(" vs ")))
      }
      (rs.map(_._1).min, c, t)
    }.toSeq.sortBy(t => (t._1, t._2)).map(t => (t._2, t._3))
  }


  /** Empty frame carrying the (projected) union schema — what a fully
    * pruned read returns so downstream plans analyze cleanly. */
  private[operators] def emptyFrame(spark: SparkSession,
      unionCols: Seq[(String, String)], columns: Seq[String]): DataFrame = {
    val wanted = wantedCols(unionCols, columns)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(wanted.map { case (n, dt) =>
        StructField(n, DataType.fromDDL(dt), nullable = true)
      }))
  }

  /** Projection resolution: caller order, loud on unknown names. */
  private def wantedCols(unionCols: Seq[(String, String)],
      columns: Seq[String]): Seq[(String, String)] =
    if (columns.isEmpty) unionCols
    else {
      val m = unionCols.toMap
      columns.map { c =>
        require(m.contains(c), s"projection names unknown columns: $c")
        c -> m(c)
      }
    }

  // ===== selective scan ================================================

  /** The constraints Spark's parquet filter pushdown can take, as source
    * filters — the reader then skips row groups and ColumnIndex pages
    * they disprove. Only integral and string columns (by the plan's
    * `types`) and null checks convert; a disjunction converts only when
    * every branch does. Anything else simply stays off the pushdown:
    * rows come back a SUPERSET of the matches and the caller re-applies
    * the exact predicate. */
  private def pushedFilters(constraints: Seq[TableLog.RgConstraint],
      types: Map[String, String]): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    // a bound outside the column's value space drops (conservative)
    def num(c: String, v: Long): Option[Any] = types.get(c) match {
      case Some("bigint") => Some(v)
      case Some("int") if v.isValidInt => Some(v.toInt)
      case Some("smallint") if v.isValidShort => Some(v.toShort)
      case Some("tinyint") if v.isValidByte => Some(v.toByte)
      case _ => None
    }
    def str(c: String): Boolean = types.get(c).contains("string")
    def all(fs: Seq[Filter], f: (Filter, Filter) => Filter) =
      fs.reduceOption(f)
    def leaf(c: TableLog.RgConstraint): Option[Filter] = c match {
      case TableLog.NumRange(n, lo, hi) =>
        all(lo.flatMap(num(n, _)).map(GreaterThanOrEqual(n, _)).toSeq ++
          hi.flatMap(num(n, _)).map(LessThanOrEqual(n, _)), And)
      case TableLog.NumIn(n, vs) =>
        val xs = vs.flatMap(num(n, _))
        if (xs.isEmpty) None else Some(In(n, xs.toArray))
      case TableLog.NumNotIn(n, vs) =>
        all(vs.flatMap(num(n, _)).map(v => Not(EqualTo(n, v))), And)
      case TableLog.StrRange(n, lo, hi, hiExcl) if str(n) =>
        all(lo.map(GreaterThanOrEqual(n, _)).toSeq ++
          hi.map(h => if (hiExcl) LessThan(n, h) else LessThanOrEqual(n, h)),
          And)
      case TableLog.StrIn(n, vs) if str(n) && vs.nonEmpty =>
        Some(In(n, vs.toArray))
      case TableLog.StrNotIn(n, vs) if str(n) =>
        all(vs.map(v => Not(EqualTo(n, v))), And)
      case TableLog.NullCheck(n, isNull) if types.contains(n) =>
        Some(if (isNull) IsNull(n) else IsNotNull(n))
      case _ => None
    }
    constraints.flatMap {
      case TableLog.RgOr(bs) =>
        val ps = bs.map(leaf)
        if (ps.isEmpty || ps.exists(_.isEmpty)) None
        else all(ps.flatten, Or)
      case l => leaf(l)
    }
  }

  /** Scan exactly the given slices through Spark's parquet reader — one
    * distributed job, ≤ [[rgsPerTask]] row groups per task, each run of
    * contiguous kept row groups one byte-range split. Schema evolution
    * across files null-fills (a file missing a union column reads nulls
    * for it) and widens narrower files; a type the reader cannot widen
    * fails loudly in the task. `emitPos` appends `__graft_ridx` (the
    * reader's file-ordinal row index) and `__graft_fn` (file basename) —
    * the join identity deletion vectors use, so a DV-carrying file can
    * be read PARTIALLY. A non-empty `columns` projection reads only
    * those columns' pages; `constraints` push down as source filters for
    * page skipping ([[pushedFilters]]). */
  private[operators] def scanSlices(spark: SparkSession,
      slices: Seq[RgSlice], unionCols: Seq[(String, String)],
      columns: Seq[String] = Nil, emitPos: Boolean = false,
      constraints: Seq[TableLog.RgConstraint] = Nil): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FilePartition,
      PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat
    val wanted = wantedCols(unionCols, columns)
    val data = StructType(wanted.map { case (n, dt) =>
      StructField(n, DataType.fromDDL(dt), nullable = true)
    })
    // the reader fills its row-index column like a column the file
    // lacks, which it only accepts as nullable
    val required =
      if (!emitPos) data
      else data.add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true)
    val partition =
      if (!emitPos) new StructType()
      else new StructType().add("__graft_fn", StringType, nullable = false)
    val schema =
      if (!emitPos) data
      else data.add("__graft_ridx", LongType, nullable = false)
        .add("__graft_fn", StringType, nullable = false)
    if (slices.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val read = SparkInternals.parquetReader(spark, required, partition,
      pushedFilters(constraints, wanted.toMap))
    // planning knows row-group ordinals, not byte offsets (it opens no
    // footer): each split goes out as [first rg, first rg + run length)
    // and the task resolves it against the file's own footer
    val tasks = slices.groupBy(_.file).toSeq.sortBy(_._1)
      .flatMap { case (f, ss) =>
        ss.map(_.rg).sorted.grouped(rgsPerTask).map(f -> _)
      }
    val parts = tasks.zipWithIndex.map { case ((f, rgs), i) =>
      val pv =
        if (!emitPos) org.apache.spark.sql.catalyst.InternalRow.empty
        else org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new org.apache.hadoop.fs.Path(f).getName))
      val runs = rgs.foldLeft(List.empty[(Int, Int)]) {
        case ((first, n) :: done, rg) if first + n == rg =>
          (first, n + 1) :: done
        case (done, rg) => (rg, 1) :: done
      }.reverse
      FilePartition(i, runs.map { case (first, n) =>
        split(f, first, n, 0L, pv)
      }.toArray)
    }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val byteRange: PartitionedFile => Iterator[
        org.apache.spark.sql.catalyst.InternalRow] = { run =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        run.toPath, conf.value)
      val blocks = footerOf(in).getBlocks
      val (first, last) = (run.start.toInt, (run.start + run.length - 1).toInt)
      require(first >= 0 && last < blocks.size,
        s"row groups $first..$last out of range in ${run.toPath}")
      // parquet assigns a row group to the split holding its midpoint
      val from = blocks.get(first).getStartingPos
      val until = blocks.get(last).getStartingPos +
        blocks.get(last).getCompressedSize
      read(run.copy(start = from, length = until - from,
        fileSize = in.getLength))
    }
    SparkInternals.fileScanFrame(spark, byteRange, parts, schema)
  }

  private def parquetSchemaOf(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.schema.MessageType =
    footerOf(file, conf).getFileMetaData.getSchema

  /** A parquet file's footer through Spark's footer reader — a fraction
    * of the cost of `ParquetFileReader.open`, which also sets up the
    * page-reading machinery. */
  private def footerOf(in: org.apache.parquet.hadoop.util.HadoopInputFile)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
      .readFooter(in, org.apache.parquet.format.converter
        .ParquetMetadataConverter.NO_FILTER)

  private[graft] def footerOf(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    footerOf(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf))
}
