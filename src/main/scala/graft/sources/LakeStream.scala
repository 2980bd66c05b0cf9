package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{RowGroupScan, TableLog}

/** Structured-Streaming SOURCE over a [[graft.operators.TableLog]] table —
  * the read half of the lake streaming loop ([[graft.streaming
  * .TableLogSink]] is the write half): `spark.readStream
  * .format("graft-lake").load(dir)` tails the transaction log and emits
  * each APPEND commit's rows exactly once, with the committed VERSION as
  * the stream offset (restart-safe through the normal checkpoint
  * machinery — an offset is one integer, and version-diffing the log
  * reconstructs any batch deterministically).
  *
  * Semantics (the Delta streaming-source contract):
  *  - op "append" commits stream their ADDED files' rows;
  *  - op "optimize" / "bloom-stats" commits move no rows (rewrites and
  *    index sidecars) and are skipped silently;
  *  - every other op (overwrite, delete, update, delete-dv, restore,
  *    merge, raw "write") CHANGES existing rows — the stream fails
  *    loudly unless `skipChangeCommits=true` (then the commit is
  *    skipped and appends resume), so a consumer can never silently
  *    miss a rewrite.
  *
  * Options: `startingVersion` (default 0 = from the table's beginning;
  * N streams commits AFTER version N), `skipChangeCommits`,
  * `maxVersionsPerTrigger` (rate control: cap each micro-batch's
  * version span so catching up on a long-lived table runs in bounded
  * batches; AvailableNow walks to a pinned target under the same cap).
  *
  * Scale: planning is driver-side log-json diffing — O(files-per-commit)
  * strings per micro-batch, never data bytes. Each added file is one
  * input partition; executors read their file through Spark's own
  * parquet reader in the stream schema (nested LIST/MAP/struct shapes
  * included — chat-shaped training tables stream as-is; schema-evolved
  * files fill missing columns with nulls and widen narrower types, and a
  * type that cannot widen fails loudly), no SparkSession or encoder
  * machinery on the reader path. Vacuuming a
  * version the stream has not consumed yet fails the replay loudly
  * rather than dropping rows. */
class LakeStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"
  override def supportsExternalMetadata(): Boolean = true

  private def dirOf(options: JMap[String, String]): String = {
    val d = Option(options.get("path")).getOrElse(
      sys.error("graft-lake needs a table path: .load(dir) or " +
        "option(\"path\", dir)"))
    d
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableLog.readEvolved(SparkSession.active, dirOf(options)).schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LakeStreamTable(dirOf(properties), schema)
}

private[sources] class LakeStreamTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_lake:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val skipChange = options.getBoolean("skipChangeCommits", false)
    val startV = options.getInt("startingVersion", 0)
    val maxV = options.getInt("maxVersionsPerTrigger", 0)
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new LakeMicroBatchStream(dir, tableSchema, skipChange, startV,
            maxV)
      }
    }
  }
}

private[sources] case class LakeVersionOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] case class LakeFilePartition(path: String)
  extends InputPartition

private[sources] class LakeMicroBatchStream(dir: String,
    schema: StructType, skipChangeCommits: Boolean, startingVersion: Int,
    maxVersionsPerTrigger: Int)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  // rate control: maxVersionsPerTrigger caps each micro-batch's version
  // span, so a stream starting against a long-lived table catches up in
  // bounded batches instead of one giant first batch; AvailableNow pins
  // the catch-up target ONCE (prepareForTriggerAvailableNow) and the
  // admission-controlled latestOffset walks to it
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(math.max(startingVersion,
      TableLog.currentVersion(dir)))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val head = availableNowTarget.getOrElse(math.max(startingVersion,
      TableLog.currentVersion(dir)))
    val capped =
      if (maxVersionsPerTrigger > 0)
        math.min(head, s + maxVersionsPerTrigger)
      else head
    LakeVersionOffset(math.max(s, capped))
  }

  override def initialOffset(): Offset =
    LakeVersionOffset(startingVersion)

  override def latestOffset(): Offset =
    LakeVersionOffset(math.max(startingVersion,
      TableLog.currentVersion(dir)))

  override def deserializeOffset(json: String): Offset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    LakeVersionOffset(m.readTree(json).get("version").asInt())
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    val parts = Seq.newBuilder[InputPartition]
    var prevFiles: Set[String] = null // lazily from snapshot(s)
    def filesAt(v: Int): Set[String] =
      if (v == 0) Set.empty
      else TableLog.snapshot(dir, v).files.toSet
    (s + 1 to e).foreach { v =>
      val snap = TableLog.snapshot(dir, v) // loud if vacuumed mid-replay
      val prev = if (prevFiles != null) prevFiles else filesAt(v - 1)
      prevFiles = snap.files.toSet
      snap.op match {
        case "append" =>
          val added = snap.files.filterNot(prev)
          require(snap.dvs.keySet.intersect(added.toSet).isEmpty,
            s"append at v$v carries deletion vectors on its own files")
          added.foreach { f =>
            parts += LakeFilePartition(
              java.nio.file.Paths.get(dir).resolve(f).toString)
          }
        case "optimize" | "bloom-stats" | "add-check" | "drop-check" =>
          // rewrites / index sidecars / constraint metadata: no row change
        case other =>
          if (!skipChangeCommits) throw new IllegalStateException(
            s"graft-lake stream hit a change commit (op '$other' at " +
              s"version $v of $dir): existing rows were rewritten. " +
              "Restart from a newer startingVersion or set " +
              "skipChangeCommits=true to stream appends only.")
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new LakeReaderFactory(
      SparkInternals.parquetReader(spark, SparkInternals.asNullable(schema),
        new StructType(), Nil),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
  }
}

/** Reads each added file whole through Spark's parquet reader in the
  * stream schema: a column the file predates reads null, a narrower
  * file type widens, a type that cannot widen fails loudly. */
private[sources] class LakeReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val rows = read(RowGroupScan.wholeFile(
      partition.asInstanceOf[LakeFilePartition].path, conf.value))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = null
      override def next(): Boolean = {
        current = if (rows.hasNext) rows.next() else null
        current != null
      }
      override def get(): InternalRow = current
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
