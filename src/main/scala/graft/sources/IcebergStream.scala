package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming change source over a PUBLIC-spec Apache Iceberg table —
  * the third leg of the lakehouse streaming triad next to the native
  * TxnLog stream and the Delta-log stream:
  *
  * {{{
  *   spark.readStream.format("graft.sources.IcebergStreamProvider")
  *     .option("path", base).load()
  * }}}
  *
  * Offsets ARE snapshot ids (totally ordered in the metadata; gaps
  * after an expiry are fine — batches plan over the DECLARED ids in
  * range). Each batch emits one row per manifest entry the snapshot
  * itself CHANGED: status=1 ADDED → `add`, status=2 DELETED →
  * `remove` (carried EXISTING entries are not changes). Iceberg
  * manifests carry each entry's `record_count` even on the DELETED
  * side, so — unlike the Delta stream — no live-set replay is needed
  * for the retraction pre-image; `content` distinguishes data files
  * from position/equality delete files, so a v2/v3 DML commit streams
  * as its delete-file additions. Metadata-scale end to end: a 100 TB
  * table's change stream is KB per snapshot, and a downstream
  * `foreachBatch` decides which referenced files to open.
  *
  * Exactly-once: snapshots are immutable and ordered; offset replay
  * re-plans byte-identical batches. Actions ride INSIDE each
  * InputPartition (metadata-sized), so executors never touch the
  * table's filesystem.
  */
object IcebergStream {
  val SCHEMA: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("content", IntegerType, nullable = false)))

  /** One snapshot's changed entries: (action, path, records, content). */
  def actionRows(spark: SparkSession, meta: IcebergReader.TableMetadata,
                 snapshotId: Long): Seq[(String, String, Long, Int)] = {
    val entries = IcebergReader.manifestEntries(spark, meta, snapshotId)
    val hasContent = entries.schema("data_file").dataType
      .asInstanceOf[StructType].fieldNames.contains("content")
    val contentCol =
      if (hasContent) col("data_file.content")
      else org.apache.spark.sql.functions.lit(0)
    entries.filter(col("status").isin(1, 2))
      .select(col("status"), col("data_file.file_path"),
        col("data_file.record_count"), contentCol.cast("int"))
      .collect().map { r =>
        (if (r.getInt(0) == 1) "add" else "remove",
          r.getString(1), r.getLong(2), r.getInt(3))
      }.toSeq
  }
}

/** The exactly-once Iceberg STREAMING SINK commit protocol: each
  * micro-batch's (appId, batchId) marker rides the committed
  * snapshot's `summary` string map — INSIDE the metadata JSON, so the
  * marker is atomic with the version-hint flip (the commit point). A
  * redelivered batch (restart, or full checkpoint loss) compares
  * against the max committed batch id for its appId and absorbs. The
  * same pattern Flink/Spark Iceberg connectors use (checkpoint id in
  * the snapshot summary); the TABLE is the source of truth. */
object IcebergStreamSink {

  private def exists(base: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "metadata", "version-hint.text"))

  /** Max committed batch id for `appId` in one table state; -1 when none. */
  def lastBatch(meta: IcebergReader.TableMetadata, appId: String): Long =
    meta.snapshots.flatMap(_.summary).flatMap { m =>
      m.get("graft-app-id").filter(_ == appId).flatMap(_ => m.get("graft-batch-id"))
    }.map(_.toLong).foldLeft(-1L)(math.max)

  /** Commit one micro-batch; false = absorbed redelivery. The first
    * batch CREATES the table (schema-only metadata, then the summary-
    * carrying snapshot 1). */
  def commit(spark: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame,
             base: String, appId: String, batchId: Long): Boolean = {
    if (!exists(base)) IcebergWriter.createEmpty(spark, df.schema, base)
    val meta = IcebergReader.load(base)
    if (lastBatch(meta, appId) >= batchId) return false
    IcebergWriter.append(spark, df, meta,
      Some(Map("graft-app-id" -> appId, "graft-batch-id" -> batchId.toString)))
    true
  }
}

/** `format("graft.sources.IcebergStreamProvider")` entry point. */
class IcebergStreamProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-iceberg-stream"

  /** `writeStream.format("graft-iceberg-stream")` — the exactly-once
    * Iceberg sink ([[IcebergStreamSink]]). */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
  : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-iceberg-stream sink does not partition — use IcebergWriter for layouts")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-iceberg-stream sink is append-only, got $outputMode")
    val base = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-iceberg-stream sink needs .option(\"path\", <table base>)"))
    new org.apache.spark.sql.GraftIcebergStreamSink(base,
      parameters.getOrElse("appId", "graft-iceberg-sink"))
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IcebergStream.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val base = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "IcebergStreamProvider needs .option(\"path\", <table base>)"))
    new IcebergStreamTable(base)
  }
}

final class IcebergStreamTable(base: String) extends Table with SupportsRead {
  override def name(): String = s"iceberg_stream($base)"
  override def schema(): StructType = IcebergStream.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = IcebergStream.SCHEMA
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new IcebergMicroBatchStream(base)
    }
}

/** Stream offset = position in the COMMIT-ordered snapshot history
  * ((sequence-number, declaration-index), not the raw snapshot id —
  * public-spec ids are random longs, so id order does not follow
  * commit order on externally-written tables). Expiry only removes
  * low-sequence (already-consumed) snapshots, so the watermark stays
  * valid across it. */
final case class SnapshotSeqOffset(seq: Long, idx: Long) extends Offset {
  override def json(): String = s"$seq:$idx"
}

final class IcebergMicroBatchStream(base: String) extends MicroBatchStream {
  override def initialOffset(): Offset = SnapshotSeqOffset(0L, -1L)
  override def latestOffset(): Offset = IcebergReader.load(base).history.lastOption
    .map(s => SnapshotSeqOffset(s.seq, s.idx)).getOrElse(SnapshotSeqOffset(0L, -1L))
  override def deserializeOffset(json: String): Offset = json.trim.split(':') match {
    case Array(seq, idx) => SnapshotSeqOffset(seq.toLong, idx.toLong)
    case _ => throw new IllegalArgumentException(s"bad Iceberg stream offset: $json")
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotSeqOffset]
    val e = end.asInstanceOf[SnapshotSeqOffset]
    val spark = SparkSession.active
    val meta = IcebergReader.load(base)
    // plan over the commit-ordered history in (start, end] — ids play
    // no ordering role, so random public-spec ids stream correctly
    val snaps = meta.history.filter { o =>
      val afterStart = o.seq > s.seq || (o.seq == s.seq && o.idx > s.idx)
      val atOrBeforeEnd = o.seq < e.seq || (o.seq == e.seq && o.idx <= e.idx)
      afterStart && atOrBeforeEnd
    }
    snaps.map { o =>
      IcebergActionsPartition(o.id, IcebergStream.actionRows(spark, meta, o.id).toArray)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    IcebergActionsReaderFactory
}

/** Actions ride inside the partition — executors never read metadata/. */
final case class IcebergActionsPartition(
    snapshotId: Long, actions: Array[(String, String, Long, Int)]) extends InputPartition

object IcebergActionsReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.unsafe.types.UTF8String
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[IcebergActionsPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.actions.length }
      override def get(): InternalRow = {
        val (action, path, records, content) = p.actions(i)
        new GenericInternalRow(Array[Any](p.snapshotId,
          UTF8String.fromString(action), UTF8String.fromString(path),
          records, content))
      }
      override def close(): Unit = ()
    }
  }
}
