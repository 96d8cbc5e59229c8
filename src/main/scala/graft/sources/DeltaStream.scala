package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming CDC source over a FOREIGN (public-spec Delta Lake) commit
  * log — [[TxnLogStream]]'s MicroBatchStream shape pointed at
  * `_delta_log/`: offsets ARE Delta versions, a batch over (start, end]
  * emits one row per add/remove action with the file's `numRecords`
  * (from the add's `stats` JSON; a remove resolves its pre-image from
  * the live set, so retraction mass rides along). Same economics as the
  * native log stream: metadata-scale end to end, actions serialized
  * into the InputPartitions so executors never touch `_delta_log/`,
  * byte-identical batch replay on restart (versions are immutable) ⇒
  * exactly-once with any idempotent sink.
  *
  * {{{
  *   spark.readStream.format("graft.sources.DeltaStreamProvider")
  *     .option("path", base).load()
  * }}}
  */
object DeltaStream {
  val SCHEMA: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("num_records", LongType, nullable = false)))

  /** numRecords out of the add action's embedded `stats` string — the
    * field arrives JSON-escaped inside a JSON string
    * (`"stats":"{\"numRecords\":123,…}"`), so match both spellings. */
  private[sources] def numRecords(line: String): Long = {
    val m = """numRecords\\?":\s?(-?[0-9]+)""".r
    m.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(-1L)
  }

  /** One linear replay of the commit chain (the [[TxnLogStream]] trick —
    * never one replay per version): per-version action rows for
    * [from, to], removes resolved against the evolving live set.
    *
    * A VACUUMED table (log legally starts above 0, pre-checkpoint
    * commits deleted by `expireLog`) streams through its checkpoint:
    * the live set seeds from the checkpoint's add rows, offsets at or
    * below the checkpoint version collapse into ONE initial-snapshot
    * batch AT the checkpoint version (the checkpoint is immutable, so
    * restart replay stays byte-identical), and the JSON tail replays
    * from there. A vacuumed log WITHOUT a checkpoint fails explicitly
    * instead of with 'missing Delta commit 0'. */
  def actionRowsRange(base: String, from: Long, to: Long)
  : Map[Long, Seq[(String, String, Long, Long)]] = {
    val vs = DeltaLogReader.versions(base)
    require(vs.nonEmpty, s"no Delta commits under $base")
    val head = vs.head
    val live = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val out = Map.newBuilder[Long, Seq[(String, String, Long, Long)]]
    var replayFrom = 0L
    if (head > 0) {
      require(from <= to, s"empty range [$from, $to]") // clarity before the ckpt work
      val spark = org.apache.spark.sql.SparkSession.active
      // seed from the checkpoint (the snapshot at the checkpoint
      // version reads it without touching any expired commit)
      val seeded =
        try DeltaLogReader.snapshot(Some(spark), base, head).adds
        catch {
          case e: IllegalArgumentException => throw new IllegalStateException(
            s"vacuumed Delta log under $base (first commit $head) is not " +
              s"streamable without a checkpoint at $head: ${e.getMessage}")
        }
      seeded.foreach(a => live(a.path) = (a.size, a.numRecords))
      // offsets <= head are unreconstructable per-commit — emit the
      // checkpoint snapshot as one batch at the checkpoint version
      if (from <= head)
        out += head -> seeded.map(a => ("add", a.path, a.size, a.numRecords))
      replayFrom = head + 1
    }
    (replayFrom to to).foreach { v =>
      val rows = Seq.newBuilder[(String, String, Long, Long)]
      DeltaLogReader.commitLines(base, v).foreach { line =>
        if (line.contains("\"add\"")) {
          val p = DeltaLogReader.strField(line, "path").getOrElse(
            throw new IllegalStateException(s"add without path: $line"))
          val sz = DeltaLogReader.longField(line, "size").getOrElse(0L)
          val nr = numRecords(line)
          rows += (("add", p, sz, nr))
          live(p) = (sz, nr)
        } else if (line.contains("\"remove\"")) {
          DeltaLogReader.strField(line, "path").foreach { p =>
            val (sz, nr) = live.getOrElse(p, (0L, -1L))
            rows += (("remove", p, sz, nr))
            live.remove(p)
          }
        }
      }
      if (v >= from) out += v -> rows.result()
    }
    out.result()
  }
}

/** `readStream.format("graft-delta-stream")` entry point (the short
  * name rides the standard DataSourceRegister service file; the full
  * class name keeps working). */
class DeltaStreamProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-delta-stream"

  /** `writeStream.format("graft-delta-stream")` — the exactly-once
    * Delta SINK (StreamSinkProvider wins over the TableProvider read
    * path for streaming writes): each micro-batch commits via
    * [[DeltaLogWriter.appendIfAbsent]]'s txn markers, so redelivered
    * batches absorb instead of doubling. `appId` defaults to a
    * table-scoped id; set it when several independent streams feed one
    * table. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
  : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-delta-stream sink does not partition — use DeltaLogWriter for layouts")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-delta-stream sink is append-only, got $outputMode")
    val base = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta-stream sink needs .option(\"path\", <table base>)"))
    new org.apache.spark.sql.GraftDeltaStreamSink(base,
      parameters.getOrElse("appId", "graft-delta-sink"))
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeltaStream.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val base = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("DeltaStreamProvider needs .option(\"path\", <table base>)"))
    new DeltaStreamTable(base)
  }
}

final class DeltaStreamTable(base: String) extends Table with SupportsRead {
  override def name(): String = s"delta_stream($base)"
  override def schema(): StructType = DeltaStream.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = DeltaStream.SCHEMA
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new DeltaMicroBatchStream(base)
    }
}

final case class DeltaVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

final class DeltaMicroBatchStream(base: String) extends MicroBatchStream {
  override def initialOffset(): Offset = DeltaVersionOffset(-1L)
  override def latestOffset(): Offset =
    DeltaVersionOffset(DeltaLogReader.latestVersion(base))
  override def deserializeOffset(json: String): Offset =
    DeltaVersionOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DeltaVersionOffset].v + 1
    val to = end.asInstanceOf[DeltaVersionOffset].v
    if (from > to) return Array.empty
    val rows = DeltaStream.actionRowsRange(base, from, to)
    (from to to).map(v => DeltaActionsPartition(v, rows.getOrElse(v, Seq.empty).toArray)
      : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DeltaActionsReaderFactory
}

final case class DeltaActionsPartition(
    version: Long, actions: Array[(String, String, Long, Long)]) extends InputPartition

object DeltaActionsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DeltaActionsPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.actions.length }
      override def get(): InternalRow = {
        val (action, path, size, nr) = p.actions(i)
        new GenericInternalRow(Array[Any](p.version,
          UTF8String.fromString(action), UTF8String.fromString(path), size, nr))
      }
      override def close(): Unit = ()
    }
  }
}
