package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRowLevelOperations}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Pure-SQL row-level DML for the catalog's Delta tables — the DSv2
  * `SupportsRowLevelOperations` surface, DELTA-based (`SupportsDelta`):
  *
  * {{{
  *   DELETE FROM lakecat.ns.t WHERE pred        -- metadata-only DVs
  *   UPDATE lakecat.ns.t SET x = e WHERE pred   -- DVs + changed rows
  *   MERGE INTO lakecat.ns.t USING src ON ...   -- all clause kinds
  * }}}
  *
  * The 100 TB shape is the point of choosing DELTA mode over
  * group-based: Spark's rewrite hands this connector only the CHANGED
  * rows (per-row delete/update/insert callbacks with a row identity),
  * so executors write new-row files sized to the DML, deleted
  * positions become per-file deletion-vector bitmaps, and NOT ONE
  * untouched row is rewritten — the same economics as
  * [[DeltaLogWriter.deleteWhereDv]]. Group-based ReplaceData would
  * rewrite every candidate file wholesale.
  *
  * Moving parts:
  *   - row identity = (`__path`, `__pos`) metadata columns (Spark's
  *     `rowId()` contract, the Iceberg `_file`/`_pos` pattern) served
  *     by [[DeltaLogWriter.sqlDmlScan]] — the DV-masked live scan, so
  *     a row deleted by a previous DV can never match again;
  *   - `__pre` metadata struct carries the OLD row into the writer
  *     callbacks — CDF pre-images and delete change rows come from it
  *     (preserved-on-update per MetadataColumn defaults);
  *   - executors persist inserted/updated rows + CDF rows through
  *     Spark's own parquet OutputWriterFactory
  *     ([[org.apache.spark.sql.GraftWriteBridge.parquetSink]]) — the
  *     staged files are byte-identical to DataFrame writes;
  *   - [[DeltaLogWriter.commitRowDelta]] assembles ONE commit: merged
  *     DVs per touched file, adds for staged files, cdc actions.
  *
  * Simple `DELETE FROM ... WHERE <translatable>` never reaches this
  * machinery: [[DeltaSqlDml.deleteWhere]] (SupportsDelete) lets
  * Spark's OptimizeMetadataOnlyDeleteFromTable route it straight into
  * [[DeltaLogWriter.deleteWhereDv]] with zero scan-rewrite.
  *
  * HIVE-PARTITIONED tables work end-to-end: the scan recovers
  * partition values via basePath, the executor writers stage one file
  * per touched partition in the `col=value/` layout (partition columns
  * dropped from the file bytes; values derive into each add's
  * partitionValues from the staged path), and DV masks key on the
  * partition-qualified paths. COLUMN-MAPPED tables bind the logical
  * spelling while staged files carry physical names + field ids.
  * ROW-TRACKED tables preserve ids: the `__rid` metadata column
  * carries each target row's stable id into the update callback,
  * staged files materialize it (inserts fall back to the add's fresh
  * `baseRowId` range), and the commit bumps the id high-water mark.
  * IDENTITY tables enforce their contract per row in the writer:
  * UPDATE may not reassign the identity value and an INSERT clause
  * refuses (minting ids is [[DeltaLogWriter.appendIdentity]]'s
  * high-water-mark job) — DELETE and non-inserting MERGE compose.
  */
private[sources] object LakeSqlDml {

  /** Metadata columns every DML-capable Delta table exposes; a
    * row-tracked table additionally surfaces `__rid` — the row's
    * stable id, which updates thread into the staged files. */
  def metadataColumnsFor(dataSchema: StructType,
                         rowTracked: Boolean = false): Array[MetadataColumn] = (Array(
    new MetadataColumn {
      override def name: String = "__path"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "data file holding the row (row identity)"
    },
    new MetadataColumn {
      override def name: String = "__pos"
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "row position within its file (row identity)"
    },
    new MetadataColumn {
      override def name: String = "__pre"
      override def dataType: DataType = dataSchema
      override def isNullable: Boolean = false
      override def comment: String = "the full old row (CDF pre-images)"
    }) ++ (if (!rowTracked) Array.empty[MetadataColumn] else Array[MetadataColumn](
    new MetadataColumn {
      override def name: String = "__rid"
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "stable row id (row tracking)"
    })))

  /** The delta-based row-level operation over one Delta table, pinned
    * to the snapshot resolved when it is built: every DSv2 callback
    * (metadata attributes, scan schema, scan, write) reads that one
    * snapshot. */
  final class DeltaRowLevelOperation(base: String, cmd: Command)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

    private val snap = DeltaLogReader.snapshot(SparkSession.active, base)

    override def command: Command = cmd
    override def description: String = s"graft-delta row-level $cmd on $base"

    override def rowId(): Array[NamedReference] =
      Array(Expressions.column("__path"), Expressions.column("__pos"))

    // the old row (CDF pre-images) — plus, on a row-tracked table, the
    // old row's stable id so the update callback can thread it into
    // the staged file's materialized column
    override def requiredMetadataAttributes(): Array[NamedReference] =
      Array[NamedReference](Expressions.column("__pre")) ++
        snap.rowTrackingCols.map(_ => Expressions.column("__rid")).toArray[NamedReference]

    // the scan: V1-read fallback over the DV-masked live scan with the
    // row-identity and pre-image columns attached; pushed filters are
    // re-stated on the inner plan (parquet pushdown through the mask
    // anti-joins) and ALL stay residual upstream, so a translation gap
    // can never change which rows the DML matches
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
        private val fullSchema =
          DeltaLogWriter.sqlDmlScan(SparkSession.active, snap).schema
        private var pushed: Array[Filter] = Array.empty
        private var required: StructType = fullSchema
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters.filter(LakeBatchSources.translateFilter(_).isDefined)
          filters
        }
        override def pushedFilters(): Array[Filter] = pushed
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema
        override def build(): Scan = new V1Scan {
          private val (pf, req) = (pushed, required)
          override def readSchema(): StructType = req
          override def toV1TableScan[T <: BaseRelation with TableScan](
              ctx: SQLContext): T =
            (new BaseRelation with TableScan {
              override def sqlContext: SQLContext = ctx
              override def schema: StructType = req
              override def needConversion: Boolean = false
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                val s = SparkSession.active
                require(DeltaLogReader.latestVersion(base) == snap.version,
                  s"$base changed under the DML — re-run the statement")
                var df = DeltaLogWriter.sqlDmlScan(s, snap)
                pf.flatMap(LakeBatchSources.translateFilter).foreach(c => df = df.filter(c))
                df = df.select(req.fieldNames.toIndexedSeq.map(col): _*)
                org.apache.spark.sql.GraftPlanBridge.internalRdd(df)
                  .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
              }
            }).asInstanceOf[T]
        }
      }

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite =
          new GraftDeltaWrite(snap, cmd.toString, info)
      }
  }

  /** One WriteDelta batch: builds the executor sinks driver-side, then
    * commits DVs + staged adds + CDF in one Delta commit. On a
    * hive-partitioned table the executors stage per-partition files in
    * the `col=value/` layout (partition columns are DROPPED from the
    * file bytes, like every other writer here — values live in the
    * dirs and each add's partitionValues, which commitRowDelta's
    * addActions derive from the staged path). */
  private final class GraftDeltaWrite(snap: DeltaLogReader.Snapshot,
                                      opName: String, info: LogicalWriteInfo)
    extends DeltaWrite {
    private val (base, expectVersion) = (snap.base, snap.version)
    override def description: String = s"graft-delta $opName -> $base"
    override def toBatch: DeltaBatchWrite = {
      val spark = SparkSession.active
      val dataSchema = info.schema
      // (logical, physical dir spelling) partition columns; on a
      // MAPPED table the staged file schema renames to PHYSICAL names
      // and embeds the parquet field ids (the spec's writer rule in
      // both modes — the id-bound and physical-name scan paths read
      // these files like any other writer's)
      val physOf: Map[String, String] = snap.physicalNames.getOrElse(Nil).toMap
      val idOf: Map[String, Long] = snap.mappedSchema.toSeq.flatMap(_.fields)
        .map(f => f.name -> f.metadata.getLong("delta.columnMapping.id")).toMap
      val pcols = snap.partitionColumns.map(c => c -> physOf.getOrElse(c, c))
      val partSpec: Seq[(Int, DataType)] = pcols.map { case (c, _) =>
        val i = dataSchema.fieldIndex(c)
        val dt = dataSchema.fields(i).dataType
        require(dt == StringType || dt == LongType ||
          dt == org.apache.spark.sql.types.IntegerType,
          s"SQL DML partition routing handles string/int/long partition " +
            s"columns; $c is ${dt.simpleString}")
        (i, dt)
      }
      val partLogical = pcols.map(_._1).toSet
      def toFileField(f: StructField): StructField = {
        val meta = idOf.get(f.name).map(id => new org.apache.spark.sql.types
          .MetadataBuilder().putLong("parquet.field.id", id).build())
        StructField(physOf.getOrElse(f.name, f.name), f.dataType, f.nullable,
          meta.getOrElse(org.apache.spark.sql.types.Metadata.empty))
      }
      // row tracking: staged files carry the materialized id/version
      // columns (no field ids — they are not in the logical schema);
      // updates thread the target row's id through __rid, inserts
      // stage NULL and fall back to the add's fresh baseRowId range.
      // Every staged row takes THIS commit as its version.
      val rtCols: Seq[StructField] =
        snap.rowTrackingCols.toSeq.flatMap {
          case (matId, matVer) => Seq(
            StructField(matId, LongType, nullable = true),
            StructField(matVer, LongType, nullable = true))
        }
      // the staged FILE schema omits partition columns (hive layout)
      val fileSchema = StructType(
        dataSchema.fields.filterNot(f => partLogical.contains(f.name))
          .map(toFileField) ++ rtCols)
      val keepIdx = dataSchema.fields.zipWithIndex
        .filterNot { case (f, _) => partLogical.contains(f.name) }.map(_._2)
      val cdfOn = snap.configuration.get("delta.enableChangeDataFeed").contains("true")
      // cdc files carry PHYSICAL names on a mapped table (the same
      // convention as the Scala DML's _change_data; readChanges renames
      // back per version)
      val cdcSchema = StructType(dataSchema.fields.map(toFileField) :+
        StructField("_change_type", StringType, nullable = false))
      if (cdfOn)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(base, "_change_data"))
      val writeId = java.util.UUID.randomUUID.toString.take(8)
      // field-id embedding needs the session flag ON while the sink's
      // write support is PREPARED (driver side, scoped + restored)
      def mkSink(schema: StructType) =
        if (idOf.isEmpty) org.apache.spark.sql.GraftWriteBridge.parquetSink(spark, schema)
        else DeltaLogWriter.withFieldIdWrites(spark)(
          org.apache.spark.sql.GraftWriteBridge.parquetSink(spark, schema))
      // identity contract: the writer validates per row — updates may
      // not change the value, inserts cannot mint one (the
      // high-water-mark coordination lives in appendIdentity)
      val identity = snap.identityColumn.map(_.name)
      val factory = new GraftDmlWriterFactory(base, writeId,
        mkSink(fileSchema),
        if (cdfOn) Some(mkSink(cdcSchema)) else None,
        dataSchema.fields.map(_.dataType),
        pcols.map(_._2).toIndexedSeq, partSpec.toIndexedSeq, keepIdx.toIndexedSeq,
        rowTracked = rtCols.nonEmpty, commitVersion = expectVersion + 1,
        identity = identity.map(nm => (nm, dataSchema.fieldIndex(nm))))

      new DeltaBatchWrite {
        override def createBatchWriterFactory(i: PhysicalWriteInfo): DeltaWriterFactory =
          factory
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          val ms = messages.toSeq.collect { case m: SqlDmlMessage => m }
          val delPos: Map[String, Seq[Long]] = ms.flatMap(_.delPos)
            .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap
          DeltaLogWriter.commitRowDelta(SparkSession.active, base, expectVersion,
            delPos, ms.flatMap(_.dataRels), ms.flatMap(_.cdcRel), opName)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          messages.toSeq.collect { case m: SqlDmlMessage => m }.foreach { m =>
            (m.dataRels ++ m.cdcRel).foreach(rel =>
              java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(base, rel)))
          }
      }
    }
  }

  /** The delta-based row-level operation over one ICEBERG table — the
    * same WriteDelta shape as [[DeltaRowLevelOperation]] (row identity
    * = (`__path`, `__pos`) off the delete-masked scan, executors write
    * only CHANGED rows), committing ONE snapshot: position-delete
    * files on v2, puffin-DV unions on v3, staged new-row files either
    * way ([[IcebergWriter.commitRowDelta]]). Partitioned and
    * schema-evolved tables refuse toward the Scala entry points
    * ([[IcebergWriter.sqlDmlGuards]]); simple DELETEs never get here
    * (`SupportsDelete` serves them on every composition). */
  final class IcebergRowLevelOperation(meta: IcebergReader.TableMetadata, cmd: Command)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

    private val base = meta.base
    private lazy val guarded: Unit = IcebergWriter.sqlDmlGuards(meta)

    override def command: Command = cmd
    override def description: String = s"graft-iceberg row-level $cmd on $base"

    override def rowId(): Array[NamedReference] =
      Array(Expressions.column("__path"), Expressions.column("__pos"))

    override def requiredMetadataAttributes(): Array[NamedReference] =
      Array(Expressions.column("__pre"))

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
        guarded
        private val fullSchema =
          IcebergWriter.sqlDmlScan(SparkSession.active, meta).schema
        private var pushed: Array[Filter] = Array.empty
        private var required: StructType = fullSchema
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters.filter(LakeBatchSources.translateFilter(_).isDefined)
          filters
        }
        override def pushedFilters(): Array[Filter] = pushed
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema
        override def build(): Scan = new V1Scan {
          private val (pf, req) = (pushed, required)
          override def readSchema(): StructType = req
          override def toV1TableScan[T <: BaseRelation with TableScan](
              ctx: SQLContext): T =
            (new BaseRelation with TableScan {
              override def sqlContext: SQLContext = ctx
              override def schema: StructType = req
              override def needConversion: Boolean = false
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                val s = SparkSession.active
                require(IcebergReader.currentMetadataVersion(base) == meta.version,
                  s"$base changed under the DML — re-run the statement")
                var df = IcebergWriter.sqlDmlScan(s, meta)
                pf.flatMap(LakeBatchSources.translateFilter).foreach(c => df = df.filter(c))
                df = df.select(req.fieldNames.toIndexedSeq.map(col): _*)
                org.apache.spark.sql.GraftPlanBridge.internalRdd(df)
                  .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
              }
            }).asInstanceOf[T]
        }
      }

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = {
          guarded
          new GraftIcebergDeltaWrite(meta, cmd.toString, info)
        }
      }
  }

  /** One Iceberg WriteDelta batch: executor-staged `data/` files +
    * DML-sized position metadata → one [[IcebergWriter.commitRowDelta]]
    * snapshot. No partition routing (partitioned tables refused), no
    * CDC (Iceberg has no change feed). */
  private final class GraftIcebergDeltaWrite(meta: IcebergReader.TableMetadata,
                                             opName: String, info: LogicalWriteInfo)
    extends DeltaWrite {
    private val base = meta.base
    override def description: String = s"graft-iceberg $opName -> $base"
    override def toBatch: DeltaBatchWrite = {
      val spark = SparkSession.active
      val dataSchema = info.schema
      val writeId = java.util.UUID.randomUUID.toString.take(8)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base, "data"))
      val factory = new GraftDmlWriterFactory(base, writeId,
        org.apache.spark.sql.GraftWriteBridge.parquetSink(spark, dataSchema),
        cdcSink = None,
        dataSchema.fields.map(_.dataType),
        pcols = IndexedSeq.empty, partSpec = IndexedSeq.empty,
        keepIdx = dataSchema.fields.indices.toIndexedSeq,
        rowTracked = false, commitVersion = meta.currentSnapshotId + 1,
        relPrefix = "data/")
      new DeltaBatchWrite {
        override def createBatchWriterFactory(i: PhysicalWriteInfo): DeltaWriterFactory =
          factory
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          val ms = messages.toSeq.collect { case m: SqlDmlMessage => m }
          val delPos: Map[String, Seq[Long]] = ms.flatMap(_.delPos)
            .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap
          IcebergWriter.commitRowDelta(SparkSession.active, meta,
            delPos, ms.flatMap(_.dataRels), opName)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          messages.toSeq.collect { case m: SqlDmlMessage => m }.foreach { m =>
            m.dataRels.foreach(rel =>
              java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(base, rel)))
          }
      }
    }
  }

  /** What one task hands back: its staged file(s) + per-file deleted
    * positions. Rel paths are table-relative (Delta add convention);
    * partitioned tables stage one file per touched partition in the
    * hive `col=value/` layout. */
  private final case class SqlDmlMessage(dataRels: Seq[String], cdcRel: Option[String],
                                         delPos: Seq[(String, Seq[Long])])
    extends WriterCommitMessage

  private final class GraftDmlWriterFactory(
      base: String, writeId: String,
      dataSink: org.apache.spark.sql.GraftParquetSink,
      cdcSink: Option[org.apache.spark.sql.GraftParquetSink],
      dataTypes: Array[DataType],
      pcols: IndexedSeq[String],
      partSpec: IndexedSeq[(Int, DataType)],
      keepIdx: IndexedSeq[Int],
      rowTracked: Boolean,
      commitVersion: Long,
      relPrefix: String = "",
      identity: Option[(String, Int)] = None) extends DeltaWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
      new DeltaWriter[InternalRow] {
        private val n = dataTypes.length
        private val cdcRel = s"_change_data/cdc-$writeId-p$partitionId-t$taskId.parquet"
        // one sink per touched hive partition dir ("" = unpartitioned)
        private val dataOut =
          mutable.LinkedHashMap.empty[String, org.apache.spark.sql.GraftParquetSink.Opened]
        private val dataRels = mutable.ArrayBuffer.empty[String]
        private var cdcOut: org.apache.spark.sql.GraftParquetSink.Opened = _
        private val delPos = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

        /** The hive dir prefix for `row`, "" when unpartitioned. */
        private def hiveDir(row: InternalRow): String =
          if (partSpec.isEmpty) ""
          else pcols.indices.map { k =>
            val (i, dt) = partSpec(k)
            require(!row.isNullAt(i),
              s"NULL partition value for ${pcols(k)} — not staged by this writer")
            val v = dt match {
              case StringType => row.getUTF8String(i).toString
              case LongType   => row.getLong(i).toString
              case _          => row.getInt(i).toString
            }
            pcols(k) + "=" + org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(v)
          }.mkString("", "/", "/")

        private def dataWriter(row: InternalRow): org.apache.spark.sql.GraftParquetSink.Opened = {
          val dir = hiveDir(row)
          dataOut.getOrElseUpdate(dir, {
            val rel = s"$relPrefix${dir}dml-$writeId-p$partitionId-t$taskId.parquet"
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(base, rel).getParent)
            dataRels += rel
            dataSink.open(s"$base/$rel", partitionId, taskId)
          })
        }
        /** Partition columns are dropped from the file bytes; a
          * row-tracked file appends (materialized id, commit version)
          * — `rid` is the OLD row's id on update, null on insert. */
        private def fileRow(row: InternalRow, rid: java.lang.Long): InternalRow =
          if (partSpec.isEmpty && !rowTracked) row
          else {
            val extra = if (rowTracked) 2 else 0
            val vals = new Array[Any](keepIdx.length + extra)
            var k = 0
            while (k < keepIdx.length) {
              val i = keepIdx(k)
              vals(k) = row.get(i, dataTypes(i)); k += 1
            }
            if (rowTracked) {
              vals(k) = rid
              vals(k + 1) = java.lang.Long.valueOf(commitVersion)
            }
            new GenericInternalRow(vals)
          }
        private def cdc(src: InternalRow, change: String): Unit =
          cdcSink.foreach { sink =>
            if (cdcOut == null)
              cdcOut = sink.open(s"$base/$cdcRel", partitionId, taskId)
            val vals = new Array[Any](n + 1)
            var i = 0
            while (i < n) { vals(i) = src.get(i, dataTypes(i)); i += 1 }
            vals(n) = UTF8String.fromString(change)
            cdcOut.write(new GenericInternalRow(vals))
          }
        private def recordDelete(id: InternalRow): Unit = {
          val path = id.getUTF8String(0).toString
          delPos.getOrElseUpdate(path, mutable.ArrayBuffer.empty) += id.getLong(1)
        }

        // meta = (__pre struct [, __rid]); id = (__path, __pos);
        // row = new values
        override def delete(meta: InternalRow, id: InternalRow): Unit = {
          recordDelete(id)
          cdc(meta.getStruct(0, n), "delete")
        }
        override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
          val pre = meta.getStruct(0, n)
          identity.foreach { case (nm, i) =>
            require(!row.isNullAt(i) && row.getLong(i) == pre.getLong(i),
              s"UPDATE would reassign identity column $nm — ids are " +
                "writer-assigned (appendIdentity)")
          }
          recordDelete(id)
          cdc(pre, "update_preimage")
          val rid = if (rowTracked) java.lang.Long.valueOf(meta.getLong(1)) else null
          dataWriter(row).write(fileRow(row, rid))
          cdc(row, "update_postimage")
        }
        override def insert(row: InternalRow): Unit = {
          identity.foreach { case (nm, _) =>
            throw new IllegalArgumentException(
              s"SQL INSERT clause cannot mint identity column $nm — " +
                "the high-water-mark contract lives in appendIdentity")
          }
          dataWriter(row).write(fileRow(row, null))
          cdc(row, "insert")
        }

        override def commit(): WriterCommitMessage = {
          dataOut.values.foreach(_.close())
          if (cdcOut != null) cdcOut.close()
          SqlDmlMessage(
            dataRels.toSeq,
            Option(cdcOut).map(_ => cdcRel),
            delPos.toSeq.map { case (p, b) => (p, b.toSeq) })
        }
        override def abort(): Unit = {
          dataOut.values.foreach(_.close())
          dataRels.foreach(rel =>
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(base, rel)))
          if (cdcOut != null) { cdcOut.close()
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(base, cdcRel)) }
        }
        override def close(): Unit = ()
      }
  }
}

/** Mixed into the front-door Delta tables: pure-SQL DML capability.
  * Simple DELETEs go metadata-only through [[SupportsDelete]]; UPDATE,
  * MERGE, and non-translatable DELETEs go through the delta-based
  * row-level operation ([[LakeSqlDml.DeltaRowLevelOperation]]). */
private[sources] trait DeltaSqlDml extends SupportsRowLevelOperations
  with SupportsDelete with SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** The Delta table base path. */
  def dmlBase: String

  /** SQL `TRUNCATE TABLE cat.ns.t` — one remove-only metadata commit
    * ([[DeltaLogWriter.truncate]]); schema and history survive. */
  override def truncateTable(): Boolean = {
    DeltaLogWriter.truncate(SparkSession.active, dmlBase)
    true
  }

  override def metadataColumns(): Array[MetadataColumn] = {
    val snap = DeltaLogReader.snapshot(SparkSession.active, dmlBase)
    LakeSqlDml.metadataColumnsFor(
      snap.schema.getOrElse(throw new IllegalStateException(s"$dmlBase declares no schema")),
      rowTracked = snap.rowTrackingCols.isDefined)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(LakeBatchSources.translateFilter(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(LakeBatchSources.translateFilter)
      .reduceOption(_ && _).getOrElse(lit(true))
    if (DeltaLogReader.snapshot(spark, dmlBase).adds.nonEmpty)
      DeltaLogWriter.deleteWhereDv(spark, dmlBase, cond)
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new LakeSqlDml.DeltaRowLevelOperation(dmlBase, info.command)
    }
}

/** Mixed into the front-door MERGE-ON-READ Hudi tables: pure-SQL
  * `DELETE FROM cat.ns.t WHERE <translatable>` tombstones the matched
  * keys in one delta commit ([[HudiWriter.deleteWhere]]) — the MOR
  * delete economics, no base file rewritten. */
private[sources] trait HudiSqlDelete extends SupportsDelete {

  /** The Hudi table base path. */
  def delBase: String

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(LakeBatchSources.translateFilter(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(LakeBatchSources.translateFilter)
      .reduceOption(_ && _).getOrElse(lit(true))
    HudiWriter.deleteWhere(spark, delBase, cond)
    ()
  }
}

/** Mixed into the front-door Iceberg tables: pure-SQL
  * `DELETE FROM cat.ns.t WHERE <translatable>` routes METADATA-ONLY
  * into [[IcebergWriter.deleteWhere]] — position-delete files on a
  * v2 table, puffin DVs on v3 (the writer picks per format-version);
  * no data file is rewritten either way. Non-translatable predicates
  * refuse (Spark reports the unsupported delete) rather than
  * silently rewriting — UPDATE/MERGE stay with the Scala entry
  * points (`upsertEq` is the CDC shape). */
private[sources] trait IcebergSqlDelete extends SupportsDelete {

  /** The table state the front door resolved for this statement. */
  def iceMeta: IcebergReader.TableMetadata

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(LakeBatchSources.translateFilter(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(LakeBatchSources.translateFilter)
      .reduceOption(_ && _).getOrElse(lit(true))
    if (iceMeta.currentSnapshotId >= 0) IcebergWriter.deleteWhere(spark, iceMeta, cond)
  }
}

/** Mixed into the front-door Iceberg tables: the full pure-SQL DML
  * surface — simple DELETEs metadata-only via [[IcebergSqlDelete]];
  * `UPDATE` / `MERGE INTO` / complex DELETEs through the delta-based
  * row-level operation ([[LakeSqlDml.IcebergRowLevelOperation]]):
  * executors write only changed rows, deleted positions land as
  * position-delete files (v2) or puffin-DV unions (v3), one snapshot
  * per statement. */
private[sources] trait IcebergSqlDml extends SupportsRowLevelOperations
  with IcebergSqlDelete with SupportsMetadataColumns {

  override def metadataColumns(): Array[MetadataColumn] =
    LakeSqlDml.metadataColumnsFor(
      IcebergWriter.sqlDmlSchema(SparkSession.active, iceMeta))

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new LakeSqlDml.IcebergRowLevelOperation(iceMeta, info.command)
    }
}
