package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BATCH DSv2 front doors for the three lakehouse formats — the
  * `spark.read.format(...)` / `CREATE [TEMPORARY] VIEW ... USING`
  * surface catalogs and BI tools need (the Scala readers and the SQL
  * TVFs exist, but a config-less tool can only speak `format(...)`):
  *
  * {{{
  *   spark.read.format("graft-delta").option("path", base).load()
  *   spark.read.format("graft-iceberg").option("path", base).load()
  *   spark.read.format("graft-hudi").option("path", base).load()
  * }}}
  *
  * Each provider runs the format's KB-scale metadata planning ONCE at
  * table resolution and hands the LIVE FILE LIST to Spark's own
  * [[ParquetTable]] — so the scan is the ordinary DSv2 parquet scan:
  * vectorized reading, predicate pushdown, column pruning, and
  * whole-stage codegen all intact (a custom row-by-row
  * PartitionReader here would silently lose all four). Time travel
  * rides an option (`versionAsOf` / `snapshotAsOf` / `asOfInstant`).
  *
  * Row-level masks CANNOT ride a raw file scan, so tables whose
  * snapshot carries deletion vectors / delete files / MOR log files
  * scan through the FULL readers' mask-applying plans instead
  * ([[DeltaLogReader.read]], [[IcebergReader.read]],
  * [[HudiReader.readMor]]) via the V1-read fallback (`V1Scan`, the
  * JDBC pattern) — pushed filters are re-stated on the inner plan, so
  * its parquet scans keep pushdown/pruning/codegen, and the masks are
  * never silently skipped. COLUMN-MAPPED Delta tables (either mode) ride the
  * front door: the requested schema carries `parquet.field.id` =
  * `delta.columnMapping.id` under the LOGICAL names and Spark's own
  * field-id resolution binds the physical columns (this engine's
  * mapped files always embed ids, the spec's writer requirement);
  * files without ids fail loudly rather than mis-bind. Short names
  * resolve through the standard `DataSourceRegister` service file.
  *
  * WRITES ride the V1-fallback DSv2 write surface
  * (`TableCapability.V1_BATCH_WRITE` + [[InsertableRelation]]):
  * `df.write.format("graft-delta").mode("append"/"overwrite").save()`
  * and pure-SQL `INSERT INTO <view created with USING>` route into
  * [[DeltaLogWriter.append]]/[[DeltaLogWriter.overwrite]] — the full
  * writer, so CHECK constraints, generated columns, column mapping,
  * and row tracking all hold on this path too. `graft-iceberg`
  * supports append ([[IcebergWriter.append]]); `graft-hudi` stays
  * read-only (an upsert needs the record-key/bucket spec — use
  * [[HudiWriter]]).
  */
private[sources] object LakeBatchSources {

  def pathOf(options: CaseInsensitiveStringMap, who: String): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      s"$who needs .option(\"path\", <table base>) / OPTIONS (path '<table base>')"))

  def parquetTable(name: String, paths: Seq[String],
                   schema: Option[StructType],
                   extraOpts: Map[String, String]): ParquetTable = {
    val spark = SparkSession.active
    ParquetTable(name, spark,
      new CaseInsensitiveStringMap(extraOpts.asJava),
      paths, schema, classOf[ParquetFileFormat])
  }

  /** A DSv2 table that SCANS through the delegate's ordinary parquet
    * scan (pushdown/pruning/codegen intact) and WRITES through the
    * format's full log writer via the V1-fallback write surface. */
  private class GraftLakeTable(delegate: ParquetTable, tname: String,
                                     doInsert: Option[(DataFrame, Boolean) => Unit],
                                     scanOpts: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite {
    override def name(): String = tname
    override def schema(): StructType = delegate.schema
    override def capabilities(): util.Set[TableCapability] =
      (Set(TableCapability.BATCH_READ) ++
        // BATCH_WRITE is what DataFrameWriter.save gates its v2 path on;
        // the planner then dispatches our V1Write to AppendDataExecV1 /
        // OverwriteByExpressionExecV1 (the sanctioned V1-fallback write)
        doInsert.map(_ => Set(TableCapability.BATCH_WRITE,
          TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE)).getOrElse(Set.empty)).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      // scanOpts ride EVERY scan of this table (they merge into the
      // scan's hadoopConf via newHadoopConfWithOptions) — e.g. the
      // field-id binding flag, scoped here instead of a session-global
      // conf flip that would change unrelated parquet scans
      delegate.newScanBuilder(
        if (scanOpts.isEmpty) options
        else new CaseInsensitiveStringMap(
          (options.asScala ++ scanOpts).asJava))
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val fn = doInsert.getOrElse(throw new UnsupportedOperationException(
        s"$tname is read-only through the front door"))
      // SupportsTruncate on the BUILDER is what V2Writes demands of
      // mode("overwrite") — and the V1 fallback exec ALWAYS calls
      // insert(_, overwrite=false), so the truncate intent must be
      // captured here, not read from the insert flag
      new WriteBuilder with SupportsTruncate {
        private var truncated = false
        override def truncate(): WriteBuilder = { truncated = true; this }
        override def build(): Write = {
          val ow = truncated
          new V1Write {
            override def toInsertableRelation: InsertableRelation =
              new InsertableRelation {
                override def insert(data: DataFrame, overwrite: Boolean): Unit =
                  fn(data, ow || overwrite)
              }
          }
        }
      }
    }
  }

  /** DSv2 `sources.Filter` → `Column`, for re-stating pushed filters
    * against the full reader's DataFrame plan (Catalyst then pushes
    * them through the mask anti-joins down to the parquet scans).
    * None = not translatable; the filter still runs upstream (every
    * filter stays residual on the DSv2 side), so a gap here costs
    * pruning, never correctness. */
  private[sources] def translateFilter(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- translateFilter(l); rc <- translateFilter(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- translateFilter(l); rc <- translateFilter(r)) yield lc || rc
    case sources.Not(c) => translateFilter(c).map(!_)
    case _ => None
  }

  /** A DSv2 table whose snapshot carries ROW-LEVEL MASKS (Delta
    * deletion vectors, Iceberg delete files/DVs, Hudi MOR log files) —
    * a raw file-list scan would resurrect masked rows, so the scan
    * rides the V1-READ FALLBACK (`V1Scan`, the surface Spark's own
    * JDBC source uses): `buildScan` executes the FULL reader's
    * mask-applying DataFrame plan with the pushed filters and pruned
    * columns applied to it. The parquet scans INSIDE that plan keep
    * predicate pushdown, column pruning and codegen — Catalyst pushes
    * the re-stated predicates through the broadcast anti-join masks —
    * while the DSv2 node reports the pushed set on its
    * RowDataSourceScan. Every filter also stays residual upstream
    * (pushFilters returns them all), so translation gaps can never
    * change results. Writes reuse the same V1-fallback write surface
    * as the unmasked table. */
  private class GraftMaskedTable(tname: String, tschema: StructType,
                                       planRead: () => DataFrame,
                                       doInsert: Option[(DataFrame, Boolean) => Unit],
                                       sizeHint: Option[BigInt] = None)
    extends Table with SupportsRead with SupportsWrite {
    override def name(): String = tname
    override def schema(): StructType = tschema
    override def capabilities(): util.Set[TableCapability] =
      (Set(TableCapability.BATCH_READ) ++
        doInsert.map(_ => Set(TableCapability.BATCH_WRITE,
          TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE)).getOrElse(Set.empty)).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
        private var pushed: Array[Filter] = Array.empty
        private var required: StructType = tschema
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters.filter(translateFilter(_).isDefined)
          filters // ALL residual upstream — pushdown is a pruning hint here
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
              // the format metadata KNOWS the live size — without this
              // override the V1 relation reports defaultSizeInBytes
              // (effectively infinite) and a masked DIMENSION table
              // could never broadcast-join, a silent 100 TB plan
              // regression the unmasked delegate path doesn't have
              override def sizeInBytes: Long =
                sizeHint.map(_.toLong).getOrElse(super.sizeInBytes)
              // buildScan hands back the inner plan's InternalRow RDD
              // directly — no Row materialization pass
              override def needConversion: Boolean = false
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                var df = planRead()
                pf.flatMap(translateFilter).foreach(c => df = df.filter(c))
                df = df.select(req.fieldNames.toIndexedSeq.map(col): _*)
                org.apache.spark.sql.GraftPlanBridge.internalRdd(df)
                  .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
              }
            }).asInstanceOf[T]
        }
      }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val fn = doInsert.getOrElse(throw new UnsupportedOperationException(
        s"$tname is read-only through the front door"))
      new WriteBuilder with SupportsTruncate {
        private var truncated = false
        override def truncate(): WriteBuilder = { truncated = true; this }
        override def build(): Write = {
          val ow = truncated
          new V1Write {
            override def toInsertableRelation: InsertableRelation =
              new InsertableRelation {
                override def insert(data: DataFrame, overwrite: Boolean): Unit =
                  fn(data, ow || overwrite)
              }
          }
        }
      }
    }
  }

  def deltaTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val base = pathOf(options, "graft-delta")
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .getOrElse(DeltaLogReader.latestVersion(base))
    val snap = DeltaLogReader.snapshot(Some(spark), base, version)
    val adds = snap.adds
    // an EMPTY snapshot is legal when the log declares a schema — the
    // catalog's freshly-created table before its first append (CTAS
    // loads the empty table to write into it)
    require(adds.nonEmpty || snap.schema.isDefined,
      s"empty snapshot $version of $base with no declared schema")
    // writes always land on the LATEST version — a time-travel write
    // would fork history, which the log cannot represent
    val writable = !options.containsKey("versionAsOf")
    val doInsert: Option[(DataFrame, Boolean) => Unit] = Some((data, ow) => {
      require(writable,
        s"graft-delta at versionAsOf is read-only — a write would fork $base's history")
      if (ow) DeltaLogWriter.overwrite(SparkSession.active, data, base)
      else DeltaLogWriter.append(SparkSession.active, data, base)
    })
    if (adds.exists(_.dv.nonEmpty)) {
      // live DELETION VECTORS — the modern Delta default DML shape: a
      // raw file-list scan would resurrect masked rows, so this table
      // scans through the full reader's mask-applying plan (broadcast
      // anti-join on _metadata.row_index) via the V1-read fallback
      val tname = s"graft_delta($base@$version)"
      val tschema = DeltaLogReader.read(spark, snap).schema
      val planRead = () => DeltaLogReader.read(SparkSession.active, snap)
      // live-size estimate from the log: file bytes scaled by the
      // surviving-row fraction (numRecords stays physical under a DV)
      val physRows = adds.map(_.numRecords).sum
      val masked0 = adds.flatMap(_.dv).map(_.cardinality).sum
      val bytes = adds.map(_.size).sum
      val hint = Some(BigInt(math.max(1L,
        if (physRows <= 0) bytes
        else (bytes.toDouble * (physRows - masked0) / physRows).toLong)))
      return if (writable)
        new GraftMaskedTable(tname, tschema, planRead, doInsert, hint) with DeltaSqlDml {
          override val dmlBase: String = base
        }
      else new GraftMaskedTable(tname, tschema, planRead, doInsert, hint)
    }
    val pcols = snap.partitionColumns
    val paths = adds.map(a =>
      java.nio.file.Paths.get(base).resolve(a.path).toString)
    // column-mapped tables (either mode) bind by PARQUET FIELD ID: the
    // requested schema carries parquet.field.id = delta.columnMapping.id
    // under the LOGICAL names, so the delegate's scan surfaces logical
    // names with zero rename pass — and a foreign file without embedded
    // ids fails loudly (ignoreMissing stays false), never mis-binds
    val colMapped = snap.mappedSchema
    val schema = colMapped match {
      case Some(logical) =>
        require(pcols.isEmpty,
          "graft-delta front door over a column-mapped PARTITIONED table — " +
            "hive dirs carry physical names; use DeltaLogReader.read")
        import org.apache.spark.sql.types.{MetadataBuilder, StructField}
        Some(StructType(logical.fields.map(f =>
          StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
            .build()))))
      case None => snap.schema
    }
    // field-id binding is a SCAN option (merged into the scan's
    // hadoopConf), never a session-global conf flip. ignoreMissing
    // surfaces post-ADD-COLUMN fields as NULL in files that predate
    // them; the loudness against id-LESS foreign files moves into the
    // sampled footer check (fail at resolution, not silent NULLs).
    val fieldIdOpt: Map[String, String] =
      if (colMapped.isDefined) {
        paths.headOption.foreach(DeltaLogReader.assertEmbeddedIds(spark, _))
        Map("spark.sql.parquet.fieldId.read.enabled" -> "true",
          "spark.sql.parquet.fieldId.read.ignoreMissing" -> "true")
      } else Map.empty
    val delegate = parquetTable(s"graft_delta($base@$version)", paths, schema,
      (if (pcols.isEmpty) Map.empty[String, String]
       else Map("basePath" -> base)) ++ fieldIdOpt)
    // doInsert always present rather than dropped when read-only: a
    // capability-less table would detour into Spark's V1 CTAS fallback
    // and die with an unrelated message — the callback refuses instead.
    // Writable tables additionally carry the pure-SQL DML surface
    // (DELETE/UPDATE/MERGE route into the log writer's DV machinery).
    if (writable)
      new GraftLakeTable(delegate, delegate.name, doInsert, fieldIdOpt) with DeltaSqlDml {
        override val dmlBase: String = base
      }
    else new GraftLakeTable(delegate, delegate.name, doInsert, fieldIdOpt)
  }

  def icebergTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val base = pathOf(options, "graft-iceberg")
    // one table state serves the whole statement: schema, plan, reads,
    // and the SQL DELETE/UPDATE/MERGE commit
    val meta = IcebergReader.load(base)
    val snap = Option(options.get("snapshotAsOf")).map(_.toLong)
      .getOrElse(meta.currentSnapshotId)
    val writable = !options.containsKey("snapshotAsOf")
    val doInsert: Option[(DataFrame, Boolean) => Unit] = Some((data, ow) => {
      require(writable,
        s"graft-iceberg at snapshotAsOf is read-only — a write would fork $base's history")
      require(!ow, "graft-iceberg front door supports append only — " +
        "mode(\"overwrite\") would need a delete-all snapshot; use IcebergWriter")
      IcebergWriter.append(SparkSession.active, data, base)
    })
    if (snap < 0) {
      // schema-only table (catalog CREATE TABLE / CTAS before its first
      // append): no snapshot to plan — serve the declared schema empty;
      // the write callback commits snapshot 1
      val declared = meta.currentSchema.getOrElse(throw new IllegalArgumentException(
        s"empty Iceberg table $base declares no schema"))
      val schema = StructType(declared.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name,
          org.apache.spark.sql.types.DataType.fromDDL(IcebergReader.sparkTypeOf(f.tpe)))))
      val delegate = parquetTable(s"graft_iceberg($base@empty)", Nil, Some(schema), Map.empty)
      return new GraftLakeTable(delegate, delegate.name, doInsert)
    }
    val scan = IcebergReader.plan(spark, meta, snap)
    require(scan.dataFiles.nonEmpty, s"empty snapshot $snap of $base")
    // a table EVOLVED across schemas needs the field-id projection
    // (renamed columns resolve by id across eras, added ones surface
    // as typed NULL in old files) — a raw file scan would mis-name or
    // drop them, so it rides the full reader like the masked cases
    val evolved = meta.currentSchemaId.isDefined && meta.schemas.size > 1
    if (scan.posDeleteFiles.nonEmpty || scan.eqDeleteFiles.nonEmpty ||
        scan.dvs.nonEmpty || evolved) {
      // live delete files / v3 DVs (Iceberg's only DML shape) or a
      // schema-evolved table: scan through the full reader's plan
      // (delete-applying anti-joins / per-era projection) via the V1
      // fallback
      val tname = s"graft_iceberg($base@$snap)"
      val tschema = IcebergReader.readScan(spark, meta, snap, scan).schema
      val planRead = () => IcebergReader.readScan(SparkSession.active, meta, snap, scan)
      // live-size estimate: data-file bytes scaled by the surviving
      // fraction (record counts ride the manifests; DV cardinalities
      // and position-delete row counts are exact, equality deletes
      // under-count — an over-estimate only, never a bad broadcast)
      val physRows = scan.dataFiles.map(_._2).sum
      val masked0 = scan.dvs.map(_.cardinality).sum +
        scan.posDeleteFiles.flatMap(p => scan.delMeta.get(p).map(_._1)).sum
      val bytes = scan.dataFiles.map { case (p, _) =>
        try java.nio.file.Files.size(java.nio.file.Paths.get(p)) catch {
          case _: Exception => 0L
        }
      }.sum
      val hint = Some(BigInt(math.max(1L,
        if (physRows <= 0) bytes
        else (bytes.toDouble * math.max(0L, physRows - masked0) / physRows).toLong)))
      return if (writable)
        new GraftMaskedTable(tname, tschema, planRead, doInsert, hint) with IcebergSqlDml {
          override val iceMeta: IcebergReader.TableMetadata = meta
        }
      else new GraftMaskedTable(tname, tschema, planRead, doInsert, hint)
    }
    // identity/transform-partitioned tables keep the source column IN
    // the data files (this writer's layout), so no dir recovery needed
    val delegate = parquetTable(
      s"graft_iceberg($base@$snap)", scan.dataFiles.map(_._1), None, Map.empty)
    if (writable)
      new GraftLakeTable(delegate, delegate.name, doInsert) with IcebergSqlDml {
        override val iceMeta: IcebergReader.TableMetadata = meta
      }
    else new GraftLakeTable(delegate, delegate.name, doInsert)
  }

  def hudiTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val base = pathOf(options, "graft-hudi")
    if (HudiReader.tableType(base) == "MERGE_ON_READ") {
      // MOR: base files + avro log files per slice — a raw parquet scan
      // would skip the log deltas, so ride the merge-applying reader.
      // The MOR timeline includes DELTACOMMITS (the log appends CoW
      // tables never have), so asOf resolves across both kinds.
      val traveled = options.containsKey("asOfInstant")
      val asOf = Option(options.get("asOfInstant")).getOrElse(
        (HudiReader.completedCommits(base) ++
          HudiReader.completedDeltaCommits(base)).sorted.last)
      val tname = s"graft_hudi($base@$asOf)"
      val tschema = HudiReader.readMor(spark, base, asOf).schema
      val planRead = () => HudiReader.readMor(SparkSession.active, base, asOf)
      // live-size estimate: base + log bytes (no row counts in this
      // timeline — bytes alone already fix the never-broadcast default)
      val slices = HudiReader.morSlices(base, asOf)
      val hint = Some(BigInt(math.max(1L,
        (slices.map(_._1.path) ++ slices.flatMap(_._2).map(_.path)).map { p =>
          try java.nio.file.Files.size(java.nio.file.Paths.get(p)) catch {
            case _: Exception => 0L
          }
        }.sum)))
      // current-snapshot MOR tables carry the SQL DELETE surface
      // (tombstone delta commits); time-traveled ones are read-only
      return if (traveled)
        new GraftMaskedTable(tname, tschema, planRead, doInsert = None, hint)
      else new GraftMaskedTable(tname, tschema, planRead, doInsert = None, hint)
        with HudiSqlDelete {
          override val delBase: String = base
        }
    }
    val asOf = Option(options.get("asOfInstant"))
      .getOrElse(HudiReader.completedCommits(base).last)
    HudiReader.assertReadable(base)
    val paths = HudiReader.liveSlices(base, asOf).map(_.path)
    require(paths.nonEmpty, s"no live slices at instant $asOf of $base")
    parquetTable(s"graft_hudi($base@$asOf)", paths, None, Map.empty)
  }
}

class GraftDeltaSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeBatchSources.deltaTable(options).columns
      .foldLeft(new StructType())((s, c) => s.add(c.name, c.dataType, c.nullable))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    LakeBatchSources.deltaTable(new CaseInsensitiveStringMap(properties))
}

class GraftIcebergSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-iceberg"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeBatchSources.icebergTable(options).columns
      .foldLeft(new StructType())((s, c) => s.add(c.name, c.dataType, c.nullable))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    LakeBatchSources.icebergTable(new CaseInsensitiveStringMap(properties))
}

class GraftHudiSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-hudi"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeBatchSources.hudiTable(options).columns
      .foldLeft(new StructType())((s, c) => s.add(c.name, c.dataType, c.nullable))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    LakeBatchSources.hudiTable(new CaseInsensitiveStringMap(properties))
}
