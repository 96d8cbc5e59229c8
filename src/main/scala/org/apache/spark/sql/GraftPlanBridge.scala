package org.apache.spark.sql

import graft.plans.{AsOfJoin, AsOfJoinStrategy}

/** Bridge into Spark's private[sql] plan-construction API — the standard
  * pattern for libraries that contribute custom logical plans (a shim
  * object inside org.apache.spark.sql to reach Dataset.ofRows, cf. the
  * extension shims in public Spark-extension projects). Everything
  * engine-specific lives in graft.plans; this file only crosses the
  * visibility boundary.
  */
object GraftPlanBridge {

  /** As-of join via the custom operator: left rows + `asof_ts` (micros of
    * the greatest strictly-earlier right time per key, null if none).
    * Idempotently installs the planner strategy on the session. */
  def asofJoin(left: Dataset[Row], right: Dataset[Row],
               keyCol: String, timeCol: String): DataFrame = {
    val cl = left.asInstanceOf[classic.Dataset[Row]]
    val cr = right.asInstanceOf[classic.Dataset[Row]]
    val spark = cl.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = AsOfJoinStrategy +: spark.experimental.extraStrategies
    }
    classic.Dataset.ofRows(spark,
      AsOfJoin(cl.queryExecution.analyzed, cr.queryExecution.analyzed, keyCol, timeCol))
  }

  /** (rowCount if the optimizer knows it, sizeInBytes estimate) of a
    * DataFrame's optimized plan — free driver-side statistics for
    * sizing decisions that would otherwise burn a count() job. */
  def planStats(df: Dataset[Row]): (Option[BigInt], BigInt) = {
    val st = df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan.stats
    (st.rowCount, st.sizeInBytes)
  }

  /** The analyzed logical plan of a DataFrame — what a table-valued
    * function builder contributes to the analyzer (Dataset's
    * queryExecution is private[sql] behind the api split). */
  def analyzedPlan(df: Dataset[Row]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Column ↔ catalyst Expression crossings for custom aggregates
    * (TypedImperativeAggregate has no public Column constructor). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The executed plan's InternalRow RDD of a DataFrame — what a
    * V1-fallback `TableScan.buildScan` with `needConversion=false`
    * hands back to the DSv2 read path (the inner plan keeps its own
    * parquet pushdown/codegen; `queryExecution` is private[sql] behind
    * the api split). */
  def internalRdd(df: Dataset[Row]): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Spark schema of one parquet file, read from its FOOTER on the
    * driver. `spark.read.parquet(...)` schedules a one-task Spark job
    * per call just to infer the schema — the fixture-commit-bound
    * lakehouse queries scheduled dozens of those per invocation (a
    * measured 47 single-task jobs in one query). Semantics match
    * inference exactly: mergeSchema=false inference also reads a single
    * representative footer with this same converter, and
    * HadoopFsRelation forces every field nullable (`asNullable`). */
  def parquetFooterSchema(spark: SparkSession, path: String): types.StructType = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), cs.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new execution.datasources.parquet.ParquetToSparkSchemaConverter(cs.sessionState.conf)
      .convert(msg).asNullable
  }

  /** A file-source DataFrame over a FIXED list of file statuses: a
    * `HadoopFsRelation` over a [[GraftFileIndex]] wrapped as a
    * `LogicalRelation`, so building it neither globs, checks existence
    * nor lists — Spark's scan, pushdown, vectorized reader and
    * `_metadata` columns are those of a path read. A `basePath` option
    * turns on Spark's own hive partition discovery over the statuses'
    * directories (`schema`'s types win for the columns it declares).
    * The data schema is `schema` minus the partition columns, else
    * `inferred`, else the format's own inference over the statuses
    * (the merge job under `mergeSchema`). */
  def fileScan(spark: SparkSession, statuses: Seq[org.apache.hadoop.fs.FileStatus],
               schema: Option[types.StructType], inferred: Option[types.StructType],
               format: String, options: Map[String, String]): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new GraftFileIndex(cs, statuses, options, schema)
    val fmt: execution.datasources.FileFormat =
      if (format == "parquet") new execution.datasources.parquet.ParquetFileFormat
      else execution.datasources.DataSource.lookupDataSource(format, cs.sessionState.conf)
        .getConstructor().newInstance().asInstanceOf[execution.datasources.FileFormat]
    val parts = index.partitionSchema
    val resolver = cs.sessionState.conf.resolver
    val dataSchema = schema.map(s => types.StructType(s.filterNot(f =>
        parts.exists(p => resolver(p.name, f.name)))))
      .orElse(inferred)
      .orElse(fmt.inferSchema(cs, options, index.allFiles()))
      .getOrElse(throw new IllegalArgumentException(
        s"no schema for the $format files ${statuses.take(3).map(_.getPath).mkString(", ")}"))
    val relation = execution.datasources.HadoopFsRelation(index, parts, dataSchema.asNullable,
      None, fmt, options)(cs)
    classic.Dataset.ofRows(cs, execution.datasources.LogicalRelation(relation))
  }

  /** A DSv2 parquet table over the same fixed index: Spark's own
    * `ParquetTable` (its scan builder, pushdown and V2 scan) with the
    * listing replaced by [[GraftFileIndex]]. */
  def parquetTable(spark: SparkSession, name: String,
                   statuses: Seq[org.apache.hadoop.fs.FileStatus],
                   schema: Option[types.StructType], options: Map[String, String])
  : execution.datasources.v2.parquet.ParquetTable = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    import scala.jdk.CollectionConverters._
    val index = new GraftFileIndex(cs, statuses, options, schema)
    new execution.datasources.v2.parquet.ParquetTable(name, cs,
        new util.CaseInsensitiveStringMap(options.asJava), statuses.map(_.getPath.toString),
        schema, classOf[execution.datasources.parquet.ParquetFileFormat]) {
      override lazy val fileIndex: execution.datasources.PartitioningAwareFileIndex = index
    }
  }

  /** The string a file scan renders as `_metadata.file_path` for a file
    * the index handed it at `path` (qualified): Spark's own `SparkPath`
    * rendering of that `Path`. */
  def filePathKey(path: org.apache.hadoop.fs.Path): String =
    org.apache.spark.paths.SparkPath.fromPath(path).toString

  /** TRUE for a row unless the bitmap of its file holds its row index:
    * `masks` maps a [[filePathKey]] to a RoaringBitmapArray payload
    * ([[graft.sources.RoaringDv]]) and ships to executors as one
    * broadcast variable (no job). */
  def unmaskedRow(spark: SparkSession, masks: Map[String, Array[Byte]],
                  path: Column, rowIndex: Column): Column =
    column(RowIndexMask(expression(path), expression(rowIndex),
      spark.sparkContext.broadcast(masks)))

  /** Unload every state-store provider this executor holds for
    * terminated streaming queries (each drain in this engine uses a
    * fresh checkpoint, so nothing ever reloads them) — without this,
    * a many-drain suite pins every query's state maps on the heap
    * until application end. The maintenance task restarts itself on
    * the next streaming query's first store access. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** Block until the listener bus has handled every event posted so far
    * (`waitUntilEmpty` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Apply an extensions installer to a fresh SparkSessionExtensions and
    * return what it would contribute to a new session — the builder
    * methods are private[sql], so the config-path test
    * (`spark.sql.extensions=graft.GraftExtensions`) crosses the
    * visibility boundary here instead of tearing down the shared test
    * session to build a configured one. */
  def builtExtensions(spark: SparkSession, installer: SparkSessionExtensions => Unit)
  : (Seq[execution.SparkStrategy],
     Seq[org.apache.spark.sql.catalyst.rules.Rule[
       org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]) = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val ext = new SparkSessionExtensions
    installer(ext)
    (ext.buildPlannerStrategies(cs), ext.buildOptimizerRules(cs))
  }
}

/** A file index over statuses the caller already holds (a table log
  * lists each file with its exact size): `listFiles`, partition pruning
  * and the constant-metadata filters are Spark's own, but nothing is
  * listed, globbed or stat'ed. Equality follows `InMemoryFileIndex`
  * (the set of root paths), so plans over the same files still compare
  * equal for exchange reuse. */
final class GraftFileIndex(spark: classic.SparkSession,
                           statuses: Seq[org.apache.hadoop.fs.FileStatus],
                           parameters: Map[String, String],
                           userSchema: Option[types.StructType])
  extends execution.datasources.PartitioningAwareFileIndex(spark, parameters, userSchema) {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override lazy val rootPaths: Seq[Path] = statuses.map(_.getPath)
  override protected lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)
  private lazy val spec = inferPartitioning()
  override def partitionSpec(): execution.datasources.PartitionSpec = spec
  override def refresh(): Unit = ()
  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex => rootPaths.toSet == g.rootPaths.toSet
    case _ => false
  }
  override def hashCode(): Int = rootPaths.toSet.hashCode()
}

/** `unmasked(file_path, row_index)`: FALSE for a row whose file's
  * deletion bitmap holds its row index. A task decodes each file's
  * bitmap once (by the file path it last saw, then a per-task cache),
  * so the per-row cost is one path compare and one bitmap probe. */
case class RowIndexMask(path: catalyst.expressions.Expression,
                        rowIndex: catalyst.expressions.Expression,
                        masks: org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]])
  extends catalyst.expressions.BinaryExpression with catalyst.expressions.Predicate
    with catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String
  import org.roaringbitmap.RoaringBitmap
  override def left: catalyst.expressions.Expression = path
  override def right: catalyst.expressions.Expression = rowIndex
  override def nullable: Boolean = false
  override def prettyName: String = "unmasked"
  override def flatArguments: Iterator[Any] = Iterator(path, rowIndex)

  @transient private lazy val decoded =
    scala.collection.mutable.HashMap.empty[UTF8String, Array[RoaringBitmap]]
  @transient private var lastPath: UTF8String = _
  @transient private var lastBits: Array[RoaringBitmap] = _

  override def eval(input: catalyst.InternalRow): Any = {
    val p = path.eval(input).asInstanceOf[UTF8String]
    if (lastPath == null || p != lastPath) {
      lastPath = p.clone()
      lastBits = decoded.getOrElseUpdate(lastPath,
        masks.value.get(lastPath.toString).map(graft.sources.RoaringDv.bitmaps).orNull)
    }
    lastBits == null || !graft.sources.RoaringDv.contains(lastBits,
      rowIndex.eval(input).asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(
      l: catalyst.expressions.Expression, r: catalyst.expressions.Expression): RowIndexMask =
    copy(path = l, rowIndex = r)
}

/** Serializable opener for spec-conformant parquet part files on
  * executors — the write half of the DSv2 row-level DML surface
  * (WriteDelta's DeltaWriter must persist inserted/updated rows
  * itself; this reuses Spark's OWN ParquetUtils.prepareWrite +
  * OutputWriterFactory so the staged files are byte-identical to what
  * a DataFrame write would produce: same compression, field ids,
  * timestamp encoding). Hadoop Configuration is not Serializable, so
  * the prepared conf ships as its entry list and is rebuilt lazily
  * per executor. */
final class GraftParquetSink private[sql] (
    factory: execution.datasources.OutputWriterFactory,
    confEntries: Array[(String, String)],
    schema: types.StructType) extends Serializable {

  @transient private lazy val conf = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    confEntries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Open a writer at `path`; caller must close(). */
  def open(path: String, partitionId: Int, taskId: Long): GraftParquetSink.Opened = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft-dml", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf, attempt)
    val w = factory.newInstance(path, schema, ctx)
    new GraftParquetSink.Opened {
      override def write(row: catalyst.InternalRow): Unit = w.write(row)
      override def close(): Unit = w.close()
    }
  }
}

object GraftParquetSink {
  trait Opened {
    def write(row: catalyst.InternalRow): Unit
    def close(): Unit
  }
}

object GraftWriteBridge {
  /** Prepare (driver-side) a serializable parquet sink for `schema`. */
  def parquetSink(spark: SparkSession, schema: types.StructType): GraftParquetSink = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(cs.sessionState.newHadoopConf())
    val sqlConf = cs.sessionState.conf
    val factory = execution.datasources.parquet.ParquetUtils.prepareWrite(
      sqlConf, job, schema,
      new execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], sqlConf))
    val entries = {
      val it = job.getConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    new GraftParquetSink(factory, entries, schema)
  }
}

/** V1 streaming SINK over the Delta log writer — what
  * `writeStream.format("graft-delta-stream")` starts. Exactly-once by
  * construction: every micro-batch commits through
  * [[graft.sources.DeltaLogWriter.appendIfAbsent]], whose `txn`
  * (SetTransaction) marker makes the TABLE the source of truth — a
  * redelivered batch after a crash/restart is absorbed, not doubled.
  * The incoming DataFrame is re-materialized from its own executed
  * rows (`internalCreateDataFrame`, the V1 sink discipline) so the
  * writer's jobs never re-trigger the batch's source scan. */
final class GraftDeltaStreamSink(base: String, appId: String)
  extends execution.streaming.Sink {
  override def name(): String = s"graft_delta_sink($base)"
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val cd = data.asInstanceOf[classic.Dataset[Row]]
    val spark = cd.sparkSession
    val batch = spark.internalCreateDataFrame(
      cd.queryExecution.toRdd.map(_.copy()), data.schema, isStreaming = false)
    graft.sources.DeltaLogWriter.appendIfAbsent(spark, batch, base, appId, batchId)
    ()
  }
}

/** V1 streaming SINK over the Iceberg writer — what
  * `writeStream.format("graft-iceberg-stream")` starts; idempotence
  * markers ride each committed snapshot's `summary`
  * ([[graft.sources.IcebergStreamSink]]). Empty batches commit
  * nothing (the marker exists only with a snapshot); the sink learns
  * emptiness from its own staged write, not from an extra job. */
final class GraftIcebergStreamSink(base: String, appId: String)
  extends execution.streaming.Sink {
  override def name(): String = s"graft_iceberg_sink($base)"
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val cd = data.asInstanceOf[classic.Dataset[Row]]
    val spark = cd.sparkSession
    val batch = spark.internalCreateDataFrame(
      cd.queryExecution.toRdd.map(_.copy()), data.schema, isStreaming = false)
    graft.sources.IcebergStreamSink.commit(spark, batch, base, appId, batchId)
    ()
  }
}

/** V1 streaming SINK over [[graft.sources.TxnLog]] — what
  * `writeStream.format("graft-txnlog-stream")` starts; exactly-once
  * via the manifest txn markers. Empty batches commit nothing; the
  * group write's observed row count says so, not an extra job. */
final class GraftTxnLogStreamSink(base: String, appId: String)
  extends execution.streaming.Sink {
  override def name(): String = s"graft_txnlog_sink($base)"
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val cd = data.asInstanceOf[classic.Dataset[Row]]
    val spark = cd.sparkSession
    val batch = spark.internalCreateDataFrame(
      cd.queryExecution.toRdd.map(_.copy()), data.schema, isStreaming = false)
    val log = new graft.sources.TxnLog(spark, base)
    log.init()
    log.commitIfAbsent(appId, batchId, batch)
    ()
  }
}
