package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one scan every lake format reads through: a DataFrame over the
  * files a table log already lists, built without asking the file
  * system again.
  *
  * `spark.read.parquet(paths)` globs every path, checks it exists on a
  * fresh thread pool and builds an `InMemoryFileIndex` that lists each
  * path again (on the driver up to 32 paths, as a Spark job above).
  * The log already names every file, with its exact size in Delta
  * (`add.size`) and Iceberg (`file_size_in_bytes`). [[apply]] turns
  * those into file statuses and hands them to a `HadoopFsRelation`
  * over a fixed index ([[GraftPlanBridge.fileScan]]): no listing, no
  * existence check, no job. A file the log names but the disk lacks
  * fails the read when the scan opens it.
  *
  * ROW-LEVEL DELETES (Delta DVs, Iceberg v3 DVs, Iceberg position
  * deletes) become one filter in the same scan, [[unmasked]]: a row
  * survives unless its file's roaring bitmap holds its row index. The
  * bitmaps travel as one broadcast variable of `key → payload bytes`.
  *
  * KEYS: a mask is keyed by [[key]], the exact string Spark renders as
  * `_metadata.file_path` for the `Path` this scan handed it — the
  * qualified path in Spark's own URI spelling (a space is `%20`, a `%`
  * in a hive dir name is `%25`). Every driver-side map that meets
  * `_metadata.file_path` (masks, per-file row-id bases, DML file
  * identity) keys through [[key]] on the same path string the scan was
  * given, never through a hand-written normalization.
  */
object LakeScan {

  /** One file a log lists: its path (absolute, or a `file:` URI) and
    * its size in bytes as the log records it. A size below
    * [[MinFileBytes]] means the log has none (or a placeholder no data
    * file can have), and the file is stat'ed once. */
  final case class File(path: String, size: Long = -1L)

  /** The smallest parquet file: header magic, footer length and trailer
    * magic. The scan splits and seeks by the size it is handed, so a
    * smaller recorded size cannot be the file's. */
  val MinFileBytes = 12L

  /** A scan over `files` in the given order.
    *
    *   - `schema`: the declared schema (a log's), enforced over the
    *     footers; partition columns in it keep their declared types.
    *     Without one the schema is Spark's: the first file's footer (by
    *     path, as Spark's own inference picks it), or under
    *     `mergeSchema` Spark's merge over the same statuses.
    *   - `basePath`: the table root of a hive-partitioned layout; the
    *     `col=value/` dirs between it and each file become partition
    *     columns (appended after the data columns), pruned by the
    *     index on their values.
    *   - `format`: `parquet`, or another file source's name (Hudi's
    *     avro log files). */
  def apply(spark: SparkSession, files: Seq[File], schema: Option[StructType] = None,
            basePath: Option[String] = None, mergeSchema: Boolean = false,
            format: String = "parquet"): DataFrame = {
    require(files.nonEmpty, "no file to scan")
    val statuses = files.map(status(spark, _))
    val opts = basePath.map("basePath" -> _).toMap ++
      (if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty)
    val inferred =
      if (schema.isDefined || mergeSchema || format != "parquet") None
      else Some(GraftPlanBridge.parquetFooterSchema(spark,
        statuses.map(_.getPath.toString).min))
    GraftPlanBridge.fileScan(spark, statuses, schema, inferred, format, opts)
  }

  /** A scan over paths whose sizes the log does not carry (Hudi slices,
    * checkpoint parquet): one `getFileStatus` per file; a directory
    * stands for the data files directly in it (one `listStatus`; names
    * starting with `_` or `.` are not data), the TxnLog group layout. */
  def paths(spark: SparkSession, paths: Seq[String], schema: Option[StructType] = None,
            mergeSchema: Boolean = false, format: String = "parquet"): DataFrame =
    apply(spark, leaves(spark, paths), schema, mergeSchema = mergeSchema, format = format)

  /** The data files `paths` stand for, each with its size. */
  def leaves(spark: SparkSession, paths: Seq[String]): Seq[File] = paths.flatMap { p =>
    val hp = qualify(spark, p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(hp)
    if (!st.isDirectory) Seq(File(p, st.getLen))
    else fs.listStatus(hp).toSeq
      .filter(c => c.isFile && !c.getPath.getName.startsWith("_") &&
        !c.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(c => File(c.getPath.toString, c.getLen))
  }

  /** The `_metadata.file_path` a scan renders for the file at `path`. */
  def key(spark: SparkSession, path: String): String =
    GraftPlanBridge.filePathKey(qualify(spark, path))

  /** [[key]] for a reference spelled as a URI (an Iceberg delete
    * file's `file_path`, a DV's referenced data file): `file:///x`,
    * `file:/x` and `/x` name the same file, and `%XX` escapes decode. A
    * string that is no valid URI is taken as a plain path. */
  def uriKey(spark: SparkSession, uri: String): String = {
    val p = try new Path(new java.net.URI(uri)) catch {
      case _: java.net.URISyntaxException => new Path(uri)
    }
    GraftPlanBridge.filePathKey(qualify(spark, p))
  }

  /** The row-level mask: TRUE unless the bitmap `masks` holds for the
    * row's file (by [[key]]) contains its row index. `path` and
    * `rowIndex` default to the scan's own metadata columns; a plan that
    * joined since passes the columns it stamped them into. */
  def unmasked(spark: SparkSession, masks: Map[String, Array[Byte]],
               path: Column = col("_metadata.file_path"),
               rowIndex: Column = col("_metadata.row_index")): Column =
    GraftPlanBridge.unmaskedRow(spark, masks, path, rowIndex)

  /** `df` without the masked rows; `df` itself when no file has a mask. */
  def mask(spark: SparkSession, df: DataFrame, masks: Map[String, Array[Byte]]): DataFrame =
    if (masks.isEmpty) df else df.filter(unmasked(spark, masks))

  /** The masks of position-delete files (the Iceberg v2 layout: rows of
    * `file_path`, a data file's URI, and `pos`, a row index in it), one
    * bitmap payload per data file keyed by [[uriKey]]. The files are
    * read on the driver, one row group at a time, so it holds bitmaps,
    * never rows. */
  def positionMasks(spark: SparkSession, files: Seq[String]): Map[String, Array[Byte]] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.schema.MessageType
    val out = scala.collection.mutable.HashMap.empty[String, RoaringDv.Positions]
    val conf = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val full = reader.getFooter.getFileMetaData.getSchema
        val proj = new MessageType(full.getName,
          Seq("file_path", "pos").map(c => full.getType(full.getFieldIndex(c))): _*)
        reader.setRequestedSchema(proj)
        val io = new ColumnIOFactory().getColumnIO(proj)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).foreach { pages =>
          val records = io.getRecordReader(pages, new GroupRecordConverter(proj))
          (0L until pages.getRowCount).foreach { _ =>
            val g = records.read()
            out.getOrElseUpdate(g.getString(0, 0), new RoaringDv.Positions).add(g.getLong(1, 0))
          }
        }
      } finally reader.close()
    }
    out.toSeq.map { case (target, ps) => (uriKey(spark, target), ps.bitmaps) }
      .groupMapReduce(_._1)(_._2)((a, b) => RoaringDv.union(Seq(a, b)))
      .map { case (k, bits) => k -> RoaringDv.payload(bits) }
  }

  private def qualify(spark: SparkSession, path: String): Path = qualify(spark, new Path(path))

  /** The file system's qualified path, rebuilt from its scheme,
    * authority and decoded path: an empty authority (`file:///x`) and
    * none (`file:/x`) give the same `Path`, as a listing would. */
  private def qualify(spark: SparkSession, p: Path): Path = {
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toUri
    new Path(q.getScheme, q.getAuthority, q.getPath)
  }

  /** A DSv2 parquet table (Spark's `ParquetTable`) over the same fixed
    * index — the front door's delegate. Without a schema it takes the
    * first file's footer, like [[apply]]. */
  def table(spark: SparkSession, name: String, files: Seq[File], schema: Option[StructType],
            options: Map[String, String]): ParquetTable = {
    val statuses = files.map(status(spark, _))
    GraftPlanBridge.parquetTable(spark, name, statuses,
      schema.orElse(statuses.map(_.getPath.toString).minOption
        .map(GraftPlanBridge.parquetFooterSchema(spark, _))),
      options)
  }

  private def status(spark: SparkSession, f: File): FileStatus = {
    val p = qualify(spark, f.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.size < MinFileBytes) fs.getFileStatus(p)
    else new FileStatus(f.size, false, 1, fs.getDefaultBlockSize(p), 0L, p)
  }
}
