package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 [[TableCatalog]] over a directory of lakehouse tables — the
  * piece that turns the `format(...)` front doors into CATALOG NAMES,
  * so a pure-SQL client (a BI tool, a notebook with zero Scala) can
  * say
  *
  * {{{
  *   SET spark.sql.catalog.lake = graft.sources.GraftCatalog
  *   SET spark.sql.catalog.lake.root = /data/lake
  *   SELECT * FROM lake.sales.orders;          -- any of the 3 formats
  *   CREATE TABLE lake.tmp.t (id BIGINT) USING graft-delta;
  *   CREATE TABLE lake.tmp.t2 USING graft-delta AS SELECT ...;
  *   INSERT INTO lake.tmp.t VALUES (1);
  * }}}
  *
  * Layout: `root/<namespace>/<table>` — one directory level per
  * namespace element (usually one), each table directory self-describing
  * by its format marker (`_delta_log/` → Delta, `metadata/` → Iceberg,
  * `.hoodie/` → Hudi). `loadTable` sniffs the marker and returns the
  * matching front-door table, so reads keep the delegated DSv2 parquet
  * scan (pushdown/pruning/codegen) and Delta writes keep the full log
  * writer — `INSERT INTO` is [[DeltaLogWriter.append]] with constraints
  * and generated/identity enforcement intact.
  *
  * `CREATE TABLE ... USING graft-delta` writes a schema-only Delta
  * version 0 ([[DeltaLogWriter.createEmpty]]); `USING graft-iceberg`
  * writes snapshot-less v1 metadata ([[IcebergWriter.createEmpty]]) —
  * CTAS is Spark's non-staging v2 flow either way (createTable, then
  * append into the loaded table, committing Delta v1 / Iceberg
  * snapshot 1). Only
  * identity partition transforms are accepted — bucket/days would need
  * the format writers' own layout entry points. Everything here is
  * KB-scale metadata work on the driver; no data moves through the
  * catalog itself.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"catalog $name needs spark.sql.catalog.$name.root=<dir of tables>"))
  }

  override def name(): String = catName

  private def dirOf(parts: Seq[String]): java.nio.file.Path =
    Paths.get(root, parts: _*)

  private def tableDir(ident: Identifier): java.nio.file.Path =
    dirOf(ident.namespace.toIndexedSeq :+ ident.name)

  /** The format marker, if the directory IS a table. */
  private def formatOf(dir: java.nio.file.Path): Option[String] =
    if (Files.isDirectory(dir.resolve("_delta_log"))) Some("delta")
    else if (Files.isDirectory(dir.resolve("metadata"))) Some("iceberg")
    else if (Files.isDirectory(dir.resolve(".hoodie"))) Some("hudi")
    else None

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toIndexedSeq)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    Fs.list(dir).iterator
      .filter(p => Files.isDirectory(p) && formatOf(p).isDefined)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray.sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    formatOf(tableDir(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    val opts = new CaseInsensitiveStringMap(Map("path" -> dir.toString).asJava)
    formatOf(dir) match {
      case Some("delta")   => LakeBatchSources.deltaTable(opts)
      case Some("iceberg") => LakeBatchSources.icebergTable(opts)
      case Some("hudi")    => LakeBatchSources.hudiTable(opts)
      case _               => throw new NoSuchTableException(ident)
    }
  }

  /** SQL time travel, `SELECT ... FROM cat.ns.t VERSION AS OF v`:
    * `v` is the format's own version coordinate — Delta log version,
    * Iceberg snapshot id, Hudi instant. The loaded table is read-only
    * (the front doors refuse time-travel writes — a write would fork
    * history). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    val vOpt = formatOf(dir) match {
      case Some("delta")   => "versionAsOf"
      case Some("iceberg") => "snapshotAsOf"
      case Some("hudi")    => "asOfInstant"
      case _               => throw new NoSuchTableException(ident)
    }
    val opts = new CaseInsensitiveStringMap(
      Map("path" -> dir.toString, vOpt -> version).asJava)
    formatOf(dir) match {
      case Some("delta")   => LakeBatchSources.deltaTable(opts)
      case Some("iceberg") => LakeBatchSources.icebergTable(opts)
      case _               => LakeBatchSources.hudiTable(opts)
    }
  }

  /** SQL time travel, `... TIMESTAMP AS OF ts` (`ts` arrives in
    * MICROseconds): Delta resolves through commitInfo timestamps
    * ([[DeltaLogReader.versionAtTimestamp]]), Iceberg through snapshot
    * `timestamp-ms` ([[IcebergReader.TableMetadata.snapshotAtTimestamp]]). Hudi
    * refuses — this writer's instants are synthetic ordinals, not
    * clock values, so a wall-clock bound has nothing sound to bind to
    * (VERSION AS OF an instant works). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    val tsMillis = timestamp / 1000L
    val version = formatOf(dir) match {
      case Some("delta") =>
        DeltaLogReader.versionAtTimestamp(dir.toString, tsMillis).toString
      case Some("iceberg") =>
        IcebergReader.load(dir.toString).snapshotAtTimestamp(tsMillis).toString
      case Some("hudi") => throw new UnsupportedOperationException(
        s"TIMESTAMP AS OF on Hudi table $ident: this writer's instants are " +
          "ordinals, not timestamps — use VERSION AS OF <instant>")
      case _ => throw new NoSuchTableException(ident)
    }
    loadTable(ident, version)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
      .map(_.toLowerCase).getOrElse("graft-delta")
    require(provider == "graft-delta" || provider == "graft-iceberg",
      s"this catalog creates Delta and Iceberg tables (USING graft-delta | " +
        s"graft-iceberg), got $provider — Hudi tables need the writer's " +
        "record-key/bucket layout; create them with HudiWriter and the " +
        "catalog will serve them")
    val pcols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"only identity partitioning through the catalog, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val dir = tableDir(ident)
    Files.createDirectories(dir.getParent)
    if (provider == "graft-iceberg") {
      require(pcols.isEmpty,
        "partitioned CREATE through the catalog is Delta-only — Iceberg " +
          "partition specs go through IcebergWriter.createTransformPartitioned")
      IcebergWriter.createEmpty(org.apache.spark.sql.SparkSession.active,
        schema, dir.toString)
    } else
      DeltaLogWriter.createEmpty(org.apache.spark.sql.SparkSession.active,
        schema, dir.toString, s"$catName.${ident.toString}", pcols)
    loadTable(ident)
  }

  /** ALTER TABLE, for the metadata-only schema evolution BOTH writable
    * formats support. Delta: ADD COLUMN (fresh physical id on mapped
    * tables), RENAME COLUMN, ALTER COLUMN TYPE (typeWidening). Iceberg:
    * ADD/RENAME/DROP COLUMN and the spec's type promotions (int→long,
    * float→double) through the `schemas`-tracking evolve ops — field
    * ids stay stable, zero data bytes move either way. Everything else
    * refuses loudly rather than pretending. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val fmt = formatOf(dir)
    require(fmt.contains("delta") || fmt.contains("iceberg"),
      s"ALTER through the catalog serves Delta and Iceberg tables; " +
        s"$ident is ${fmt.getOrElse("absent")}")
    val spark = org.apache.spark.sql.SparkSession.active
    val delta = fmt.contains("delta")
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "nested ADD COLUMN is beyond this catalog")
        if (delta) DeltaLogWriter.addColumn(spark, dir.toString,
          a.fieldNames.head, a.dataType.sql)
        else IcebergWriter.evolveAddColumn(spark, dir.toString,
          a.fieldNames.head, IcebergWriter.icebergTypeOf(a.dataType))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "nested RENAME COLUMN is beyond this catalog")
        if (delta)
          DeltaLogWriter.renameColumn(spark, dir.toString, r.fieldNames.head, r.newName)
        else
          IcebergWriter.evolveRenameColumn(spark, dir.toString, r.fieldNames.head, r.newName)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "nested ALTER COLUMN is beyond this catalog")
        if (delta) DeltaLogWriter.widenColumnType(spark, dir.toString,
          u.fieldNames.head, u.newDataType.sql)
        else IcebergWriter.evolveWidenColumn(spark, dir.toString,
          u.fieldNames.head, IcebergWriter.icebergTypeOf(u.newDataType))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "nested DROP COLUMN is beyond this catalog")
        if (delta) DeltaLogWriter.dropColumn(spark, dir.toString, d.fieldNames.head)
        else IcebergWriter.evolveDropColumn(spark, dir.toString, d.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"ALTER change $other is not wired — use the writers' entry points")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    val existed = formatOf(dir).isDefined
    if (existed) TxnLog.rmrf(dir.toString)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(tableDir(newIdent).getParent)
    Files.move(tableDir(oldIdent), tableDir(newIdent))
  }

  // ---- namespaces = directory levels under root ---------------------------

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (Files.isDirectory(dirOf(namespace.toIndexedSeq)) &&
        formatOf(dirOf(namespace.toIndexedSeq)).isEmpty)

  override def listNamespaces(): Array[Array[String]] = {
    if (!Files.isDirectory(Paths.get(root))) return Array.empty
    Fs.list(Paths.get(root)).iterator
      .filter(p => Files.isDirectory(p) && formatOf(p).isEmpty)
      .map(p => Array(p.getFileName.toString))
      .toArray.sortBy(_.mkString)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    Files.createDirectories(dirOf(namespace.toIndexedSeq))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is not stored")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(namespace.toIndexedSeq)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val tables = listTables(namespace)
    require(cascade || tables.isEmpty,
      s"namespace ${namespace.mkString(".")} holds ${tables.length} tables — use CASCADE")
    TxnLog.rmrf(dir.toString)
    true
  }
}
