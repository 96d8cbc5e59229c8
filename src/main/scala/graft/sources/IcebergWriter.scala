package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set, count, lit}
import org.apache.spark.sql.types._

import IcebergReader.{IceField, IceSchema, IceSpec, IceSpecField, Snapshot, StatisticsFile, TableMetadata}

/** Write-side twin of [[IcebergReader]]: emit a PUBLIC-spec Apache
  * Iceberg table (Hadoop-catalog layout, format v1) so existing
  * Iceberg consumers can read what this engine produces — the export
  * path when downstream stays on Iceberg.
  *
  * Scope (minimal, spec-conformant, append-only):
  *   - `create`: write the DataFrame's partitions as parquet data
  *     files, one ADDED (status=1) manifest entry each, one manifest +
  *     manifest list for snapshot 1, then `v1.metadata.json` and the
  *     `version-hint.text` pointer (committed LAST — the filesystem
  *     catalog's atomic pointer swap).
  *   - `append`: snapshot N+1 — a NEW manifest carrying the previous
  *     snapshot's live files as EXISTING (status=0) entries plus the
  *     new files as ADDED, so [[IcebergReader.readAppended]]'s
  *     status=1 filter sees exactly the appended rows (the
  *     exactly-once property incremental consumers rely on).
  *
  * The DATA write is the ordinary distributed parquet sink; manifests
  * and manifest lists are KB-scale avro composed through the ordinary
  * Spark avro source, and the metadata JSON is driver-side — the same
  * metadata/data split the spec itself mandates. `record_count` rides
  * each manifest entry (from one `_metadata.file_name` group-by over
  * just the new files), so downstream `files`-relation censuses work
  * at metadata cost.
  */
object IcebergWriter {

  private val entrySchema = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("data_file", StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType, nullable = false))))))

  /** Stage-write `df` and move its part files to deterministic
    * `data/s<snapshot>-<i>.parquet` names; returns (relPath, rows). */
  private def writeData(spark: SparkSession, df: DataFrame, base: String,
                        snapshot: Long): Seq[(String, Long)] = {
    val moved = Stage(base)(df.write.parquet(_)) { leaves =>
      require(leaves.nonEmpty, s"writeData produced no part files for $base")
      leaves.zipWithIndex.map { case (l, i) => Stage.move(l, base, s"data/s$snapshot-$i.parquet") }
    }
    // record_count per staged file from the parquet FOOTERS (metadata
    // plane) — the old read-back job re-scanned every byte just written
    moved.map(rel => rel -> ParquetFooters.rowCount(Paths.get(base, rel)))
  }

  /** One avro file of manifest entries at `rel`. */
  private def writeManifest(base: String, rel: String,
                            entries: Seq[(Int, String, Long)]): Unit = {
    val rows = entries.map { case (status, path, n) =>
      Row(status, Row(path, "PARQUET", n, Files.size(Paths.get(base, path))))
    }
    writeOneAvro(base, rel, entrySchema, rows)
  }

  /** Manifest variant whose entries carry the typed identity
    * `data_file.partition` struct ([[IcebergReader.readWhere]] prunes
    * on it). */
  private def writePartManifest(base: String, rel: String, partCol: String,
                                entries: Seq[(Int, String, Long, String)]): Unit = {
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("data_file", StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false),
        StructField("partition",
          StructType(Seq(StructField(partCol, StringType, nullable = false)))))))))
    val rows = entries.map { case (status, path, n, pv) =>
      Row(status, Row(path, "PARQUET", n, Files.size(Paths.get(base, path)), Row(pv)))
    }
    writeOneAvro(base, rel, schema, rows)
  }

  /** Identity-partitioned create: ONE data file per distinct value of
    * `partitionCol` (a single-task partitionBy staging job — at
    * cluster scale each partition is its own write task), each
    * manifest entry carrying the typed partition struct so
    * [[IcebergReader.readWhere]] prunes non-matching files before the
    * parquet source. The partition column STAYS in the data files
    * (identity partitioning; the residual row filter remains exact). */
  def createPartitioned(spark: SparkSession, df: DataFrame, base: String,
                        partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, when, lit => flit}
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "metadata"))
    Files.createDirectories(Paths.get(base, "data"))
    // index surrogate: partition values may contain characters hive
    // dir names escape ('4-NOT SPECIFIED')
    val vals = df.select(partitionCol).distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    val idx = vals.zipWithIndex.foldLeft(flit(-1)) { case (acc, (v, i)) =>
      when(col(partitionCol) === v, i).otherwise(acc)
    }
    // repartition BY the partition index (the createTransformPartitioned
    // shape): one write task per partition value, in parallel, and each
    // __g= dir still gets exactly one part file
    val rels = Stage(base)(df.withColumn("__g", idx.cast("string"))
      .repartition(col("__g")).write.partitionBy("__g").parquet(_)) { leaves =>
      Stage.cells(leaves).map { l =>
        val i = l.value("__g").toInt
        i -> Stage.move(l, base, s"data/part-p$i.parquet")
      }.toMap
    }
    val entries = vals.zipWithIndex.map { case (v, i) =>
      val rel = rels(i)
      // record_count from the footer — no read-back data pass
      (1, rel, ParquetFooters.rowCount(Paths.get(base, rel)), v)
    }
    val m = manifestName(1L)
    writePartManifest(base, m, partitionCol, entries)
    // declare spec-0 (identity) so the table can EVOLVE its layout
    // later; source-id 1000-family field ids are informational here
    publish(fresh(base).copy(defaultSpecId = Some(0),
      specs = Seq(IceSpec(0, Seq(IceSpecField(partitionCol, "identity", 1)))))
      .withSnapshot(snapshotOver(base, 1L, Seq(m))))
  }

  /** Transform-partitioned create (the prod layouts: `bucket[N]`,
    * `truncate[W]`, `day|month|year`): ONE data file per distinct
    * TRANSFORMED value of `partExpr`, each manifest entry carrying the
    * typed long `data_file.partition.<fieldName>` — the spec stores
    * the transform RESULT in partition metadata, never the source
    * value, which is exactly why a planner must re-apply the transform
    * to predicate literals to prune ([[IcebergReader.readWhere]] with
    * a filter built from [[IcebergTransforms]]). The partition spec
    * (name, transform, source) rides the metadata JSON. The source
    * column STAYS in the data files, so residual row filters are
    * exact. */
  def createTransformPartitioned(spark: SparkSession, df: DataFrame, base: String,
                                 fieldName: String, partExpr: org.apache.spark.sql.Column,
                                 transform: String, sourceId: Int): Unit = {
    import org.apache.spark.sql.Row
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "metadata"))
    Files.createDirectories(Paths.get(base, "data"))
    // repartition BY the transform value: each partition dir is written
    // by exactly one task (one file per partition, the invariant below)
    // and the ~|distinct values| writes run in parallel — a month
    // transform over years of data is dozens of files, not one task's
    // sequential loop
    val rels = Stage(base)(df.withColumn("__g", partExpr.cast("long").cast("string"))
      .repartition(col("__g")).write.partitionBy("__g").parquet(_)) { leaves =>
      Stage.cells(leaves).map { l =>
        val v = l.value("__g").toLong
        v -> Stage.move(l, base, s"data/part-$fieldName-$v.parquet")
      }.toMap
    }
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("data_file", StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false),
        StructField("partition",
          StructType(Seq(StructField(fieldName, LongType, nullable = false)))))))))
    val rows = rels.toSeq.sortBy(_._1).map { case (v, rel) =>
      // record_count from the footer — no read-back data pass
      Row(1, Row(rel, "PARQUET", ParquetFooters.rowCount(Paths.get(base, rel)),
        Files.size(Paths.get(base, rel)), Row(v)))
    }
    val m = manifestName(1L)
    writeOneAvro(base, m, schema, rows)
    // no default-spec-id: the lone spec is the default (v1 allows it)
    publish(fresh(base).copy(specs = Seq(IceSpec(0,
      Seq(IceSpecField(fieldName, transform, sourceId)))))
      .withSnapshot(snapshotOver(base, 1L, Seq(m))))
  }

  /** One avro file at `rel` from driver-local rows. Manifests are
    * KB-scale METADATA (the spec's own split) and their rows are
    * composed on the driver anyway — encoding them with the avro
    * library directly replaces the old one-task Spark job per manifest
    * (stage dir + coalesce(1) write + move) with a microsecond-scale
    * local write. The schema is derived by the SAME converter
    * spark-avro's writer uses ([[SchemaConverters.toAvroType]]), so the
    * OCF header schema is identical to what the old path produced and
    * every reader (spark-avro load, lake_conformance.py's from-scratch
    * OCF parser) sees the same shape. */
  private def writeOneAvro(base: String, rel: String,
                           schema: StructType, rows: Seq[Row]): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val avroSchema =
      org.apache.spark.sql.avro.SchemaConverters.toAvroType(schema, nullable = false)
    def nonNullOf(s: Schema): Schema =
      if (s.getType == Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else s
    def toRecord(s: Schema, st: StructType, r: Row): GenericRecord = {
      val rec = new GenericData.Record(s)
      st.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (r.isNullAt(i)) null else (f.dataType, r.get(i)) match {
          case (nested: StructType, row: Row) =>
            toRecord(nonNullOf(s.getField(f.name).schema()), nested, row)
          case (_, other) => other.asInstanceOf[AnyRef]
        }
        rec.put(f.name, v)
      }
      rec
    }
    val out = Paths.get(base, rel)
    Files.createDirectories(out.getParent)
    val w = new org.apache.avro.file.DataFileWriter(
      new GenericDatumWriter[GenericRecord](avroSchema))
    try {
      w.create(avroSchema, out.toFile)
      rows.foreach(r => w.append(toRecord(avroSchema, schema, r)))
    } finally w.close()
  }

  /** Snapshot `snap` over `manifests`: its manifest list is written
    * under a per-attempt name (the spec's UUID rule — a writer that
    * loses the publish race never overwrites the winner's list) and
    * recorded in the snapshot. `timestamp-ms` is the (sequential)
    * snapshot id: DETERMINISTIC yet monotone in commit order, so
    * TIMESTAMP AS OF resolves real boundaries on this writer's own
    * tables (a wall clock would break fixture reproducibility). */
  private def snapshotOver(base: String, snap: Long, manifests: Seq[String],
                           specIds: Option[Seq[Int]] = None): Snapshot = {
    // spec-tracking lists tag each manifest with its partition-spec id
    // (the spec's partition_spec_id field) so planners prune each era
    // under ITS spec; legacy lists keep the 2-column shape byte-stable
    val schema = StructType(Seq(
      StructField("manifest_path", StringType, nullable = false),
      StructField("manifest_length", LongType, nullable = false)) ++
      specIds.map(_ => StructField("partition_spec_id", IntegerType, nullable = false)))
    val rows = specIds match {
      case None => manifests.map(m => Row(m, sizeOrAbs(base, m)))
      case Some(ids) =>
        require(ids.size == manifests.size, "specIds must align with manifests")
        manifests.zip(ids).map { case (m, id) => Row(m, sizeOrAbs(base, m), id) }
    }
    val list = s"metadata/snap-$snap-${UUID.randomUUID}.avro"
    writeOneAvro(base, list, schema, rows)
    Snapshot(snap, snap, list)
  }

  /** A new manifest's per-attempt name. */
  private def manifestName(snap: Long): String = s"metadata/m$snap-${UUID.randomUUID}.avro"

  /** Manifest paths in a list may be table-relative (this writer's) or
    * absolute (carried from a reader resolve) — size either. */
  private def sizeOrAbs(base: String, m: String): Long =
    if (m.startsWith("/")) Files.size(Paths.get(m)) else Files.size(Paths.get(base, m))

  /** A new table's state before its first publish (version 0). */
  private def fresh(base: String, formatVersion: Int = 1): TableMetadata =
    TableMetadata(base, 0, formatVersion, Some("graft-export"), base,
      None, Nil, None, Nil, -1L, Nil)

  /** The one publish: `m` as the version after the one it was read at,
    * then the version hint. CREATE_NEW: a second writer at the same
    * metadata version fails, not replaces the first — the catalog's
    * mutual-exclusion point. Every commit is `meta.copy(...)` through
    * here, so whatever it does not change (schemas, specs, summaries,
    * refs, statistics, row lineage, foreign snapshot fields) carries. */
  private def publish(m: TableMetadata): Unit = {
    val v = m.version + 1
    Files.writeString(Paths.get(m.base, "metadata", s"v$v.metadata.json"),
      m.json, StandardOpenOption.CREATE_NEW)
    Files.writeString(Paths.get(m.base, "metadata", "version-hint.text"), v.toString)
  }

  /** EVOLVE THE PARTITION SPEC — metadata-only (the spec's layout
    * change, e.g. identity → day as a table's scale grows): a NEW spec
    * joins `partition-specs` under a fresh spec-id and becomes the
    * default. Existing manifests keep their old struct and spec-id
    * tag; only data committed AFTER this routes (and prunes) under the
    * new layout. */
  def evolveSpec(spark: SparkSession, base: String, fieldName: String,
                 transform: String, sourceId: Int): Unit = {
    val meta = IcebergReader.load(base)
    require(meta.specs.nonEmpty,
      s"$base declares no partition-specs — only spec-tracking tables evolve")
    val newId = meta.specs.map(_.specId).max + 1
    publish(meta.copy(defaultSpecId = Some(newId), specs = meta.specs :+
      IceSpec(newId, Seq(IceSpecField(fieldName, transform, sourceId)))))
  }

  /** Append routed by the CURRENT DEFAULT SPEC — the write shape after
    * an [[evolveSpec]]: data stages one file per transformed value of
    * `sourceCol`, a NEW manifest carries ONLY the added entries under
    * the new spec's partition struct, and the manifest list reuses the
    * previous snapshot's manifests untouched (each keeping its own
    * spec-id tag) — the spec's manifest-reuse discipline, which is also
    * what makes mixed-spec planning necessary. */
  def appendSpec(spark: SparkSession, df: DataFrame, base: String,
                 sourceCol: String): Unit = {
    import org.apache.spark.sql.Row
    val meta = IcebergReader.load(base)
    val spec = meta.defaultSpec.getOrElse(
      throw new IllegalArgumentException(s"$base declares no default partition spec"))
    require(spec.fields.size == 1, "appendSpec supports single-field specs")
    val f = spec.fields.head
    val partExpr: org.apache.spark.sql.Column = f.transform match {
      case "identity" => col(sourceCol).cast("long")
      case "month"    => IcebergTransforms.monthCol(col(sourceCol))
      case "day"      => org.apache.spark.sql.functions
        .datediff(col(sourceCol), org.apache.spark.sql.functions.to_date(lit("1970-01-01")))
        .cast("long")
      case "year"     => (org.apache.spark.sql.functions.year(col(sourceCol)) - 1970).cast("long")
      case t if t.startsWith("bucket[") =>
        IcebergTransforms.bucketCol(t.stripPrefix("bucket[").stripSuffix("]").toInt,
          col(sourceCol)).cast("long")
      case t if t.startsWith("truncate[") =>
        IcebergTransforms.truncateCol(t.stripPrefix("truncate[").stripSuffix("]").toLong,
          col(sourceCol))
      case other => throw new IllegalArgumentException(
        s"transform $other beyond appendSpec (long-valued transforms only)")
    }
    val prevManifests = IcebergReader.manifestsWithSpecs(spark, meta, meta.currentSnapshotId)
    val snap = meta.currentSnapshotId + 1
    // stage one write task per transformed value (the parallel shape)
    val rels = Stage(base)(df.withColumn("__g", partExpr.cast("string"))
      .repartition(col("__g")).write.partitionBy("__g").parquet(_)) { leaves =>
      Stage.cells(leaves).map { l =>
        val g = l.value("__g").toLong
        g -> Stage.move(l, base, s"data/part-${f.name}-s$snap-$g.parquet")
      }.toMap
    }
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("data_file", StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false),
        StructField("partition",
          StructType(Seq(StructField(f.name, LongType, nullable = false)))))))))
    val rows = rels.toSeq.sortBy(_._1).map { case (g, rel) =>
      // record_count from the footer — no read-back data pass
      Row(1, Row(rel, "PARQUET", ParquetFooters.rowCount(Paths.get(base, rel)),
        Files.size(Paths.get(base, rel)), Row(g)))
    }
    val m = manifestName(snap)
    writeOneAvro(base, m, schema, rows)
    // manifest REUSE: the previous manifests ride with their own spec
    // ids; the new manifest is tagged with the default spec
    val allManifests = prevManifests :+ (m -> spec.specId)
    publish(meta.withSnapshot(snapshotOver(base, snap, allManifests.map(_._1),
      specIds = Some(allManifests.map(_._2)))))
  }

  /** The table's schema history, BOOTSTRAPPED from the current data
    * footers when the metadata tracks none yet (schema-0: field ids by
    * column order — the assignment this writer has always implied). */
  private def currentSchemas(spark: SparkSession,
                             meta: TableMetadata): (Int, Seq[IceSchema]) =
    meta.currentSchemaId match {
      case Some(cur) => (cur, meta.schemas)
      case None =>
        val scan = IcebergReader.plan(spark, meta, meta.currentSnapshotId)
        require(scan.dataFiles.nonEmpty, s"cannot bootstrap a schema for empty ${meta.base}")
        val st = spark.read.option("mergeSchema", "true")
          .parquet(scan.dataFiles.map(_._1): _*).schema
        (0, Seq(IceSchema(0, st.fields.toSeq.zipWithIndex.map {
          case (f, i) => IceField(i + 1, f.name, icebergTypeOf(f.dataType))
        })))
    }

  /** Commit a NEW schema (metadata-only — zero data bytes move): the
    * edited field list joins the `schemas` history under a fresh
    * schema-id and becomes current. Snapshots, refs, row lineage and
    * statistics carry through untouched. `edit` also gets the next
    * unused field id. */
  private def commitSchema(spark: SparkSession, meta: TableMetadata,
                           edit: (Seq[IceField], Int) => Seq[IceField]): Unit = {
    val (cur, all) = currentSchemas(spark, meta)
    val curFields = all.find(_.schemaId == cur).get.fields
    val newFields = edit(curFields, all.flatMap(_.fields).map(_.id).max + 1)
    // ambiguity guard: a name may only ever label ONE field id across
    // the whole history — the merged-scan coalesce resolution (and any
    // name-mapping external reader) depends on it
    val history = all.flatMap(_.fields).map(f => f.name -> f.id).distinct
    newFields.foreach { f =>
      val clash = history.filter(h => h._1 == f.name && h._2 != f.id)
      require(clash.isEmpty,
        s"column name ${f.name} already labeled field id ${clash.head._2} — " +
          "reusing a historical name for a different field would make old " +
          "files unreadable by name resolution")
    }
    val newId = all.map(_.schemaId).max + 1
    publish(meta.copy(currentSchemaId = Some(newId), schemas = all :+ IceSchema(newId, newFields)))
  }

  /** ALTER TABLE ADD COLUMN — metadata-only; old files surface the new
    * column as typed NULL through the field-id projection. */
  def evolveAddColumn(spark: SparkSession, base: String,
                      name: String, icebergType: String): Unit =
    commitSchema(spark, IcebergReader.load(base), { (fields, nextId) =>
      require(!fields.exists(_.name == name), s"column $name already exists")
      fields :+ IceField(nextId, name, icebergType)
    })

  /** ALTER TABLE ADD COLUMN ... DEFAULT — the v3 DEFAULT VALUES
    * feature: the new field carries the spec's `initial-default` (and
    * matching `write-default`), so rows written BEFORE the column
    * existed surface the default instead of NULL — still metadata-only,
    * zero rewrite. [[append]] honors the pairing: a batch OMITTING the
    * column takes the `write-default` (the spec's fill rule), one
    * carrying NULLs in it refuses — which is exactly what keeps the
    * merged-scan resolution sound (NULL ⟺ the file predates the
    * column).
    * `defaultJson` is the RAW JSON scalar (`"bronze"` quoted for
    * strings, `5` bare for numbers). */
  def evolveAddColumnDefault(spark: SparkSession, base: String,
                             name: String, icebergType: String,
                             defaultJson: String): Unit = {
    val meta = IcebergReader.load(base)
    require(meta.formatVersion == 3,
      "default values are an Iceberg format-version 3 schema feature")
    commitSchema(spark, meta, { (fields, nextId) =>
      require(!fields.exists(_.name == name), s"column $name already exists")
      fields :+ IceField(nextId, name, icebergType, initialDefault = Some(defaultJson))
    })
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only; the field id stays, so
    * files written under EITHER name read through the current one. */
  def evolveRenameColumn(spark: SparkSession, base: String,
                         from: String, to: String): Unit =
    commitSchema(spark, IcebergReader.load(base), { (fields, _) =>
      require(fields.exists(_.name == from), s"no column $from to rename")
      require(!fields.exists(_.name == to), s"column $to already exists")
      fields.map(f => if (f.name == from) f.copy(name = to) else f)
    })

  /** ALTER COLUMN TYPE — the spec's legal TYPE PROMOTIONS (int→long,
    * float→double): metadata-only; the field id keeps its bytes and
    * the merged-scan projection casts every era to the CURRENT type
    * (old narrow files upcast, exactly the Delta typeWidening shape).
    * Anything outside the spec's promotion set refuses. */
  def evolveWidenColumn(spark: SparkSession, base: String,
                        name: String, toType: String): Unit = {
    val legal = Set("int" -> "long", "float" -> "double")
    commitSchema(spark, IcebergReader.load(base), { (fields, _) =>
      val f = fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name to widen"))
      require(legal.contains(f.tpe -> toType),
        s"$name: ${f.tpe} -> $toType is not a spec type promotion " +
          s"(legal: ${legal.toSeq.sorted.mkString(", ")})")
      fields.map(g => if (g.name == name) g.copy(tpe = toType) else g)
    })
  }

  /** ALTER TABLE DROP COLUMN — metadata-only; the field id retires (it
    * is never reused), data files keep the bytes until a rewrite. */
  def evolveDropColumn(spark: SparkSession, base: String, name: String): Unit =
    commitSchema(spark, IcebergReader.load(base), { (fields, _) =>
      require(fields.exists(_.name == name), s"no column $name to drop")
      require(fields.size > 1, "cannot drop the last column")
      fields.filterNot(_.name == name)
    })

  /** Create or move a named REF (tag = immutable audit pin, branch =
    * movable head) — a metadata-only commit: a new metadata version
    * with the refs map updated, nothing else touched. Tags are the
    * spec's expiry shield for compliance snapshots. */
  def setRef(spark: SparkSession, base: String, name: String,
             snapshotId: Long, refType: String = "tag"): Unit = {
    require(refType == "tag" || refType == "branch", s"bad ref type $refType")
    val meta = IcebergReader.load(base)
    require(meta.snapshots.exists(_.id == snapshotId), s"ref targets unknown snapshot $snapshotId")
    publish(meta.copy(refs = meta.refs + (name -> (snapshotId, refType))))
  }

  /** TABLE STATISTICS (the spec's `statistics` metadata list): ONE
    * distributed pass over the current snapshot computes, per column,
    * a REAL `apache-datasketches-theta-v1` sketch (over `xxhash64` of
    * the value — external engines can merge/estimate it) and the exact
    * NDV; both land in a Puffin stats file — sketch bytes as the blob,
    * NDV as the spec's `ndv` blob property — and a new metadata version
    * registers it for the snapshot. Consumers ([[IcebergReader.statsNdv]],
    * external CBOs) then read cardinalities from the puffin FOOTER
    * alone — no data file opens. Returns the stats file's rel path. */
  def writeStats(spark: SparkSession, base: String,
                 cols: Seq[(String, Int)]): String = {
    import org.apache.spark.sql.functions.{countDistinct, xxhash64}
    require(cols.nonEmpty, "writeStats needs at least one (column, fieldId)")
    val meta = IcebergReader.load(base)
    val snap = meta.currentSnapshotId
    val df = IcebergReader.read(spark, meta, snap)
    val aggs = cols.flatMap { case (c, _) =>
      Seq(graft.functions.ThetaSketchAgg.thetaSketch(xxhash64(col(c))).as(s"sk_$c"),
        countDistinct(col(c)).as(s"ndv_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val blobs = cols.map { case (c, fid) =>
      Puffin.Blob(row.getAs[Array[Byte]](s"sk_$c"),
        "apache-datasketches-theta-v1", snap, snap,
        Map("ndv" -> row.getAs[Long](s"ndv_$c").toString), fields = Seq(fid))
    }
    val rel = s"metadata/stats-s$snap.puffin"
    Puffin.writeFile(s"$base/$rel", blobs)
    // a later stats write for the SAME snapshot replaces its entry
    publish(meta.copy(statistics = meta.statistics.filterNot(_.snapshotId == snap) :+
      StatisticsFile(snap, rel, Files.size(Paths.get(base, rel)))))
    rel
  }

  /** Create a new Iceberg table at `base` (snapshot 1). */
  def create(spark: SparkSession, df: DataFrame, base: String): Unit = {
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "metadata"))
    val files = writeData(spark, df, base, 1L)
    val m = manifestName(1L)
    writeManifest(base, m, files.map { case (p, n) => (1, p, n) })
    publish(fresh(base).withSnapshot(snapshotOver(base, 1L, Seq(m))))
  }

  /** The Spark→Iceberg primitive type mapping this writer declares in
    * schema-tracking metadata (inverse of IcebergReader.sparkTypeOf). */
  private[sources] def icebergTypeOf(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case IntegerType   => "int"
      case LongType      => "long"
      case FloatType     => "float"
      case DoubleType    => "double"
      case StringType    => "string"
      case BooleanType   => "boolean"
      case DateType      => "date"
      case TimestampType => "timestamp"
      case other => throw new IllegalArgumentException(
        s"no Iceberg mapping for Spark type ${other.simpleString}")
    }
  }

  /** Schema-only table — the catalog's CREATE TABLE shape: v1 metadata
    * declaring the schema through the `schemas` tracking list (so
    * [[append]] and the front door know the shape) and NO snapshot
    * (`current-snapshot-id` -1 per spec). The first [[append]] commits
    * snapshot 1. The target must be VACANT — same CREATE discipline as
    * `DeltaLogWriter.createEmpty`: never clear a directory this writer
    * did not stage. */
  def createEmpty(spark: SparkSession,
                  schema: org.apache.spark.sql.types.StructType,
                  base: String): Unit = {
    val dir = Paths.get(base)
    val vacant = !Files.exists(dir) || (Files.isDirectory(dir) && {
      val s0 = Files.list(dir)
      try !s0.findFirst().isPresent finally s0.close()
    })
    require(vacant,
      s"CREATE TABLE target $base exists and is not empty — refusing to " +
        "clear a directory this writer did not stage (drop it explicitly first)")
    Files.createDirectories(Paths.get(base, "metadata"))
    val fields = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, icebergTypeOf(f.dataType))
    }
    publish(fresh(base).copy(currentSchemaId = Some(0), schemas = Seq(IceSchema(0, fields))))
  }

  /** Bin-pack compaction (the rewrite-data-files action): snapshot N+1
    * replaces ALL live data files with `ceil(liveBytes/target)` packed
    * files — old entries DELETED (status=2), new ADDED. On a table
    * carrying live position/equality delete files, the rewrite APPLIES
    * them (the rows come from the read path's own delete semantics) and
    * the delete files drop from the new snapshot too — real Iceberg
    * compaction's delete-file elimination, the maintenance op that
    * stops delete debt accumulating on a hot v2 table. Content is
    * identical to the pre-rewrite READ; the old files stay on disk for
    * time travel until [[expireSnapshots]]. The foreign twin of
    * `DeltaLogWriter.optimize`+`reorgPurge`. Returns
    * (filesBefore, filesAfter). */
  def rewrite(spark: SparkSession, base: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    val meta = IcebergReader.load(base)
    val fv = meta.formatVersion
    val prev = meta.currentSnapshotId
    val scan = IcebergReader.plan(spark, meta, prev)
    val live = scan.dataFiles
    val hasDels = scan.posDeleteFiles.nonEmpty || scan.eqDeleteFiles.nonEmpty ||
      scan.dvs.nonEmpty
    val liveBytes = live.map(f => Files.size(Paths.get(f._1))).sum
    val numOut = math.max(1, math.ceil(liveBytes.toDouble / targetBytes).toInt)
    if (!hasDels && numOut >= live.size) return (live.size, live.size)
    val snap = prev + 1
    // v3 compaction must PRESERVE row lineage: read WITH `_row_id` /
    // `_last_updated_sequence_number` and write them as real columns
    // (the rewritten entries carry first_row_id = null — materialized)
    val rows =
      if (fv == 3) IcebergReader.readLineage(spark, scan)
      else if (hasDels) IcebergReader.readScan(spark, meta, prev, scan)
      else spark.read.parquet(live.map(_._1): _*)
    val files = writeData(spark, rows.repartition(numOut), base, snap)
    def relOf(abs: String) = IcebergWriter.relOf(base, abs)
    val m = manifestName(snap)
    if (fv == 3) {
      val droppedData = live.map { case (abs, n) =>
        V3Entry(2, relOf(abs), n, 0, scan.dataSeq.getOrElse(abs, 0L),
          firstRowId = scan.firstRowIds.get(abs))
      }
      val droppedDvs = scan.dvs.map { dv =>
        V3Entry(2, relOf(dv.puffin), dv.cardinality, 1, dv.seq,
          Some(relOf(dv.referenced)), Some(dv.offset), Some(dv.size))
      }
      val added = files.map { case (p, n) => V3Entry(1, p, n, 0, snap.toLong) }
      writeV3Manifest(base, m, droppedData ++ droppedDvs ++ added)
      val v0 = meta.nextRowId.getOrElse(0L)
      publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m)).copy(firstRowId = Some(v0)))
        .copy(nextRowId = Some(v0))) // compaction assigns no NEW row ids
      return (live.size, files.size)
    }
    if (fv == 1 && !hasDels) {
      writeManifest(base, m,
        live.map { case (abs, n) => (2, relOf(abs), n) } ++
          files.map { case (p, n) => (1, p, n) })
    } else {
      val droppedData = live.map { case (abs, n) =>
        (2, relOf(abs), n, 0, scan.dataSeq.getOrElse(abs, 0L))
      }
      val droppedDels = (scan.posDeleteFiles.map(p => (p, 1)) ++
        scan.eqDeleteFiles.map(e => (e._1, 2))).map { case (abs, content) =>
        val (n, seq) = scan.delMeta.getOrElse(abs, (0L, 0L))
        (2, relOf(abs), n, content, seq)
      }
      writeV2Manifest(base, m, droppedData ++ droppedDels ++
        files.map { case (p, n) => (1, p, n, 0, snap.toLong) })
    }
    publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m))))
    (live.size, files.size)
  }

  /** Snapshot expiry (the other half of table maintenance): a new
    * metadata version lists ONLY snapshots ≥ `keepFrom`; data files
    * referenced exclusively by dropped snapshots — and the dropped
    * manifest lists — are DELETED from disk. Time travel to expired
    * snapshots fails by design; every kept snapshot keeps reading.
    * Returns the orphaned data files that were removed. */
  def expireSnapshots(spark: SparkSession, base: String, keepFrom: Long): Seq[String] = {
    val meta = IcebergReader.load(base)
    val (dropped, kept) = meta.snapshots.partition(_.id < keepFrom)
    require(kept.nonEmpty, s"expiry would drop every snapshot of $base")
    val current = meta.currentSnapshotId
    require(kept.exists(_.id == current), s"expiry would drop the CURRENT snapshot $current")
    meta.refs.foreach { case (name, (id, _)) =>
      require(kept.exists(_.id == id),
        s"expiry would drop snapshot $id pinned by ref '$name' — drop the ref first")
    }
    if (dropped.isEmpty) return Nil
    // the reference sets must include DELETE files too: a dropped
    // snapshot's delete parquet is reclaimable disk, and a KEPT
    // snapshot's delete file must never be swept as an orphan
    def allFiles(s: Snapshot): Seq[String] = {
      val sc = IcebergReader.plan(spark, meta, s.id)
      sc.dataFiles.map(_._1) ++ sc.posDeleteFiles ++ sc.eqDeleteFiles.map(_._1) ++
        sc.dvs.map(_.puffin)
    }
    val keptFiles = kept.flatMap(allFiles).toSet
    val orphans = dropped.flatMap(allFiles).distinct.filterNot(keptFiles)
    // stats entries of DROPPED snapshots expire with them (their puffin
    // files are reclaimed below); kept snapshots keep their stats
    val (keptStats, droppedStats) =
      meta.statistics.partition(e => kept.exists(_.id == e.snapshotId))
    publish(meta.copy(snapshots = kept, statistics = keptStats))
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    droppedStats.foreach(s => Files.deleteIfExists(Paths.get(base, s.path)))
    // each dropped snapshot's RECORDED manifest list
    dropped.foreach(s =>
      Files.deleteIfExists(Paths.get(IcebergReader.resolve(base, s.manifestList))))
    orphans
  }

  /** remove_orphan_files: delete data files on disk that NO declared
    * snapshot references — the crash-debris cleaner every object-store
    * table eventually needs (a failed write stages files the commit
    * never claimed; they cost storage forever and confuse naive
    * directory listings). Detection is a KB-scale set difference:
    * every snapshot's manifest-claimed paths (data AND delete files)
    * versus the `data/` listing — no data file is opened. Returns the
    * deleted relative paths. */
  def removeOrphans(spark: SparkSession, base: String): Seq[String] = {
    val meta = IcebergReader.load(base)
    val referenced = meta.snapshots.flatMap { s =>
      val scan = IcebergReader.plan(spark, meta, s.id)
      scan.dataFiles.map(_._1) ++ scan.posDeleteFiles ++
        scan.eqDeleteFiles.map(_._1) ++ scan.dvs.map(_.puffin)
    }.map(p => Paths.get(p).normalize.toString).toSet
    val dataDir = Paths.get(base, "data")
    if (!Files.isDirectory(dataDir)) return Nil
    val victims = Fs.list(dataDir).iterator
      .filter(p => Files.isRegularFile(p) &&
        !referenced.contains(p.normalize.toString))
      .toSeq
    victims.foreach(Files.delete)
    victims.map(p => s"data/${p.getFileName}")
  }

  /** v2 manifest whose entries carry `data_file.content` (0 data /
    * 1 position deletes / 2 equality deletes) and a top-level
    * `sequence_number` — the ordering the spec's delete windows need.
    * Entries: (status, relPath, recordCount, content, sequenceNumber). */
  private def writeV2Manifest(base: String, rel: String,
                              entries: Seq[(Int, String, Long, Int, Long)]): Unit = {
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("data_file", StructType(Seq(
        StructField("content", IntegerType, nullable = false),
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false))))))
    val rows = entries.map { case (status, path, n, content, seq) =>
      Row(status, seq, Row(content, path, "PARQUET", n, Files.size(Paths.get(base, path))))
    }
    writeOneAvro(base, rel, schema, rows)
  }

  // ---- format-version 3: deletion vectors + row lineage --------------------

  /** One v3 manifest entry. Data files (`content=0`) may carry a
    * row-lineage `firstRowId` (None ⇒ the file MATERIALIZES `_row_id`,
    * what a lineage-preserving compaction writes); DELETION VECTORS
    * (`content=1` + `refDataFile`) carry the [[Puffin]] blob locator
    * the scan path jumps by. */
  private final case class V3Entry(status: Int, path: String, records: Long,
                                   content: Int, seq: Long,
                                   refDataFile: Option[String] = None,
                                   contentOffset: Option[Long] = None,
                                   contentSize: Option[Long] = None,
                                   firstRowId: Option[Long] = None)

  private def writeV3Manifest(base: String, rel: String,
                              entries: Seq[V3Entry]): Unit = {
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("data_file", StructType(Seq(
        StructField("content", IntegerType, nullable = false),
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false),
        StructField("referenced_data_file", StringType, nullable = true),
        StructField("content_offset", LongType, nullable = true),
        StructField("content_size_in_bytes", LongType, nullable = true),
        StructField("first_row_id", LongType, nullable = true))))))
    val rows = entries.map { e =>
      Row(e.status, e.seq, Row(e.content, e.path, if (e.content == 1 && e.refDataFile.isDefined) "PUFFIN" else "PARQUET",
        e.records, Files.size(Paths.get(base, e.path)),
        e.refDataFile.orNull,
        e.contentOffset.map(java.lang.Long.valueOf).orNull,
        e.contentSize.map(java.lang.Long.valueOf).orNull,
        e.firstRowId.map(java.lang.Long.valueOf).orNull))
    }
    writeOneAvro(base, rel, schema, rows)
  }

  private def relOf(base: String, abs: String): String =
    abs.stripPrefix(Paths.get(base).toString).stripPrefix("/")

  /** Every live entry of a v3 scan as EXISTING rows — data files keep
    * their `first_row_id` (or its absence: materialized lineage), DVs
    * keep their blob locator and original sequence. */
  private def carriedV3(scan: IcebergReader.SnapshotScan, base: String): Seq[V3Entry] = {
    val data = scan.dataFiles.map { case (abs, n) =>
      V3Entry(0, relOf(base, abs), n, 0, scan.dataSeq.getOrElse(abs, 0L),
        firstRowId = scan.firstRowIds.get(abs))
    }
    val dvs = scan.dvs.map { dv =>
      V3Entry(0, relOf(base, dv.puffin), dv.cardinality, 1, dv.seq,
        Some(relOf(base, dv.referenced)), Some(dv.offset), Some(dv.size))
    }
    val dels = (scan.posDeleteFiles.map(p => (p, 1)) ++
      scan.eqDeleteFiles.map(e => (e._1, 2))).map { case (abs, content) =>
      val (n, seq) = scan.delMeta.getOrElse(abs, (0L, 0L))
      V3Entry(0, relOf(base, abs), n, content, seq)
    }
    data ++ dvs ++ dels
  }

  /** Create a FORMAT-VERSION 3 table: same data layout as [[create]],
    * plus row lineage from birth — file `i` gets
    * `first_row_id = Σ record counts of files before it` and the
    * metadata records `next-row-id` so every later commit assigns
    * fresh, never-reused ids. */
  def createV3(spark: SparkSession, df: DataFrame, base: String): Unit = {
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "metadata"))
    val files = writeData(spark, df, base, 1L)
    var next = 0L
    val entries = files.map { case (p, n) =>
      val e = V3Entry(1, p, n, 0, 1L, firstRowId = Some(next)); next += n; e
    }
    val m = manifestName(1L)
    writeV3Manifest(base, m, entries)
    publish(fresh(base, formatVersion = 3).copy(nextRowId = Some(next))
      .withSnapshot(snapshotOver(base, 1L, Seq(m)).copy(firstRowId = Some(0L))))
  }

  /** v3 DELETE as a DELETION-VECTOR commit (the spec FORBIDS new
    * position-delete files at v3): per touched data file, a roaring
    * bitmap built EXECUTOR-side (one group per file; the driver sees
    * only KB-scale serialized blobs, never position lists), all blobs
    * in ONE [[Puffin]] file. A data file has AT MOST ONE DV — a re-
    * delete REPLACES its DV with the union (old entry dropped at
    * status=2), the spec's monotone-growth rule. Returns
    * (affectedDataFiles, newlyDeletedRows). */
  def deleteWhereV3(spark: SparkSession, base: String,
                    predicate: org.apache.spark.sql.Column): (Int, Long) =
    deleteWhereV3(spark, IcebergReader.load(base), predicate)

  private def deleteWhereV3(spark: SparkSession, meta: TableMetadata,
                            predicate: org.apache.spark.sql.Column): (Int, Long) = {
    import org.apache.spark.sql.Encoders
    val base = meta.base
    require(meta.formatVersion == 3,
      s"deleteWhereV3 needs a format-version 3 table, $base is not one")
    val prev = meta.currentSnapshotId
    val scan = IcebergReader.plan(spark, meta, prev)
    require(scan.dataFiles.nonEmpty, s"DELETE on empty table $base")
    // live matching rows under the existing DVs (already-masked rows
    // never re-match), keyed by native row positions
    val matched = IcebergReader.scanWithPositions(spark, scan)
      .filter(predicate.eqNullSafe(true))
    val existingBytes: Map[String, Array[Byte]] = scan.dvs.map { dv =>
      dv.referenced.replaceFirst("^file:/*", "/") ->
        Puffin.readDvPayload(dv.puffin, dv.offset, dv.size)
    }.toMap
    val exBc = spark.sparkContext.broadcast(existingBytes)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val fileEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.BINARY)
    val perFile = matched.select(col("__path"), col("__pos")).as(pairEnc)
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (p, it) =>
        val fresh = it.map(_._2).toArray
        val merged = (exBc.value.get(p).map(RoaringDv.deserialize).getOrElse(Seq.empty) ++
          fresh).distinct.sorted
        (p, fresh.length.toLong, merged.size.toLong, RoaringDv.serialize(merged))
      }(fileEnc)
      .collect().sortBy(_._1)
    if (perFile.isEmpty) return (0, 0L)
    val snap = prev + 1
    Files.createDirectories(Paths.get(base, "data"))
    val puffinRel = s"data/dv-s$snap.puffin"
    val blobs = perFile.toSeq.map { case (p, _, card, payload) =>
      Puffin.Blob(Puffin.dvBlobBytes(payload), "deletion-vector-v1", snap, snap,
        Map("referenced-data-file" -> relOf(base, p), "cardinality" -> card.toString))
    }
    val metas = Puffin.writeFile(s"$base/$puffinRel", blobs)
    // carried entries MINUS the replaced DVs of re-masked files
    val touched = perFile.map(p => relOf(base, p._1)).toSet
    val carried = carriedV3(scan, base).filterNot(e =>
      e.content == 1 && e.refDataFile.exists(touched.contains))
    val dvEntries = perFile.toSeq.zip(metas).map { case ((p, _, card, _), m) =>
      V3Entry(1, puffinRel, card, 1, snap.toLong,
        Some(relOf(base, p)), Some(m.offset), Some(m.length))
    }
    val m = manifestName(snap)
    writeV3Manifest(base, m, carried ++ dvEntries)
    val next0 = meta.nextRowId.getOrElse(0L)
    publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m)).copy(firstRowId = Some(next0)))
      .copy(nextRowId = Some(next0))) // a DELETE assigns no row ids
    (perFile.length, perFile.map(_._2).sum)
  }

  /** What the Iceberg SQL UPDATE/MERGE path refuses toward the Scala
    * entry points: PARTITIONED tables (staged files would need the
    * spec's per-era partition structs in their manifest entries) and
    * SCHEMA-EVOLVED tables (the position-stamped raw scan binds file
    * columns by name, not field id). DELETEs are exempt — they ride
    * `SupportsDelete` → [[deleteWhere]], which handles both. */
  private[sources] def sqlDmlGuards(meta: TableMetadata): Unit = {
    require(!meta.specs.exists(_.fields.nonEmpty),
      s"SQL UPDATE/MERGE on partitioned Iceberg table ${meta.base} — partition-aware " +
        "staging goes through IcebergWriter.appendSpec/upsertEq")
    require(meta.currentSchemaId.isEmpty || meta.schemas.size <= 1,
      s"SQL UPDATE/MERGE on schema-evolved Iceberg table ${meta.base} — the " +
        "field-id projection DML goes through the Scala entry points")
  }

  /** The Iceberg WriteDelta scan (graft.sources.LakeSqlDml): DV/
    * delete-masked live rows + (`__path`, `__pos`) row identity +
    * `__pre` (the full old row). Lineage columns a compaction may have
    * materialized are writer plumbing, not data — hidden. */
  private[sources] def sqlDmlScan(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import org.apache.spark.sql.functions.struct
    val snap = meta.currentSnapshotId
    require(snap >= 0, s"SQL DML on empty Iceberg table ${meta.base}")
    val scan = IcebergReader.plan(spark, meta, snap)
    val df = IcebergReader.scanWithPositions(spark, scan)
      .drop("_row_id", "_last_updated_sequence_number")
    val dataCols = df.columns.filterNot(c => c == "__path" || c == "__pos")
    df.withColumn("__pre", struct(dataCols.toIndexedSeq.map(col): _*))
  }

  /** Data schema the SQL DML binds (current-table columns). */
  private[sources] def sqlDmlSchema(spark: SparkSession, meta: TableMetadata)
  : StructType =
    StructType(sqlDmlScan(spark, meta).schema.fields
      .filterNot(f => f.name.startsWith("__")))

  /** Commit one SQL WriteDelta batch (catalog `UPDATE` / `MERGE` —
    * graft.sources.LakeSqlDml's Iceberg row-level operation): per-file
    * deleted positions + executor-staged new-row files, ONE snapshot.
    * v2 stages the positions as a position-delete parquet (stacking —
    * the scan applies existing deletes first, so re-deletes cannot
    * occur); v3 unions them into puffin DVs, REPLACING each touched
    * file's DV (the spec's one-DV-per-file rule), and new data files
    * take contiguous row-lineage ranges. Deleted positions are
    * DML-sized driver metadata (the commit messages carried them);
    * the staged files were written by executors. */
  private[sources] def commitRowDelta(
      spark: SparkSession, meta: TableMetadata,
      delPosByFile: Map[String, Seq[Long]],
      dataRels: Seq[String], operation: String): Unit = {
    val base = meta.base
    val expectSnap = meta.currentSnapshotId
    require(IcebergReader.currentMetadataVersion(base) == meta.version,
      s"concurrent commit on $base: read at snapshot $expectSnap — aborted")
    if (delPosByFile.isEmpty && dataRels.isEmpty) return // no-op DML
    val fv = meta.formatVersion
    val scan = IcebergReader.plan(spark, meta, expectSnap)
    val snap = expectSnap + 1
    val summary = Some(Map("operation" -> operation.toLowerCase))
    val m = manifestName(snap)
    // staged-add censuses (counts per file) from the parquet footers —
    // metadata-plane, no read-back data pass over the staged files
    val added = dataRels.sorted.map(rel =>
      rel -> ParquetFooters.rowCount(Paths.get(base, rel)))
    if (fv == 3) {
      // v3 write-default obligation, same as append: staged rows must
      // not carry NULLs in defaulted columns (NULL ⟺ predates-column)
      if (dataRels.nonEmpty) meta.currentSchema.foreach { cur =>
        val staged = spark.read.parquet(dataRels.map(r => s"$base/$r"): _*)
        cur.fields.filter(f => f.initialDefault.isDefined &&
          staged.columns.contains(f.name)).foreach { f =>
          require(staged.filter(col(f.name).isNull).count() == 0L,
            s"SQL DML writes NULLs into required defaulted column ${f.name}")
        }
      }
      val existingBytes: Map[String, Array[Byte]] = scan.dvs.map { dv =>
        dv.referenced.replaceFirst("^file:/*", "/") ->
          Puffin.readDvPayload(dv.puffin, dv.offset, dv.size)
      }.toMap
      val perFile = delPosByFile.toSeq.sortBy(_._1).map { case (p, fresh) =>
        val merged = (existingBytes.get(p).map(RoaringDv.deserialize)
          .getOrElse(Seq.empty) ++ fresh).distinct.sorted
        (p, merged.size.toLong, RoaringDv.serialize(merged))
      }
      val dvEntries =
        if (perFile.isEmpty) Nil
        else {
          Files.createDirectories(Paths.get(base, "data"))
          val puffinRel = s"data/dv-s$snap.puffin"
          val blobs = perFile.map { case (p, card, payload) =>
            Puffin.Blob(Puffin.dvBlobBytes(payload), "deletion-vector-v1", snap, snap,
              Map("referenced-data-file" -> relOf(base, p),
                "cardinality" -> card.toString))
          }
          val metas = Puffin.writeFile(s"$base/$puffinRel", blobs)
          perFile.zip(metas).map { case ((p, card, _), m) =>
            V3Entry(1, puffinRel, card, 1, snap.toLong,
              Some(relOf(base, p)), Some(m.offset), Some(m.length))
          }
        }
      val touched = perFile.map(p => relOf(base, p._1)).toSet
      val carried = carriedV3(scan, base).filterNot(e =>
        e.content == 1 && e.refDataFile.exists(touched.contains))
      val next0 = meta.nextRowId.getOrElse(0L)
      var next = next0
      val addEntries = added.map { case (rel, n) =>
        val e = V3Entry(1, rel, n, 0, snap.toLong, firstRowId = Some(next)); next += n; e
      }
      writeV3Manifest(base, m, carried ++ dvEntries ++ addEntries)
      publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m))
        .copy(firstRowId = Some(next0), summary = summary)).copy(nextRowId = Some(next)))
    } else {
      // v2: position-delete parquet(s), spec schema (file_path, pos)
      // sorted by file then pos — built from the commit's DML-sized
      // position metadata
      val delEntries =
        if (delPosByFile.isEmpty) Nil
        else {
          val rows = delPosByFile.toSeq.sortBy(_._1).flatMap { case (p, ps) =>
            ps.distinct.sorted.map(pos => Row(p, pos))
          }
          val schema = StructType(Seq(
            StructField("file_path", StringType, nullable = false),
            StructField("pos", LongType, nullable = false)))
          val rel = s"data/del-s$snap-0.parquet"
          Stage.file(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
            base, rel)
          Seq((1, rel, rows.size.toLong, 1, snap.toLong))
        }
      writeV2Manifest(base, m, carriedEntries(scan, base) ++ delEntries ++
        added.map { case (rel, n) => (1, rel, n, 0, snap.toLong) })
      publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m)).copy(summary = summary))
        .copy(formatVersion = if (delEntries.nonEmpty || scan.posDeleteFiles.nonEmpty ||
          scan.eqDeleteFiles.nonEmpty) 2 else fv))
    }
  }

  /** Iceberg v2 DELETE as a POSITION-DELETE commit — the merge-on-read
    * write shape row-level deletes exist for (a CDC ingest cannot
    * afford the CoW rewrite): find the live (file_path, pos) pairs
    * matching `predicate` via the scan's own parquet row positions,
    * write position-delete parquet (`content=1`, the spec's
    * (file_path, pos) schema, sorted by file then pos; each touched
    * data file's positions in exactly one delete file), and commit
    * snapshot N+1 whose v2 manifest carries every previous live entry
    * as EXISTING — data files keep their original sequence numbers,
    * the delete file commits at the new snapshot's sequence, and NO
    * data file is rewritten. Stacks: a second delete adds its own
    * delete files; already-masked rows never re-match (the match scan
    * applies the existing deletes first). Returns
    * (affectedDataFiles, newlyDeletedRows). */
  def deleteWhere(spark: SparkSession, base: String,
                  predicate: org.apache.spark.sql.Column): (Int, Long) =
    deleteWhere(spark, IcebergReader.load(base), predicate)

  private[sources] def deleteWhere(spark: SparkSession, meta: TableMetadata,
                                   predicate: org.apache.spark.sql.Column): (Int, Long) = {
    // v3 forbids NEW position-delete files — route to the DV writer
    if (meta.formatVersion == 3) return deleteWhereV3(spark, meta, predicate)
    val base = meta.base
    val prev = meta.currentSnapshotId
    val scan = IcebergReader.plan(spark, meta, prev)
    require(scan.dataFiles.nonEmpty, s"DELETE on empty table $base")
    // live matching rows under the read path's OWN delete semantics
    // (existing position AND equality deletes applied — an eq-deleted
    // row must not be re-deleted by position), keyed by native row
    // positions
    val data = IcebergReader.scanWithPositions(spark, scan)
    val snap = prev + 1
    // the position-delete parquet files (spec schema (file_path, pos),
    // sorted by file then pos) are staged STRAIGHT from the distributed
    // scan — matched positions never visit the driver AND never funnel
    // through one task: the stage hash-partitions by file_path, so each
    // touched data file lands in exactly one delete file and a wide
    // DELETE at 100 TB writes one spec-legal delete file per non-empty
    // partition (the manifest lists them all), at most 4× the
    // parallelism; the touched-file count rides the staging write as an
    // observed metric, and the per-file row counts come from the staged
    // footers, so the commit adds no job of its own
    val parts = math.max(1, math.min(scan.dataFiles.size,
      4 * spark.sparkContext.defaultParallelism))
    val touched = org.apache.spark.sql.Observation()
    val delRels = Stage(base)(data.filter(predicate.eqNullSafe(true))
      .select(col("__path").as("file_path"), col("__pos").as("pos"))
      .observe(touched,
        org.apache.spark.sql.functions.size(collect_set(col("file_path"))).as("files"))
      .repartition(parts, col("file_path"))
      .sortWithinPartitions("file_path", "pos")
      .write.parquet(_)) { staged =>
      require(staged.nonEmpty, "no delete file staged")
      // drops the empty parts Spark writes for empty partitions before
      // the move assigns final names
      staged.map(l => l -> ParquetFooters.rowCount(l.path)).filter(_._2 > 0)
        .zipWithIndex.map { case ((l, n), i) =>
          (Stage.move(l, base, s"data/del-s$snap-$i.parquet"), n)
        }
    }
    val nDel = delRels.map(_._2).sum
    if (nDel == 0L) return (0, 0L)
    val m = manifestName(snap)
    writeV2Manifest(base, m, carriedEntries(scan, base) ++
      delRels.map { case (rel, n) => (1, rel, n, 1, snap.toLong) })
    publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m))).copy(formatVersion = 2))
    (touched.get("files").asInstanceOf[Int], nDel)
  }

  /** Iceberg v2 UPSERT the streaming-CDC way (the Flink shape): ONE
    * snapshot committing an EQUALITY-delete file (the source's distinct
    * key tuples, content=2) plus the source rows as a data append —
    * both at the new snapshot's sequence. The spec window does the
    * merge: the delete erases matching rows only from data files with a
    * STRICTLY smaller sequence number, so the appended (re-inserted)
    * rows survive their own delete — no data file is rewritten and no
    * read-side key index is needed. Returns (deleteKeys, appendedRows). */
  def upsertEq(spark: SparkSession, source: DataFrame, base: String,
               eqCols: Seq[String]): (Long, Long) = {
    require(eqCols.nonEmpty && eqCols.forall(source.columns.contains),
      s"equality columns ${eqCols.mkString(",")} must all exist in the source")
    val meta = IcebergReader.load(base)
    val prev = meta.currentSnapshotId
    val scan = IcebergReader.plan(spark, meta, prev)
    require(scan.dataFiles.nonEmpty, s"upsertEq on empty table $base")
    val snap = prev + 1
    // the eq-delete file's OWN columns are the equality tuple (the
    // reader resolves the spec's equality_ids to exactly the columns
    // the file carries)
    // stage parallelism sized by the SOURCE'S BYTES (optimizer estimate,
    // free driver-side), not by core count: the old cores/4 pin split a
    // KB-scale key set into one file per 4 cores (8 eq-delete files at
    // 32 cpus — manifest bloat AND one read+join per file downstream)
    // and would under-split a TB CDC batch on a small driver. ~64 MB of
    // key tuples per range partition, capped at 4× the parallelism.
    val keyTuples = source.select(eqCols.map(col): _*).distinct()
    val estBytes = org.apache.spark.sql.GraftPlanBridge.planStats(keyTuples)._2
    val parts = math.max(1L, math.min(
      (estBytes / (64L << 20)).toLong + 1L,
      spark.sparkContext.defaultParallelism * 4L)).toInt
    // same staging discipline as deleteWhere: one spec-legal eq-delete
    // file per non-empty range partition (the manifest lists them
    // all) — a wide CDC batch never funnels through a single sort task
    val delRels = Stage(base)(keyTuples
      .repartitionByRange(parts, eqCols.map(col): _*)
      .sortWithinPartitions(eqCols.map(col): _*)
      .write.parquet(_)) { staged =>
      require(staged.nonEmpty, "no eq-delete file staged")
      // per-file counts from the staged footers — no read-back data pass
      val nonEmpty = staged.map(l => l -> ParquetFooters.rowCount(l.path)).filter(_._2 > 0)
      require(nonEmpty.nonEmpty, "upsertEq with an empty source")
      nonEmpty.zipWithIndex.map { case ((l, n), i) =>
        (Stage.move(l, base, s"data/eqdel-s$snap-$i.parquet"), n)
      }
    }
    val nKeys = delRels.map(_._2).sum
    val files = writeData(spark, source, base, snap)
    val m = manifestName(snap)
    writeV2Manifest(base, m, carriedEntries(scan, base) ++
      files.map { case (p, n) => (1, p, n, 0, snap.toLong) } ++
      delRels.map { case (rel, n) => (1, rel, n, 2, snap.toLong) })
    publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m))).copy(formatVersion = 2))
    (nKeys, files.map(_._2).sum)
  }

  /** Every live entry of `scan` as EXISTING (status=0) v2 manifest
    * rows — data files AND delete files, each keeping its ORIGINAL
    * sequence number and record count (the spec's delete windows and
    * censuses depend on them; zeroing a carried delete's sequence
    * would widen its window for external readers). */
  private def carriedEntries(scan: IcebergReader.SnapshotScan,
                             base: String): Seq[(Int, String, Long, Int, Long)] = {
    def relOf(abs: String) = IcebergWriter.relOf(base, abs)
    val data = scan.dataFiles.map { case (abs, n) =>
      (0, relOf(abs), n, 0, scan.dataSeq.getOrElse(abs, 0L))
    }
    val dels = (scan.posDeleteFiles.map(p => (p, 1)) ++
      scan.eqDeleteFiles.map(e => (e._1, 2))).map { case (abs, content) =>
      val (n, seq) = scan.delMeta.getOrElse(abs, (0L, 0L))
      (0, relOf(abs), n, content, seq)
    }
    data ++ dels
  }

  /** Append-only commit: snapshot N+1 adds `df`'s rows; the previous
    * snapshot's live files ride along as EXISTING entries. On a v2
    * table (or any snapshot carrying live delete files) the carry uses
    * a v2 manifest with content + sequence columns — a v1 manifest here
    * would DROP the delete files and silently resurrect deleted rows on
    * the next read. */
  def append(spark: SparkSession, df0: DataFrame, base: String): Unit =
    append(spark, df0, IcebergReader.load(base), summary = None)

  /** Append with an optional SNAPSHOT SUMMARY — the streaming sink's
    * idempotence marker rides here, atomic with the commit. */
  private[sources] def append(spark: SparkSession, df0: DataFrame, meta: TableMetadata,
                              summary: Option[Map[String, String]]): Unit = {
    val base = meta.base
    val prev = meta.currentSnapshotId
    // FIRST append into a schema-only table (createEmpty / catalog
    // CTAS): no snapshot to plan — commit snapshot 1 directly, the
    // declared schema carrying with the rest of the state
    if (prev < 0) {
      meta.currentSchema.map(_.fields.map(_.name)).foreach(names =>
        require(names == df0.columns.toSeq,
          s"first append columns ${df0.columns.mkString(",")} do not match the " +
            s"declared schema ${names.mkString(",")}"))
      val files = writeData(spark, df0, base, 1L)
      val m = manifestName(1L)
      writeManifest(base, m, files.map { case (p, n) => (1, p, n) })
      publish(meta.withSnapshot(snapshotOver(base, 1L, Seq(m)).copy(summary = summary)))
      return
    }
    val fv = meta.formatVersion
    // the v3 default-value writer obligations: a batch OMITTING a
    // defaulted column takes its `write-default` (the spec's fill
    // rule), and a PROVIDED column must be non-null — together they
    // keep the reader's merged-scan resolution exact (NULL ⟺ the file
    // predates the column)
    val df = meta.currentSchema.toSeq.flatMap(_.fields)
      .filter(_.initialDefault.isDefined).foldLeft(df0) { (d, f) =>
        if (!d.columns.contains(f.name))
          d.withColumn(f.name, IcebergReader.defaultColumn(f))
        else {
          val bad = d.filter(col(f.name).isNull).count()
          require(bad == 0L,
            s"append carries $bad NULLs in required defaulted column ${f.name} — " +
              "the default marks rows that PREDATE the column, not new nulls")
          d
        }
      }
    val scan = IcebergReader.plan(spark, meta, prev)
    val hasDels = scan.posDeleteFiles.nonEmpty || scan.eqDeleteFiles.nonEmpty ||
      scan.dvs.nonEmpty
    val snap = prev + 1
    val files = writeData(spark, df, base, snap)
    val m = manifestName(snap)
    // v3 row lineage: this commit's first-row-id is the table's
    // next-row-id; new files take contiguous id ranges in file order
    val next0 = meta.nextRowId.getOrElse(0L)
    if (fv == 3) {
      var next = next0
      val added = files.map { case (p, n) =>
        val e = V3Entry(1, p, n, 0, snap.toLong, firstRowId = Some(next)); next += n; e
      }
      // live DVs (and any delete files) carry forward — a v1-shaped
      // carry here would RESURRECT soft-deleted rows silently
      writeV3Manifest(base, m, carriedV3(scan, base) ++ added)
    } else if (fv == 1 && !hasDels) {
      // reader resolves relative paths against base; store them relative
      val carried = scan.dataFiles.map { case (abs, n) => (0, relOf(base, abs), n) }
      writeManifest(base, m, carried ++ files.map { case (p, n) => (1, p, n) })
    } else {
      writeV2Manifest(base, m, carriedEntries(scan, base) ++
        files.map { case (p, n) => (1, p, n, 0, snap.toLong) })
    }
    // the format-version is THREADED, never downgraded
    val lineage = if (fv == 3) Some(next0) else None
    publish(meta.withSnapshot(snapshotOver(base, snap, Seq(m))
      .copy(summary = summary, firstRowId = lineage))
      .copy(formatVersion = if (fv == 3) 3 else if (hasDels) 2 else fv,
        nextRowId = lineage.map(_ + files.map(_._2).sum).orElse(meta.nextRowId)))
  }
}
