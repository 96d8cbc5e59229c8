package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}

/** Read-only interop with the PUBLIC Apache Iceberg table layout (the
  * open iceberg spec) — the second foreign format after
  * [[DeltaLogReader]], and a structurally different one: where Delta is
  * a log of JSON actions replayed forward, Iceberg is a TREE walked
  * downward —
  *
  * {{{
  *   metadata/version-hint.text            → current metadata version
  *   metadata/v<N>.metadata.json           → snapshots + current-snapshot-id
  *   <snapshot>.manifest-list (avro)       → manifest_path rows
  *   <manifest>.avro                       → {status, data_file{file_path,
  *                                            record_count, …}} entries
  *   data files (parquet)
  * }}}
  *
  * Scope (minimal, spec-conformant): version-hint + metadata parsing,
  * snapshot selection (current or explicit id — time travel), manifest
  * walking via a driver-side avro decode, and the status filter
  * (entries with status=2 DELETED are dropped; 0 EXISTING / 1 ADDED are
  * live). The data path hands the live file list to the plain parquet
  * source — pruning/pushdown intact, metadata stays KB-scale. Relative
  * `file_path`/`manifest_path` entries resolve against the table base
  * (absolute URIs pass through).
  *
  * Two v2 features are real, not rejected:
  *   - POSITION deletes (`data_file.content = 1`): delete files are
  *     parquet rows of (file_path, pos); the read applies them with a
  *     broadcast LEFT ANTI join against the scan's own
  *     `_metadata.file_path` / `_metadata.row_index` columns — Spark's
  *     native row-position metadata IS the spec's `pos`, so no custom
  *     scan is needed and pushdown/pruning on the data side survive.
  *   - PARTITION pruning: manifest entries carry the typed
  *     `data_file.partition` struct; [[readWhere]] filters entries on
  *     it driver-side (KB of avro) so non-matching data files are
  *     never handed to the parquet source — the Iceberg equivalent of
  *     `q_txn_prune`'s manifest skipping.
  *
  *   - EQUALITY deletes (`content = 2`, the Flink-CDC shape): the
  *     delete file's columns are the equality tuple; each delete
  *     erases matching rows from data files with a strictly smaller
  *     sequence number — applied as one broadcast anti-join per
  *     delete file, null-safe per spec.
  *
  * Format-version 3 features are real too:
  *   - DELETION VECTORS (`content = 1` entries whose
  *     `referenced_data_file` is set): roaring bitmaps in [[Puffin]]
  *     sidecar files, located straight by the manifest's
  *     `content_offset`/`content_size_in_bytes` (no footer read on the
  *     scan path); payload BYTES ship to executors and decode in a
  *     flatMap — positions never materialize on the driver.
  *   - ROW LINEAGE (`_row_id`, `_last_updated_sequence_number`):
  *     synthesized per the spec as `first_row_id + position` / the data
  *     file's sequence number unless the file MATERIALIZES the columns
  *     (what a lineage-preserving compaction writes) — see
  *     [[readLineage]].
  *
  * Out of scope, rejected fast rather than misread: format-version > 3.
  */
object IcebergReader {

  final case class IcebergSnapshot(id: Long, manifestList: String)

  private def metaDir(base: String) = Paths.get(base, "metadata")

  /** Current metadata version from `version-hint.text` (the file-system
    * catalog's pointer, what Hadoop-catalog Iceberg tables ship). */
  def currentMetadataVersion(base: String): Int = {
    val hint = metaDir(base).resolve("version-hint.text")
    require(Files.exists(hint), s"no metadata/version-hint.text under $base")
    Files.readString(hint, StandardCharsets.UTF_8).trim.toInt
  }

  private def metadataJson(base: String, v: Int): String = {
    val p = metaDir(base).resolve(s"v$v.metadata.json")
    require(Files.exists(p), s"missing metadata/v$v.metadata.json under $base")
    Files.readString(p, StandardCharsets.UTF_8)
  }

  /** All snapshots declared by metadata version `v` — parsed from the
    * BALANCED snapshot objects (a snapshot may carry nested objects
    * like the `summary` string map between its fields). */
  def snapshots(base: String, v: Int): Seq[IcebergSnapshot] = {
    val json = metadataJson(base, v)
    DeltaLogReader.longField(json, "format-version").foreach { fv =>
      require(fv <= 3L, s"Iceberg format-version=$fv beyond this minimal reader")
    }
    val ml = "\"manifest-list\"\\s*:\\s*\"([^\"]+)\"".r
    val sid = "\"snapshot-id\"\\s*:\\s*(-?\\d+)".r
    snapshotObjects(json).flatMap { o =>
      for {
        i <- sid.findFirstMatchIn(o).map(_.group(1).toLong)
        m <- ml.findFirstMatchIn(o).map(_.group(1))
      } yield IcebergSnapshot(i, m)
    }
  }

  def currentSnapshotId(base: String, v: Int): Long =
    DeltaLogReader.longField(metadataJson(base, v), "current-snapshot-id")
      .getOrElse(throw new IllegalStateException(s"no current-snapshot-id in v$v"))

  /** TIMESTAMP AS OF resolution: the snapshot whose `timestamp-ms` is
    * the latest at or before `tsMillis` (the spec stamps every
    * snapshot; travel to a time before the first snapshot fails). */
  def snapshotAtTimestamp(base: String, v: Int, tsMillis: Long): Long = {
    val sid = "\"snapshot-id\"\\s*:\\s*(-?\\d+)".r
    val tms = "\"timestamp-ms\"\\s*:\\s*(-?\\d+)".r
    val stamped = arrayObjects(metadataJson(base, v), "snapshots").flatMap { o =>
      for {
        i <- sid.findFirstMatchIn(o).map(_.group(1).toLong)
        t <- tms.findFirstMatchIn(o).map(_.group(1).toLong)
      } yield (i, t)
    }
    require(stamped.nonEmpty, s"no timestamped snapshots in $base v$v")
    val at = stamped.zipWithIndex.filter(_._1._2 <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot of $base at or before timestamp $tsMillis " +
        s"(first is ${stamped.map(_._2).min})")
    // max by timestamp, commit (declaration) order breaking ties —
    // spec writers append to the snapshots array
    at.maxBy { case ((_, t), i) => (t, i) }._1._1
  }

  /** One snapshot in COMMIT order: public-spec snapshot ids are random
    * longs (only this writer's are sequential), so commit order comes
    * from each snapshot's `sequence-number` (monotone per spec from
    * format v2), falling back to declaration order in the `snapshots`
    * array (spec writers append) for v1 tables that carry none. */
  final case class OrderedSnapshot(id: Long, seq: Long, idx: Int)

  /** Split the metadata's top-level `"snapshots":[...]` array into its
    * balanced JSON objects (field order inside each is free — external
    * writers put `sequence-number` wherever they like). */
  private def snapshotObjects(json: String): Seq[String] =
    arrayObjects(json, "snapshots")

  /** Split a named top-level `"key":[{...},{...}]` array into its
    * balanced JSON objects. */
  private[sources] def arrayObjects(json: String, key: String): Seq[String] = {
    val i = json.indexOf("\"" + key + "\"")
    if (i < 0) return Nil
    var j = json.indexOf('[', i)
    require(j >= 0, "malformed snapshots array")
    j += 1
    var depth = 0
    var inStr = false
    var objStart = -1
    val out = Seq.newBuilder[String]
    var done = false
    while (!done && j < json.length) {
      val c = json.charAt(j)
      if (inStr) {
        if (c == '\\') j += 1 else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) objStart = j; depth += 1
        case '}' => depth -= 1; if (depth == 0) { out += json.substring(objStart, j + 1) }
        case ']' => if (depth == 0) done = true
        case _ =>
      }
      j += 1
    }
    out.result()
  }

  /** Balanced `{...}` object value of `"key"` inside `json`. */
  private def objectField(json: String, key: String): Option[String] = {
    val i = json.indexOf("\"" + key + "\"")
    if (i < 0) return None
    var j = json.indexOf('{', i)
    if (j < 0) return None
    val start = j
    var depth = 0
    var inStr = false
    while (j < json.length) {
      val c = json.charAt(j)
      if (inStr) { if (c == '\\') j += 1 else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return Some(json.substring(start, j + 1))
        case _ =>
      }
      j += 1
    }
    None
  }

  /** Per-snapshot `summary` objects (raw JSON), keyed by snapshot id —
    * the spec's string map; streaming commits stash their idempotence
    * markers here, atomic with the metadata flip. */
  def snapshotSummaries(base: String, v: Int): Map[Long, String] =
    snapshotObjects(metadataJson(base, v)).flatMap { o =>
      for {
        id <- DeltaLogReader.longField(o, "snapshot-id")
        sm <- objectField(o, "summary")
      } yield id -> sm
    }.toMap

  /** All snapshots of metadata version `v` in COMMIT order — what a
    * change stream must iterate (iterating by raw id would skip or
    * reorder commits on externally-written tables). */
  def snapshotHistory(base: String, v: Int): Seq[OrderedSnapshot] =
    snapshotObjects(metadataJson(base, v)).zipWithIndex.map { case (o, i) =>
      OrderedSnapshot(
        DeltaLogReader.longField(o, "snapshot-id").getOrElse(
          throw new IllegalStateException(s"snapshot object without snapshot-id: $o")),
        DeltaLogReader.longField(o, "sequence-number").getOrElse(i + 1L),
        i)
    }.sortBy(s => (s.seq, s.idx))

  // ---- SCHEMA EVOLUTION (field-id-based projection) ------------------------
  // The spec's `schemas` list + `current-schema-id`: every column is a
  // FIELD ID; names are per-schema labels. Files written under an old
  // schema read through the CURRENT one by id — renames are
  // metadata-only, added columns surface as NULL in old files, dropped
  // columns vanish without a rewrite.

  /** `initialDefault` is the v3 DEFAULT VALUE (spec `initial-default`,
    * raw JSON scalar): rows written BEFORE the column existed surface
    * it instead of NULL. This engine pairs it with `required` — the
    * writer fills an omitted column with the `write-default` and
    * refuses provided NULLs, so the merged-scan resolution (NULL ⟺
    * file predates the column) stays exact. */
  final case class IceField(id: Int, name: String, tpe: String,
                            initialDefault: Option[String] = None)
  final case class IceSchema(schemaId: Int, fields: Seq[IceField])

  /** (current-schema-id, declared schemas) of metadata version `v` —
    * (None, Nil) for legacy tables that track no schema. */
  def schemas(base: String, v: Int): (Option[Int], Seq[IceSchema]) = {
    val json = metadataJson(base, v)
    val cur = DeltaLogReader.longField(json, "current-schema-id").map(_.toInt)
    val fieldRe = ("""\{"id":(\d+),"name":"([^"]+)","required":(?:true|false),""" +
      """"type":"([^"]+)"""" +
      """(?:,"initial-default":("(?:[^"\\]|\\.)*"|-?[0-9.]+|true|false))?""" +
      """(?:,"write-default":(?:"(?:[^"\\]|\\.)*"|-?[0-9.]+|true|false))?\}""").r
    val all = arrayObjects(json, "schemas").map { o =>
      IceSchema(
        DeltaLogReader.longField(o, "schema-id").map(_.toInt).getOrElse(0),
        fieldRe.findAllMatchIn(o).map(m =>
          IceField(m.group(1).toInt, m.group(2), m.group(3),
            Option(m.group(4)))).toSeq)
    }
    (cur, all)
  }

  /** A field's default as a typed Column (JSON scalar → literal) — the
    * writer's `write-default` fill and the reader's `initial-default`
    * resolution share it. */
  private[sources] def defaultColumn(f: IceField): Column = defaultLit(f)

  private def defaultLit(f: IceField): Column = {
    val raw = f.initialDefault.get
    val v: Any =
      if (raw.startsWith("\"")) raw.substring(1, raw.length - 1)
        .replace("\\\"", "\"").replace("\\\\", "\\")
      else if (raw == "true" || raw == "false") raw.toBoolean
      else if (raw.contains('.')) raw.toDouble
      else raw.toLong
    lit(v).cast(sparkTypeOf(f.tpe))
  }

  private[sources] def sparkTypeOf(t: String): String = t match {
    case "int"       => "int"
    case "long"      => "long"
    case "float"     => "float"
    case "double"    => "double"
    case "string"    => "string"
    case "boolean"   => "boolean"
    case "date"      => "date"
    case "timestamp" => "timestamp"
    case other => throw new IllegalArgumentException(
      s"iceberg type $other beyond this minimal reader's evolution support")
  }

  /** The CURRENT schema's projection over a (merged) raw scan: each
    * field resolves BY ID through its historical names (a renamed
    * column's old files carry the old name; coalesce binds whichever
    * spelling a file has), added fields missing everywhere surface as
    * typed NULL, dropped fields are simply not selected. None when the
    * table tracks no schemas (legacy — name-based read unchanged). */
  /** The data sequence number at which `fieldId` first belonged to a
    * COMMITTED snapshot's schema — the spec's per-file default cutoff
    * (initial-default applies to files written under a schema that
    * predates the field, i.e. data sequence < this). Evidence comes
    * from snapshots that declare BOTH `schema-id` and
    * `sequence-number` (spec v2+ writers); None when no snapshot does
    * (this engine's own writer — whose append refuses NULLs in
    * defaulted columns, making the per-VALUE fallback sound). */
  private def fieldIntroSeq(base: String, v: Int, fieldId: Int): Option[Long] = {
    val (_, all) = schemas(base, v)
    val withField = all.filter(_.fields.exists(_.id == fieldId)).map(_.schemaId).toSet
    if (withField.isEmpty) return None
    val seqs = arrayObjects(metadataJson(base, v), "snapshots").flatMap { o =>
      for {
        sid <- DeltaLogReader.longField(o, "schema-id")
        seq <- DeltaLogReader.longField(o, "sequence-number")
        if withField(sid.toInt)
      } yield seq
    }
    if (seqs.isEmpty) None else Some(seqs.min)
  }

  private def schemaProjection(base: String, v: Int,
                               rawCols: Seq[String]): Option[Seq[Column]] = {
    val (curOpt, all) = schemas(base, v)
    curOpt.map { cid =>
      val cur = all.find(_.schemaId == cid).getOrElse(throw new IllegalStateException(
        s"current-schema-id $cid not in ${base}'s schemas list"))
      // ambiguity guard: a name that ever labeled TWO different field
      // ids cannot be resolved from a merged scan (the writer refuses
      // to create such reuse; externally-written reuse fails loudly)
      val idsOfName = all.flatMap(_.fields).map(f => f.name -> f.id).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      cur.fields.map { f =>
        val names = all.sortBy(-_.schemaId).flatMap(_.fields.collect {
          case g if g.id == f.id => g.name
        }).distinct
        val usable = names.filter(n => idsOfName(n) == Seq(f.id))
        require(usable.nonEmpty || names.nonEmpty,
          s"field ${f.id} (${f.name}) has no resolvable historical name")
        val present = usable.filter(rawCols.contains)
        val c =
          if (present.isEmpty) lit(null).cast(sparkTypeOf(f.tpe))
          else if (present.size == 1) col(present.head).cast(sparkTypeOf(f.tpe))
          else org.apache.spark.sql.functions
            .coalesce(present.map(col): _*).cast(sparkTypeOf(f.tpe))
        // v3 initial-default: pre-existing rows surface the default,
        // not NULL. The spec applies it PER FILE (files written under a
        // schema that predates the field), so when the snapshots carry
        // schema-id evidence the gate keys on each file's data sequence
        // (`__fseq`, attached by readScan) — a foreign OPTIONAL
        // defaulted column's genuine NULLs in post-add files then read
        // back as NULL, not the default. Without that evidence (this
        // writer's own tables), the per-VALUE coalesce stays sound:
        // append refuses NULLs in defaulted columns, so NULL ⟺ the
        // file predates the column.
        val cd = f.initialDefault.fold(c) { _ =>
          fieldIntroSeq(base, v, f.id) match {
            case Some(intro) =>
              org.apache.spark.sql.functions
                .when(c.isNull && col("__fseq") < lit(intro), defaultLit(f))
                .otherwise(c)
            case None =>
              org.apache.spark.sql.functions.coalesce(c, defaultLit(f))
          }
        }
        cd.as(f.name)
      }
    }
  }

  // ---- PARTITION-SPEC EVOLUTION --------------------------------------------
  // The spec's `partition-specs` list + `default-spec-id`: a table can
  // change its layout mid-life (identity → day, daily → hourly);
  // manifests written under each era keep ITS partition struct, the
  // manifest list tags each manifest with its spec-id, and scan
  // planning prunes every era under its own spec.

  final case class IceSpecField(name: String, transform: String, sourceId: Int)
  final case class IceSpec(specId: Int, fields: Seq[IceSpecField])

  /** (default-spec-id, declared partition specs) — (None, Nil) when the
    * table tracks none. A specs list without a declared default (this
    * writer's old transform tables) defaults to the lowest spec id. */
  def partitionSpecs(base: String, v: Int): (Option[Int], Seq[IceSpec]) = {
    val json = metadataJson(base, v)
    val fieldRe = ("""\{"name":"([^"]+)","transform":"([^"]+)",""" +
      """"source-id":(\d+),"field-id":\d+\}""").r
    val all = arrayObjects(json, "partition-specs").map { o =>
      IceSpec(
        DeltaLogReader.longField(o, "spec-id").map(_.toInt).getOrElse(0),
        fieldRe.findAllMatchIn(o).map(m =>
          IceSpecField(m.group(1), m.group(2), m.group(3).toInt)).toSeq)
    }
    val default = DeltaLogReader.longField(json, "default-spec-id").map(_.toInt)
      .orElse(if (all.isEmpty) None else Some(all.map(_.specId).min))
    (default, all)
  }

  /** The table's declared format-version at metadata version `v`
    * (1 when absent). Writers must THREAD this through every metadata
    * rewrite: re-stamping a v2 table (live delete files) as v1 would
    * tell spec-conforming external readers to ignore the deletes. */
  def formatVersion(base: String, v: Int): Int =
    DeltaLogReader.longField(metadataJson(base, v), "format-version")
      .map(_.toInt).getOrElse(1)

  /** Named refs (the spec's `refs` map: branches + tags → snapshot
    * ids) declared by metadata version `v`. A tag pins an auditable
    * snapshot against expiry-by-default; a branch is a movable head. */
  def refs(base: String, v: Int): Map[String, (Long, String)] = {
    val json = metadataJson(base, v)
    val block = """"refs"\s*:\s*\{(.*)$""".r
    block.findFirstMatchIn(json).map { m =>
      val one = """"([^"]+)"\s*:\s*\{\s*"snapshot-id"\s*:\s*(\d+)\s*,\s*"type"\s*:\s*"([^"]+)"\s*\}""".r
      one.findAllMatchIn(m.group(1))
        .map(r => r.group(1) -> (r.group(2).toLong, r.group(3))).toMap
    }.getOrElse(Map.empty)
  }

  /** TABLE STATISTICS entries declared by metadata version `v`: the
    * spec's `statistics` list — (snapshot-id, statistics-path) of each
    * registered Puffin stats file. Writers thread the list through
    * every metadata rewrite (like refs); expiry drops entries whose
    * snapshot is gone. */
  def statisticsEntries(base: String, v: Int): Seq[(Long, String)] = {
    val re = (""""snapshot-id"\s*:\s*(\d+)\s*,\s*""" +
      """"statistics-path"\s*:\s*"([^"]+)"""").r
    re.findAllMatchIn(metadataJson(base, v))
      .map(m => m.group(1).toLong -> m.group(2)).toSeq
  }

  /** Column NDV estimates from the registered stats Puffin of
    * `snapshotId` — the blob properties' `ndv` keyed by the blob's
    * first source field id. READS ONLY the puffin FOOTER: table-stats
    * consumers (CBO, dataset cards) get cardinalities without touching
    * a single data file. */
  def statsNdv(base: String, snapshotId: Long): Map[Int, Long] = {
    val v = currentMetadataVersion(base)
    val path = statisticsEntries(base, v).collectFirst {
      case (id, p) if id == snapshotId => resolve(base, p)
    }.getOrElse(throw new IllegalArgumentException(
      s"no statistics registered for snapshot $snapshotId of $base"))
    val (blobs, _) = Puffin.readFooter(path)
    blobs.flatMap(b => b.fields.headOption.flatMap(f =>
      b.properties.get("ndv").map(n => f -> n.toLong))).toMap
  }

  /** Snapshot read by REF name (`SELECT ... VERSION AS OF 'tag'`). */
  def readRef(spark: SparkSession, base: String, ref: String): DataFrame = {
    val v = currentMetadataVersion(base)
    val (id, _) = refs(base, v).getOrElse(ref,
      throw new IllegalArgumentException(s"no ref '$ref' in ${base}'s metadata"))
    read(spark, base, id)
  }

  private def resolve(base: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p
    else Paths.get(base).resolve(p).toString

  /** One snapshot's planned scan: live data files (+ record counts),
    * the live position-delete files to anti-join away, the live
    * EQUALITY-delete files (path, sequence number) — each applies only
    * to data files with a STRICTLY smaller sequence number, the spec's
    * window that keeps same-commit re-inserts alive — and the data
    * files' own sequence numbers. `delMeta` carries each delete file's
    * (record_count, sequence_number) so a writer re-committing the
    * entries as EXISTING preserves the spec ordering external readers
    * honor (a zeroed sequence would widen the delete window). */
  final case class SnapshotScan(dataFiles: Seq[(String, Long)], posDeleteFiles: Seq[String],
                                eqDeleteFiles: Seq[(String, Long)] = Nil,
                                dataSeq: Map[String, Long] = Map.empty,
                                delMeta: Map[String, (Long, Long)] = Map.empty,
                                dvs: Seq[DvRef] = Nil,
                                firstRowIds: Map[String, Long] = Map.empty)

  /** One v3 DELETION VECTOR reference from a manifest: where the blob
    * lives ([[Puffin]] file + offset + size — the manifest fields that
    * let the scan path skip the footer), which data file it masks, its
    * cardinality, and its commit sequence. */
  final case class DvRef(puffin: String, offset: Long, size: Long,
                         referenced: String, cardinality: Long, seq: Long)

  /** Load KB-scale metadata avro (manifest lists, manifests) as a
    * DataFrame WITHOUT a distributed read: decode the OCF files on the
    * driver (same plane as the metadata JSON parses) and wrap the rows
    * in a local relation. Planning a snapshot used to cost one Spark
    * job per avro load — a scheduling round-trip to read a few KB —
    * and every census/time-travel re-plans, so lakehouse queries paid
    * it dozens of times. Files open through Hadoop's `FileSystem`, so
    * any scheme the session can read works (relative entries were
    * resolved against the table base, absolute URIs pass through). One
    * load takes files of ONE writer schema; a mix fails, naming them. */
  private def readMetaAvro(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.mapred.FsInput
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def decode(p: String): (org.apache.avro.Schema, Seq[GenericRecord]) = {
      val r = DataFileReader.openReader(new FsInput(new org.apache.hadoop.fs.Path(p), hadoopConf),
        new GenericDatumReader[GenericRecord]())
      try (r.getSchema, r.iterator.asScala.toVector) finally r.close()
    }
    val decoded = paths.map(decode)
    require(decoded.map(_._1.toString).distinct.size == 1,
      s"metadata avro files with differing writer schemas in one load: ${paths.mkString(", ")}")
    val avroSchema = decoded.head._1
    val sqlType = org.apache.spark.sql.avro.SchemaConverters
      .toSqlType(avroSchema).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    def convert(dt: org.apache.spark.sql.types.DataType, v: Any): Any = (dt, v) match {
      case (_, null) => null
      case (nested: org.apache.spark.sql.types.StructType, r: GenericRecord) =>
        toRow(nested, r)
      case (at: org.apache.spark.sql.types.ArrayType, c: java.util.Collection[_]) =>
        c.asScala.toSeq.map(convert(at.elementType, _))
      case (mt: org.apache.spark.sql.types.MapType, m: java.util.Map[_, _]) =>
        m.asScala.toMap.map { case (k, x) =>
          convert(mt.keyType, k) -> convert(mt.valueType, x) }
      case (_, u: org.apache.avro.util.Utf8) => u.toString
      case (_, e: org.apache.avro.generic.GenericEnumSymbol[_]) => e.toString
      case (_, b: java.nio.ByteBuffer) =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
      case (_, f: org.apache.avro.generic.GenericFixed) => f.bytes()
      case (_, other) => other
    }
    def toRow(s: org.apache.spark.sql.types.StructType, rec: GenericRecord): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(
        s.fields.map(f => convert(f.dataType, rec.get(f.name))).toIndexedSeq: _*)
    val rows = decoded.flatMap(_._2).map(toRow(sqlType, _))
    // createDataFrame(list, schema) converts to internal rows EAGERLY,
    // so an avro logical type this converter does not cover (date /
    // decimal on a foreign-written manifest) fails here, at planning
    spark.createDataFrame(rows.asJava, sqlType)
  }

  /** ALL manifest entries of one snapshot (every status), as the
    * avro-backed DataFrame — the change-stream source reads the raw
    * statuses; planners filter to live below. */
  private[sources] def manifestEntries(spark: SparkSession, base: String,
                                       snapshotId: Long): DataFrame = {
    val manifests = manifestsWithSpecs(spark, base, snapshotId).map(_._1)
    readMetaAvro(spark, manifests)
  }

  /** The snapshot's manifests WITH each one's partition-spec id (the
    * manifest list's `partition_spec_id`; lists written before spec
    * tracking carry none — every manifest is spec 0). */
  private[sources] def manifestsWithSpecs(spark: SparkSession, base: String,
                                          snapshotId: Long): Seq[(String, Int)] = {
    val snap = snapshots(base, currentMetadataVersion(base))
      .find(_.id == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId not in ${base}'s metadata"))
    val ml = readMetaAvro(spark, Seq(resolve(base, snap.manifestList)))
    val specCol =
      if (ml.columns.contains("partition_spec_id")) col("partition_spec_id").cast("int")
      else lit(0)
    val out = ml.select(col("manifest_path"), specCol)
      .collect().map(r => resolve(base, r.getString(0)) -> r.getInt(1)).toSeq
    require(out.nonEmpty, s"snapshot $snapshotId has no manifests")
    out
  }

  /** Live manifest entries of one snapshot (status != 2 DELETED), as
    * the avro-backed DataFrame the planners and the `files` metadata
    * relation share. */
  private def liveEntries(spark: SparkSession, base: String, snapshotId: Long): DataFrame =
    manifestEntries(spark, base, snapshotId).filter(col("status") =!= 2)

  private def dataFileFieldsOf(entries: DataFrame): Array[String] =
    entries.schema("data_file").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames

  /** The `files` metadata relation of one snapshot: the live entries
    * themselves — a census over it (file counts, row counts from
    * `record_count`) never opens a data file, so lakehouse ops
    * queries run at metadata cost. */
  def filesTable(spark: SparkSession, base: String, snapshotId: Long): DataFrame = {
    val entries = liveEntries(spark, base, snapshotId)
    val content =
      if (dataFileFieldsOf(entries).contains("content")) col("data_file.content")
      else lit(0)
    entries.select(
      col("data_file.file_path").as("file_path"),
      col("data_file.record_count").as("record_count"),
      content.as("content"))
  }

  /** Walk manifest-list → manifests → live entries (status != 2
    * DELETED), split by `data_file.content` (absent ⇒ v1, all data).
    * `entryFilter` prunes manifest ENTRIES driver-side — a predicate
    * over `data_file.partition` (partition pruning; it applies to
    * delete entries too, which is spec-consistent: a position delete
    * lives in its target's partition) or over `status` (incremental
    * scans). */
  def planSnapshot(spark: SparkSession, base: String, snapshotId: Long,
                   entryFilter: Column = lit(true)): SnapshotScan =
    planSnapshotBySpec(spark, base, snapshotId, _ => entryFilter)

  /** Scan planning under PARTITION-SPEC EVOLUTION: manifests group by
    * their spec-id (each era's `data_file.partition` struct follows its
    * own spec), `filterFor` supplies a pruning filter PER SPEC (an
    * identity-era filter can't bind a transform-era struct and vice
    * versa — a spec with no useful filter keeps all entries, the
    * residual row filter stays exact), and the per-era scans merge.
    * Single-spec tables take exactly the old one-load path. */
  def planSnapshotBySpec(spark: SparkSession, base: String, snapshotId: Long,
                         filterFor: Int => Column): SnapshotScan = {
    val groups = manifestsWithSpecs(spark, base, snapshotId)
      .groupBy(_._2).toSeq.sortBy(_._1)
    groups.map { case (specId, ms) =>
      val entries = readMetaAvro(spark, ms.map(_._1))
        .filter(col("status") =!= 2)
      scanOfEntries(base, entries, filterFor(specId))
    }.reduce { (a, b) =>
      SnapshotScan(a.dataFiles ++ b.dataFiles, a.posDeleteFiles ++ b.posDeleteFiles,
        a.eqDeleteFiles ++ b.eqDeleteFiles, a.dataSeq ++ b.dataSeq,
        a.delMeta ++ b.delMeta, a.dvs ++ b.dvs, a.firstRowIds ++ b.firstRowIds)
    }
  }

  private def scanOfEntries(base: String, entries: DataFrame,
                            entryFilter: Column): SnapshotScan = {
    val dataFileFields = dataFileFieldsOf(entries)
    if (!dataFileFields.contains("content")) {
      val files = entries.filter(entryFilter)
        .select(col("data_file.file_path"), col("data_file.record_count"))
        .collect().map(r => (resolve(base, r.getString(0)), r.getLong(1))).toSeq
      SnapshotScan(files, Nil)
    } else {
      // v2: sequence numbers ride the manifest entries (inherited from
      // the committing snapshot); absent means 0
      val seqCol =
        if (entries.columns.contains("sequence_number")) col("sequence_number")
        else lit(0L)
      // v3 optional fields (absent in v2 manifests): the DV locator
      // triple and the row-lineage first_row_id
      def opt(f: String): Column =
        if (dataFileFields.contains(f)) col(s"data_file.$f") else lit(null)
      // one collect over the KB-scale entries; the rows split by
      // content on the driver
      val byContent = entries.filter(entryFilter)
        .select(col("data_file.file_path"), col("data_file.record_count"), seqCol,
          opt("referenced_data_file"), opt("content_offset"),
          opt("content_size_in_bytes"), opt("first_row_id"),
          col("data_file.content").cast("int"))
        .collect().toSeq.filterNot(_.isNullAt(7)).groupBy(_.getInt(7))
      def sel(content: Int): Seq[Row] = byContent.getOrElse(content, Nil)
      val files = sel(0).map(r => (resolve(base, r.getString(0)), r.getLong(1), r.getLong(2),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
      // content=1 with referenced_data_file set is a v3 DELETION VECTOR;
      // without it, a v2 position-delete parquet
      val (dvRows, delRows) = sel(1).partition(r => !r.isNullAt(3))
      val dels = delRows.map(r => (resolve(base, r.getString(0)), r.getLong(1), r.getLong(2)))
      val dvs = dvRows.map(r => DvRef(resolve(base, r.getString(0)),
        r.getLong(4), r.getLong(5), resolve(base, r.getString(3)),
        r.getLong(1), r.getLong(2)))
      val eqDels = sel(2).map(r =>
        (resolve(base, r.getString(0)), r.getLong(1), r.getLong(2)))
      // the window NEEDS an ordering: EQUALITY deletes in a manifest
      // that tracks no sequence numbers cannot be applied soundly —
      // treating every file as sequence 0 would silently no-op them
      require(eqDels.isEmpty || entries.columns.contains("sequence_number"),
        "v2 EQUALITY deletes present but the manifest carries no " +
          "sequence numbers — cannot order the delete window")
      SnapshotScan(files.map(f => (f._1, f._2)), dels.map(_._1),
        eqDels.map(e => (e._1, e._3)),
        files.map(f => f._1 -> f._3).toMap,
        (dels ++ eqDels).map(d => d._1 -> (d._2, d._3)).toMap,
        dvs,
        files.collect { case (p, _, _, Some(fr)) => p -> fr }.toMap)
    }
  }

  /** Live (file_path, record_count) of one snapshot (data files only). */
  def snapshotFiles(spark: SparkSession, base: String, snapshotId: Long): Seq[(String, Long)] =
    planSnapshot(spark, base, snapshotId).dataFiles

  /** `file:///x` and `/x` spellings of the same local path compare
    * equal: the spec stores full URIs in delete files while Spark's
    * `_metadata.file_path` renders a scheme-qualified URI. */
  private def normPath(c: Column): Column = regexp_replace(c, "^file:/*", "/")

  /** Apply `scan`'s live position- and equality-delete files to a
    * frame already stamped with `__path`/`__pos`. Shared by the read
    * path and the DML writer (whose position DELETE must match only
    * rows still live under the existing deletes). */
  private[sources] def applyDeletes(spark: SparkSession, scan: SnapshotScan,
                                    stamped: DataFrame): DataFrame = {
    var data = stamped
    if (scan.dvs.nonEmpty) {
      // v3 DELETION VECTORS: the driver loads only the KB-scale roaring
      // payloads (straight by manifest offset/size, no puffin footer
      // read); the position explosion happens in an executor flatMap
      // and the apply is the same broadcast anti-join as pos deletes
      import org.apache.spark.sql.Encoders
      val payloads: Seq[(String, Array[Byte])] = scan.dvs.map { dv =>
        dv.referenced.replaceFirst("^file:/*", "/") ->
          Puffin.readDvPayload(dv.puffin, dv.offset, dv.size)
      }
      val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
      val dels = spark.createDataset(payloads)(
          Encoders.tuple(Encoders.STRING, Encoders.BINARY))
        .flatMap { case (p, b) => RoaringDv.deserialize(b).map(pos => (p, pos)) }(pairEnc)
        .toDF("__dv_path", "__dv_pos")
      data = data.join(broadcast(dels),
        col("__path") === col("__dv_path") && col("__pos") === col("__dv_pos"),
        "left_anti")
    }
    if (scan.posDeleteFiles.nonEmpty) {
      // Spec position-delete application as a plain anti-join: the
      // delete side is metadata-scale next to the data (broadcast);
      // the data side keys on Spark's native parquet row positions, so
      // the scan itself stays the ordinary pushdown-friendly one.
      val dels = spark.read
        .schema(org.apache.spark.sql.GraftPlanBridge
          .parquetFooterSchema(spark, scan.posDeleteFiles.head))
        .parquet(scan.posDeleteFiles: _*)
        .select(normPath(col("file_path")).as("__del_path"), col("pos").as("__del_pos"))
      data = data.join(broadcast(dels),
        col("__path") === col("__del_path") && col("__pos") === col("__del_pos"),
        "left_anti")
    }
    // EQUALITY deletes (the Flink-CDC shape): each delete file's OWN
    // columns are the equality tuple (the spec's equality_ids resolve
    // to exactly the columns the file carries); it erases matching
    // rows from data files with a STRICTLY smaller sequence number —
    // rows (re)inserted at or after the delete's sequence survive.
    // Files sharing one sequence (one commit's staged parts) share the
    // same window, so they apply as ONE broadcast anti-join over one
    // combined read — per-FILE joins scheduled a read (and a one-task
    // schema job) per part and grew the plan linearly in part count.
    // Null-safe match per spec; schema comes from the first part's
    // footer (driver-side), exactly what inference would read.
    val eqWithSchema = scan.eqDeleteFiles.map { case (p, seq) =>
      (p, seq, org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, p))
    }
    eqWithSchema.groupBy(e => (e._2, e._3)).toSeq.sortBy(_._1._1).foreach {
      case ((delSeq, delSchema), group) =>
      val older = scan.dataFiles.map(_._1)
        .filter(p => scan.dataSeq.getOrElse(p, 0L) < delSeq)
        .map(p => p.replaceFirst("^file:/*", "/"))
      if (older.nonEmpty) {
        val paths = group.map(_._1).sorted
        val dels = spark.read.schema(delSchema).parquet(paths: _*)
        val eqCols = dels.columns.toSeq
        val renamed = eqCols.foldLeft(dels)((d, c) => d.withColumnRenamed(c, s"__del_$c"))
        val cond = eqCols.map(c => col(c) <=> col(s"__del_$c")).reduce(_ && _) &&
          col("__path").isin(older: _*)
        data = data.join(broadcast(renamed), cond, "left_anti")
      }
    }
    data
  }

  /** The live rows of a planned snapshot WITH their (`__path`, `__pos`)
    * file identity — deletes applied, positions kept (the DML writer
    * keys its new position-delete file on them). */
  private[sources] def scanWithPositions(spark: SparkSession, scan: SnapshotScan): DataFrame = {
    require(scan.dataFiles.nonEmpty, "empty snapshot scan")
    scanWithPositions(spark, scan, footerSchema(spark, scan))
  }

  /** The first data file's footer schema, read driver-side — the same
    * single representative footer inference reads, minus its one-task
    * Spark job per call. */
  private def footerSchema(spark: SparkSession, scan: SnapshotScan) =
    org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, scan.dataFiles.head._1)

  private def scanWithPositions(spark: SparkSession, scan: SnapshotScan,
                                dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    // stamp the file identity ONCE while the plan is still a plain
    // file-source relation (_metadata dies at the first join)
    val stamped = spark.read.schema(dataSchema).parquet(scan.dataFiles.map(_._1): _*)
      .withColumn("__path", normPath(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    applyDeletes(spark, scan, stamped)
  }

  /** The spec's reserved row-lineage identifiers: metadata columns on a
    * v3 table, never user data — a plain read hides them even when a
    * lineage-preserving compaction materialized them into parquet. */
  private val LineageCols = Seq("_row_id", "_last_updated_sequence_number")

  private def readScan(spark: SparkSession, base: String, snapshotId: Long,
                       scan: SnapshotScan): DataFrame = {
    require(scan.dataFiles.nonEmpty, s"empty snapshot $snapshotId of $base")
    val v = currentMetadataVersion(base)
    val hasDels = scan.posDeleteFiles.nonEmpty || scan.eqDeleteFiles.nonEmpty ||
      scan.dvs.nonEmpty
    // evolution-tracking tables read MERGED (files written under
    // different schemas carry different column sets) and project the
    // CURRENT schema by field id; legacy tables keep the plain read —
    // and skip the all-footers merge pass entirely
    val tracksSchemas = schemas(base, v)._1.isDefined
    val mergedCols =
      if (!tracksSchemas) Seq.empty[String]
      else spark.read.option("mergeSchema", "true")
        .parquet(scan.dataFiles.map(_._1): _*).columns.toSeq
    (if (tracksSchemas) schemaProjection(base, v, mergedCols) else None) match {
      case Some(proj) =>
        var stamped = spark.read.option("mergeSchema", "true")
          .parquet(scan.dataFiles.map(_._1): _*)
          .withColumn("__path", normPath(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
        // per-file default gating needs each row's file data sequence:
        // a files-sized broadcast join (metadata-scale next to the data)
        val needsSeq = schemas(base, v)._2
          .find(s => schemas(base, v)._1.contains(s.schemaId))
          .exists(_.fields.exists(f =>
            f.initialDefault.isDefined && fieldIntroSeq(base, v, f.id).isDefined))
        if (needsSeq) {
          val seqRows = scan.dataSeq.toSeq.map { case (p, sq) =>
            (p.replaceFirst("^file:/*", "/"), sq)
          }
          import spark.implicits._
          val seqDf = seqRows.toDF("__fseq_path", "__fseq")
          stamped = stamped.join(broadcast(seqDf),
            col("__path") === col("__fseq_path"), "left").drop("__fseq_path")
        }
        val masked = if (hasDels) applyDeletes(spark, scan, stamped) else stamped
        masked.select(proj: _*)
      case None =>
        val dataSchema = footerSchema(spark, scan)
        if (!hasDels)
          spark.read.schema(dataSchema).parquet(scan.dataFiles.map(_._1): _*)
            .drop(LineageCols: _*)
        else scanWithPositions(spark, scan, dataSchema).select(dataSchema.fieldNames
          .filterNot(n => LineageCols.exists(_.equalsIgnoreCase(n))).map(col).toIndexedSeq: _*)
    }
  }

  /** Snapshot read (explicit id = time travel), position deletes applied. */
  def read(spark: SparkSession, base: String, snapshotId: Long): DataFrame =
    readScan(spark, base, snapshotId, planSnapshot(spark, base, snapshotId))

  /** Current-snapshot read. */
  def read(spark: SparkSession, base: String): DataFrame =
    read(spark, base, currentSnapshotId(base, currentMetadataVersion(base)))

  /** Incremental append read: only the rows `snapshotId` itself ADDED
    * (status=1 data entries of its manifest list) — the spec's
    * incremental append scan, the consumer loop's diff between
    * consecutive snapshots. Snapshots that also ADD delete files are
    * rejected (appends-only is the contract; Iceberg's own incremental
    * append scan refuses overwrite/delete snapshots the same way). */
  def readAppended(spark: SparkSession, base: String, snapshotId: Long): DataFrame = {
    val scan = planSnapshot(spark, base, snapshotId, col("status") === 1)
    require(scan.posDeleteFiles.isEmpty && scan.eqDeleteFiles.isEmpty,
      s"snapshot $snapshotId adds delete files — not an append-only snapshot")
    require(scan.dataFiles.nonEmpty, s"snapshot $snapshotId appended no data files")
    spark.read.parquet(scan.dataFiles.map(_._1): _*)
  }

  /** Manifest-entry filter for the spec's column-stats file skipping:
    * keep entries whose `[lower_bounds, upper_bounds]` for `fieldId`
    * overlap `[lo, hi]`. Bounds ride the manifest as
    * `map<field-id, binary>` in the spec's single-value serialization —
    * little-endian for long fields — so the decode is a byte-swap of
    * the hex rendering + `conv`; entries without bounds for the field
    * are KEPT (can't prune what isn't tracked, the spec's own rule).
    * The filter runs over KB-scale manifest avro on the planning path;
    * the data files a non-overlapping entry describes are never handed
    * to the parquet source. Non-negative bounds only (the fixture's
    * year/cents fields; a signed decode would need two's-complement
    * handling `conv` doesn't give). */
  def boundsOverlap(fieldId: Int, lo: Long, hi: Long): Column = {
    require(lo >= 0 && hi >= lo, s"need 0 <= lo <= hi, got [$lo, $hi]")
    import org.apache.spark.sql.functions.{concat, conv, hex, map_from_entries, substring, try_element_at}
    // avro encodes the spec's map<int, binary> as an array of
    // {key, value} records — rebuild the map, then look up the field
    def dec(m: String): Column = {
      val h = hex(try_element_at(map_from_entries(col(s"data_file.$m")), lit(fieldId)))
      val beHex = concat((0 until 8).reverse.map(i => substring(h, i * 2 + 1, 2)): _*)
      conv(beHex, 16, 10).cast("long")
    }
    val lower = dec("lower_bounds")
    val upper = dec("upper_bounds")
    lower.isNull || upper.isNull || (lower <= lit(hi) && upper >= lit(lo))
  }

  /** Partition-pruned snapshot read: `partitionFilter` is evaluated
    * against each manifest entry's typed `data_file.partition` struct
    * (e.g. `col("data_file.partition.p") === "x"`), so pruned files
    * never reach the parquet source. The caller still applies its row
    * filter — identity-partitioned data files carry the source column,
    * making the residual exact. */
  def readWhere(spark: SparkSession, base: String, snapshotId: Long,
                partitionFilter: Column): DataFrame =
    readScan(spark, base, snapshotId,
      planSnapshot(spark, base, snapshotId, partitionFilter))

  /** The v3 row-lineage high-water mark: the metadata's `next-row-id`
    * (the first id the NEXT commit may assign). */
  def nextRowId(base: String, v: Int): Option[Long] =
    DeltaLogReader.longField(metadataJson(base, v), "next-row-id")

  /** Each snapshot's `first-row-id` (v3 row lineage) — writers carry
    * these through every metadata rewrite. */
  def snapshotFirstRowIds(base: String, v: Int): Map[Long, Long] = {
    val re = """"snapshot-id"\s*:\s*(\d+)\s*,\s*"first-row-id"\s*:\s*(\d+)""".r
    re.findAllMatchIn(metadataJson(base, v))
      .map(m => m.group(1).toLong -> m.group(2).toLong).toMap
  }

  /** v3 ROW-LINEAGE read: the snapshot's live rows plus the spec's two
    * reserved metadata columns —
    *
    *   - `_row_id`: the file's materialized value when present (what a
    *     lineage-preserving compaction writes), else
    *     `first_row_id + position` inherited from the manifest entry;
    *   - `_last_updated_sequence_number`: materialized value, else the
    *     data file's own sequence number.
    *
    * Deletes (DVs included) apply first, so surviving rows keep their
    * ids — the stability guarantee lineage exists for. The per-file
    * (first_row_id, sequence) pairs attach via ONE broadcast join over
    * a files-sized frame; `mergeSchema` makes mixed sets (some files
    * materialize lineage, some inherit) read uniformly. */
  def readLineage(spark: SparkSession, base: String, snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    val scan = planSnapshot(spark, base, snapshotId)
    require(scan.dataFiles.nonEmpty, s"empty snapshot $snapshotId of $base")
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(scan.dataFiles.map(_._1): _*)
    val stamped = raw
      .withColumn("__path", normPath(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    val masked = applyDeletes(spark, scan, stamped)
    val meta = scan.dataFiles.map { case (p, _) =>
      val norm = p.replaceFirst("^file:/*", "/")
      (norm,
        scan.firstRowIds.get(p).map(java.lang.Long.valueOf).orNull,
        scan.dataSeq.getOrElse(p, 0L))
    }
    val metaDf = spark.createDataFrame(meta).toDF("__lm_path", "__lm_first", "__lm_seq")
    val matCol = (c: String) => if (raw.columns.contains(c)) col(c) else lit(null)
    val userCols = raw.columns.filterNot(c =>
      LineageCols.contains(c) || c.startsWith("__")).map(col).toSeq
    masked.join(broadcast(metaDf), col("__path") === col("__lm_path"))
      .select(userCols ++ Seq(
        coalesce(matCol("_row_id"), col("__lm_first") + col("__pos"))
          .cast("long").as("_row_id"),
        coalesce(matCol("_last_updated_sequence_number"), col("__lm_seq"))
          .cast("long").as("_last_updated_sequence_number")): _*)
  }
}
