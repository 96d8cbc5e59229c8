package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.util.RawValue

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

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
  * ONE TABLE STATE PER STATEMENT: [[load]] reads the hint and parses
  * `v<N>.metadata.json` once into an immutable [[TableMetadata]] —
  * format version, uuid and location, schemas, partition specs,
  * snapshots (summary, first-row-id, manifest list, and any field a
  * foreign writer put there), refs, statistics and next-row-id. Every
  * read, plan and commit of a statement takes that one state; a commit
  * is `meta.copy(...)` published as the next version
  * ([[TableMetadata.json]], create-new). The parse is Jackson's tree
  * model (Spark ships jackson-databind): key order, whitespace and
  * unknown fields are free, object keys keep their file order, and
  * floats parse as exact decimals with their trailing zeros, so a v3
  * `initial-default` of `2.50` re-emits as written.
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
  *     parquet rows of (file_path, pos); the driver folds them into one
  *     roaring bitmap per data file and the scan keeps a row unless its
  *     file's bitmap holds its `_metadata.row_index` ([[LakeScan]]'s
  *     mask) — Spark's native row-position metadata IS the spec's
  *     `pos`, so no custom scan is needed and pushdown/pruning on the
  *     data side survive.
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
  *     scan path); the payload BYTES ship to executors as the same
  *     scan mask and decode once per task — positions never
  *     materialize on the driver.
  *   - ROW LINEAGE (`_row_id`, `_last_updated_sequence_number`):
  *     synthesized per the spec as `first_row_id + position` / the data
  *     file's sequence number unless the file MATERIALIZES the columns
  *     (what a lineage-preserving compaction writes) — see
  *     [[readLineage]].
  *
  * Out of scope, rejected fast rather than misread: format-version > 3.
  */
object IcebergReader {

  private def metaDir(base: String) = Paths.get(base, "metadata")

  /** Current metadata version from `version-hint.text` (the file-system
    * catalog's pointer, what Hadoop-catalog Iceberg tables ship). */
  def currentMetadataVersion(base: String): Int = {
    val hint = metaDir(base).resolve("version-hint.text")
    require(Files.exists(hint), s"no metadata/version-hint.text under $base")
    Files.readString(hint, StandardCharsets.UTF_8).trim.toInt
  }

  /** `v<N>.metadata.json` reads so far — each statement makes one. */
  private[graft] val metadataLoads = new java.util.concurrent.atomic.AtomicLong

  private def metadataJson(base: String, v: Int): String = {
    val p = metaDir(base).resolve(s"v$v.metadata.json")
    require(Files.exists(p), s"missing metadata/v$v.metadata.json under $base")
    metadataLoads.incrementAndGet()
    Files.readString(p, StandardCharsets.UTF_8)
  }

  /** Floats parse as exact decimals that keep their trailing zeros, so
    * a raw `initial-default` re-emits as written. */
  private[sources] val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)

  /** One snapshot of the `snapshots` list. `other` keeps every field
    * this engine does not model (a foreign writer's
    * `parent-snapshot-id`, say), in file order, re-emitted as-is. */
  final case class Snapshot(id: Long, timestampMs: Long, manifestList: String,
                            summary: Option[Map[String, String]] = None,
                            firstRowId: Option[Long] = None,
                            sequenceNumber: Option[Long] = None,
                            schemaId: Option[Int] = None,
                            other: Seq[(String, JsonNode)] = Nil) {
    private[IcebergReader] def node: ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("snapshot-id", id)
      firstRowId.foreach(f => o.put("first-row-id", f))
      summary.foreach { m =>
        val s = o.putObject("summary")
        m.foreach { case (k, v) => s.put(k, v) }
      }
      o.put("timestamp-ms", timestampMs)
      o.put("manifest-list", manifestList)
      sequenceNumber.foreach(n => o.put("sequence-number", n))
      schemaId.foreach(n => o.put("schema-id", n))
      other.foreach { case (k, v) => o.set[JsonNode](k, v) }
      o
    }
  }

  /** A registered Puffin statistics file (the spec's `statistics`). */
  final case class StatisticsFile(snapshotId: Long, path: String, fileSizeInBytes: Long)

  /** One snapshot in COMMIT order: public-spec snapshot ids are random
    * longs (only this writer's are sequential), so commit order comes
    * from each snapshot's `sequence-number` (monotone per spec from
    * format v2), falling back to declaration order in the `snapshots`
    * array (spec writers append) for v1 tables that carry none. */
  final case class OrderedSnapshot(id: Long, seq: Long, idx: Int)

  /** One `v<N>.metadata.json`, parsed once. `version` is the N it was
    * read at (0 for a table not yet published); `base` is where it was
    * read, which relative paths resolve against. `refs` maps a branch
    * or tag name to (snapshot id, type); a tag pins an auditable
    * snapshot against expiry. `other` keeps every top-level key this
    * engine does not model (a foreign writer's `last-sequence-number`,
    * `properties`, ...), in file order, re-emitted as-is. */
  final case class TableMetadata(base: String, version: Int, formatVersion: Int,
                                 uuid: Option[String], location: String,
                                 currentSchemaId: Option[Int], schemas: Seq[IceSchema],
                                 defaultSpecId: Option[Int], specs: Seq[IceSpec],
                                 currentSnapshotId: Long, snapshots: Seq[Snapshot],
                                 nextRowId: Option[Long] = None,
                                 statistics: Seq[StatisticsFile] = Nil,
                                 refs: Map[String, (Long, String)] = Map.empty,
                                 other: Seq[(String, JsonNode)] = Nil) {

    def snapshot(id: Long): Snapshot = snapshots.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"snapshot $id not in ${base}'s metadata"))

    /** `s` appended as the table's new current snapshot, ordered after
      * every existing one the way a foreign writer's table orders them:
      * its `timestamp-ms` is at least one past the latest, and when
      * snapshots carry `sequence-number` it takes the last one + 1. A
      * carried `last-sequence-number` / `last-updated-ms` advances with
      * it. On this writer's own tables (timestamps are snapshot ids, no
      * sequence numbers) `s` goes in unchanged. */
    def withSnapshot(s: Snapshot): TableMetadata = {
      val ts = (s.timestampMs +: snapshots.map(_.timestampMs + 1)).max
      val seq = s.sequenceNumber.orElse(snapshots.flatMap(_.sequenceNumber).maxOption.map(_ + 1))
      val carried = other.map {
        case ("last-sequence-number", v) =>
          "last-sequence-number" -> seq.fold(v)(n => mapper.getNodeFactory.numberNode(n))
        case ("last-updated-ms", v) =>
          "last-updated-ms" -> mapper.getNodeFactory.numberNode(math.max(v.asLong, ts))
        case kv => kv
      }
      copy(currentSnapshotId = s.id,
        snapshots = snapshots :+ s.copy(timestampMs = ts, sequenceNumber = seq), other = carried)
    }

    /** None for legacy tables that track no schema. */
    def currentSchema: Option[IceSchema] = currentSchemaId.map(cid =>
      schemas.find(_.schemaId == cid).getOrElse(throw new IllegalStateException(
        s"current-schema-id $cid not in ${base}'s schemas list")))

    /** The declared default spec; a specs list without one (this
      * writer's transform tables) defaults to the lowest spec id. */
    def defaultSpec: Option[IceSpec] =
      defaultSpecId.orElse(specs.map(_.specId).minOption)
        .flatMap(id => specs.find(_.specId == id))

    /** All snapshots in COMMIT order — what a change stream iterates
      * (iterating by raw id would skip or reorder commits on
      * externally-written tables). */
    def history: Seq[OrderedSnapshot] =
      snapshots.zipWithIndex.map { case (s, i) =>
        OrderedSnapshot(s.id, s.sequenceNumber.getOrElse(i + 1L), i)
      }.sortBy(s => (s.seq, s.idx))

    /** TIMESTAMP AS OF resolution: the snapshot whose `timestamp-ms` is
      * the latest at or before `tsMillis` (travel to a time before the
      * first snapshot fails). */
    def snapshotAtTimestamp(tsMillis: Long): Long = {
      require(snapshots.nonEmpty, s"no timestamped snapshots in $base v$version")
      val at = snapshots.zipWithIndex.filter(_._1.timestampMs <= tsMillis)
      require(at.nonEmpty,
        s"no snapshot of $base at or before timestamp $tsMillis " +
          s"(first is ${snapshots.map(_.timestampMs).min})")
      // max by timestamp, commit (declaration) order breaking ties —
      // spec writers append to the snapshots array
      at.maxBy { case (s, i) => (s.timestampMs, i) }._1.id
    }

    /** The data sequence number at which `fieldId` first belonged to a
      * COMMITTED snapshot's schema — the spec's per-file default cutoff
      * (initial-default applies to files written under a schema that
      * predates the field, i.e. data sequence < this). Evidence comes
      * from snapshots that declare BOTH `schema-id` and
      * `sequence-number` (spec v2+ writers); None when no snapshot does
      * (this engine's own writer — whose append refuses NULLs in
      * defaulted columns, making the per-VALUE fallback sound). */
    def fieldIntroSeq(fieldId: Int): Option[Long] = {
      val withField = schemas.filter(_.fields.exists(_.id == fieldId)).map(_.schemaId).toSet
      snapshots.collect {
        case s if s.schemaId.exists(withField) && s.sequenceNumber.isDefined => s.sequenceNumber.get
      }.minOption
    }

    /** The metadata file's text: compact, keys in this writer's order,
      * optional keys omitted when absent (a file this writer published
      * re-emits byte for byte). Schemas and specs sort by id, statistics
      * by snapshot, refs by name; top-level keys this engine does not
      * model (`other`) follow as read. A field with a v3 `initial-default`
      * serializes as REQUIRED with a matching `write-default` (the
      * spec's pairing; also the writer obligation the merged-scan
      * default resolution rests on). */
    def json: String = {
      val o = mapper.createObjectNode()
      o.put("format-version", formatVersion)
      uuid.foreach(u => o.put("table-uuid", u))
      o.put("location", location)
      currentSchemaId.foreach { cid =>
        val arr = o.putArray("schemas")
        schemas.sortBy(_.schemaId).foreach { s =>
          val so = arr.addObject().put("type", "struct").put("schema-id", s.schemaId)
          val fs = so.putArray("fields")
          s.fields.foreach { f =>
            val fo = fs.addObject().put("id", f.id).put("name", f.name)
              .put("required", f.initialDefault.isDefined)
            if (f.tpe.startsWith("{")) fo.putRawValue("type", new RawValue(f.tpe))
            else fo.put("type", f.tpe)
            f.initialDefault.foreach { raw =>
              fo.putRawValue("initial-default", new RawValue(raw))
              fo.putRawValue("write-default", new RawValue(raw))
            }
          }
        }
        o.put("current-schema-id", cid)
      }
      if (specs.nonEmpty) {
        val arr = o.putArray("partition-specs")
        specs.sortBy(_.specId).foreach { s =>
          val fs = arr.addObject().put("spec-id", s.specId).putArray("fields")
          s.fields.zipWithIndex.foreach { case (f, i) =>
            fs.addObject().put("name", f.name).put("transform", f.transform)
              .put("source-id", f.sourceId).put("field-id", 1000 + i)
          }
        }
        defaultSpecId.foreach(d => o.put("default-spec-id", d))
      }
      o.put("current-snapshot-id", currentSnapshotId)
      val ss = o.putArray("snapshots")
      snapshots.foreach(s => ss.add(s.node))
      nextRowId.foreach(n => o.put("next-row-id", n))
      if (statistics.nonEmpty) {
        val arr = o.putArray("statistics")
        statistics.sortBy(_.snapshotId).foreach { s =>
          arr.addObject().put("snapshot-id", s.snapshotId).put("statistics-path", s.path)
            .put("file-size-in-bytes", s.fileSizeInBytes)
        }
      }
      if (refs.nonEmpty) {
        val ro = o.putObject("refs")
        refs.toSeq.sortBy(_._1).foreach { case (n, (id, t)) =>
          ro.putObject(n).put("snapshot-id", id).put("type", t)
        }
      }
      other.foreach { case (k, v) => o.set[JsonNode](k, v) }
      mapper.writeValueAsString(o)
    }
  }

  private[sources] def field(n: JsonNode, k: String): Option[JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)
  private def longOf(n: JsonNode, k: String): Option[Long] = field(n, k).map(_.asLong)
  private def intOf(n: JsonNode, k: String): Option[Int] = field(n, k).map(_.asInt)
  private def textOf(n: JsonNode, k: String): Option[String] = field(n, k).map(_.asText)
  private[sources] def elems(n: JsonNode, k: String): Seq[JsonNode] =
    field(n, k).toSeq.flatMap(_.iterator.asScala)
  private[sources] def props(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)

  private val modeledSnapshotKeys = Set("snapshot-id", "timestamp-ms", "manifest-list",
    "summary", "first-row-id", "sequence-number", "schema-id")

  private val modeledTableKeys = Set("format-version", "table-uuid", "location", "schemas",
    "current-schema-id", "partition-specs", "default-spec-id", "current-snapshot-id",
    "snapshots", "next-row-id", "statistics", "refs")

  /** The table state at the current version (hint, then one parse). */
  def load(base: String): TableMetadata = load(base, currentMetadataVersion(base))

  /** The table state at metadata version `v`. */
  def load(base: String, v: Int): TableMetadata = {
    val o = mapper.readTree(metadataJson(base, v))
    val fv = intOf(o, "format-version").getOrElse(1)
    require(fv <= 3, s"Iceberg format-version=$fv beyond this minimal reader")
    def need[T](x: Option[T], what: String, in: JsonNode): T =
      x.getOrElse(throw new IllegalArgumentException(s"$base v$v: no $what in $in"))
    TableMetadata(base, v, fv, textOf(o, "table-uuid"), textOf(o, "location").getOrElse(base),
      intOf(o, "current-schema-id"),
      elems(o, "schemas").map(s => IceSchema(intOf(s, "schema-id").getOrElse(0),
        elems(s, "fields").map { f =>
          val t = need(field(f, "type"), "type", f)
          IceField(need(intOf(f, "id"), "id", f), need(textOf(f, "name"), "name", f),
            if (t.isTextual) t.asText else t.toString,
            field(f, "initial-default").map(_.toString))
        })),
      intOf(o, "default-spec-id"),
      elems(o, "partition-specs").map(s => IceSpec(intOf(s, "spec-id").getOrElse(0),
        elems(s, "fields").map(f => IceSpecField(need(textOf(f, "name"), "name", f),
          need(textOf(f, "transform"), "transform", f),
          need(intOf(f, "source-id"), "source-id", f))))),
      longOf(o, "current-snapshot-id").getOrElse(-1L),
      elems(o, "snapshots").map { s =>
        Snapshot(need(longOf(s, "snapshot-id"), "snapshot-id", s),
          need(longOf(s, "timestamp-ms"), "timestamp-ms", s),
          need(textOf(s, "manifest-list"), "manifest-list", s),
          field(s, "summary").map(m => ListMap(props(m).map(e => e._1 -> e._2.asText): _*)),
          longOf(s, "first-row-id"), longOf(s, "sequence-number"), intOf(s, "schema-id"),
          props(s).filterNot(e => modeledSnapshotKeys(e._1)))
      },
      longOf(o, "next-row-id"),
      elems(o, "statistics").map(e => StatisticsFile(
        need(longOf(e, "snapshot-id"), "snapshot-id", e),
        need(textOf(e, "statistics-path"), "statistics-path", e),
        longOf(e, "file-size-in-bytes").getOrElse(0L))),
      field(o, "refs").toSeq.flatMap(props).map { case (n, r) =>
        n -> (need(longOf(r, "snapshot-id"), "snapshot-id", r), textOf(r, "type").getOrElse("branch"))
      }.toMap,
      props(o).filterNot(e => modeledTableKeys(e._1)))
  }

  def currentSnapshotId(base: String, v: Int): Long = load(base, v).currentSnapshotId

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

  /** A field's default as a typed Column (JSON scalar → literal) — the
    * writer's `write-default` fill and the reader's `initial-default`
    * resolution share it. */
  private[sources] def defaultColumn(f: IceField): Column = {
    val n = mapper.readTree(f.initialDefault.get)
    val v: Any =
      if (n.isTextual) n.asText
      else if (n.isBoolean) n.asBoolean
      else if (n.isIntegralNumber) n.asLong
      else n.asDouble
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
  private def schemaProjection(meta: TableMetadata,
                               rawCols: Seq[String]): Option[Seq[Column]] = {
    val all = meta.schemas
    meta.currentSchema.map { cur =>
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
          meta.fieldIntroSeq(f.id) match {
            case Some(intro) =>
              org.apache.spark.sql.functions
                .when(c.isNull && col("__fseq") < lit(intro), defaultColumn(f))
                .otherwise(c)
            case None =>
              org.apache.spark.sql.functions.coalesce(c, defaultColumn(f))
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

  /** Column NDV estimates from the registered stats Puffin of
    * `snapshotId` — the blob properties' `ndv` keyed by the blob's
    * first source field id. READS ONLY the puffin FOOTER: table-stats
    * consumers (CBO, dataset cards) get cardinalities without touching
    * a single data file. */
  def statsNdv(meta: TableMetadata, snapshotId: Long): Map[Int, Long] = {
    val path = meta.statistics.collectFirst {
      case s if s.snapshotId == snapshotId => resolve(meta.base, s.path)
    }.getOrElse(throw new IllegalArgumentException(
      s"no statistics registered for snapshot $snapshotId of ${meta.base}"))
    val (blobs, _) = Puffin.readFooter(path)
    blobs.flatMap(b => b.fields.headOption.flatMap(f =>
      b.properties.get("ndv").map(n => f -> n.toLong))).toMap
  }

  /** Snapshot read by REF name (`SELECT ... VERSION AS OF 'tag'`). */
  def readRef(spark: SparkSession, base: String, ref: String): DataFrame = {
    val meta = load(base)
    val (id, _) = meta.refs.getOrElse(ref,
      throw new IllegalArgumentException(s"no ref '$ref' in ${base}'s metadata"))
    read(spark, meta, id)
  }

  private[sources] def resolve(base: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p
    else Paths.get(base).resolve(p).toString

  /** One snapshot's planned scan: live data files (+ record counts),
    * the live position-delete files to mask away, the live
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
                                firstRowIds: Map[String, Long] = Map.empty,
                                sizes: Map[String, Long] = Map.empty) {
    /** The data files as [[LakeScan]] takes them: path and manifest size. */
    def scanFiles: Seq[LakeScan.File] = dataFiles.map { case (p, _) => fileOf(p) }
    def fileOf(p: String): LakeScan.File = LakeScan.File(p, sizes.getOrElse(p, -1L))
  }

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
  private[sources] def manifestEntries(spark: SparkSession, meta: TableMetadata,
                                       snapshotId: Long): DataFrame =
    readMetaAvro(spark, manifestsWithSpecs(spark, meta, snapshotId).map(_._1))

  /** The snapshot's manifests WITH each one's partition-spec id (the
    * manifest list's `partition_spec_id`; lists written before spec
    * tracking carry none — every manifest is spec 0). */
  private[sources] def manifestsWithSpecs(spark: SparkSession, meta: TableMetadata,
                                          snapshotId: Long): Seq[(String, Int)] = {
    val ml = readMetaAvro(spark,
      Seq(resolve(meta.base, meta.snapshot(snapshotId).manifestList)))
    val specCol =
      if (ml.columns.contains("partition_spec_id")) col("partition_spec_id").cast("int")
      else lit(0)
    val out = ml.select(col("manifest_path"), specCol)
      .collect().map(r => resolve(meta.base, r.getString(0)) -> r.getInt(1)).toSeq
    require(out.nonEmpty, s"snapshot $snapshotId has no manifests")
    out
  }

  private def dataFileFieldsOf(entries: DataFrame): Array[String] =
    entries.schema("data_file").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames

  /** The `files` metadata relation of one snapshot: the live entries
    * (status != 2 DELETED) themselves — a census over it (file counts,
    * row counts from `record_count`) never opens a data file, so
    * lakehouse ops queries run at metadata cost. */
  def filesTable(spark: SparkSession, base: String, snapshotId: Long): DataFrame = {
    val entries = manifestEntries(spark, load(base), snapshotId).filter(col("status") =!= 2)
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
    plan(spark, load(base), snapshotId, _ => entryFilter)

  /** Scan planning under PARTITION-SPEC EVOLUTION: manifests group by
    * their spec-id (each era's `data_file.partition` struct follows its
    * own spec), `filterFor` supplies a pruning filter PER SPEC (an
    * identity-era filter can't bind a transform-era struct and vice
    * versa — a spec with no useful filter keeps all entries, the
    * residual row filter stays exact), and the per-era scans merge.
    * Single-spec tables take exactly the old one-load path. */
  def plan(spark: SparkSession, meta: TableMetadata, snapshotId: Long,
           filterFor: Int => Column = _ => lit(true)): SnapshotScan = {
    val groups = manifestsWithSpecs(spark, meta, snapshotId)
      .groupBy(_._2).toSeq.sortBy(_._1)
    groups.map { case (specId, ms) =>
      val entries = readMetaAvro(spark, ms.map(_._1))
        .filter(col("status") =!= 2)
      scanOfEntries(meta.base, entries, filterFor(specId))
    }.reduce { (a, b) =>
      SnapshotScan(a.dataFiles ++ b.dataFiles, a.posDeleteFiles ++ b.posDeleteFiles,
        a.eqDeleteFiles ++ b.eqDeleteFiles, a.dataSeq ++ b.dataSeq,
        a.delMeta ++ b.delMeta, a.dvs ++ b.dvs, a.firstRowIds ++ b.firstRowIds,
        a.sizes ++ b.sizes)
    }
  }

  private def scanOfEntries(base: String, entries: DataFrame,
                            entryFilter: Column): SnapshotScan = {
    val dataFileFields = dataFileFieldsOf(entries)
    // the spec requires file_size_in_bytes; a hand-composed manifest
    // without it leaves the size to one stat per file
    val sizeCol =
      if (dataFileFields.contains("file_size_in_bytes")) col("data_file.file_size_in_bytes")
      else lit(-1L)
    if (!dataFileFields.contains("content")) {
      val rows = entries.filter(entryFilter)
        .select(col("data_file.file_path"), col("data_file.record_count"), sizeCol)
        .collect().map(r => (resolve(base, r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
      SnapshotScan(rows.map(r => (r._1, r._2)), Nil, sizes = rows.map(r => r._1 -> r._3).toMap)
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
          col("data_file.content").cast("int"), sizeCol)
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
        files.collect { case (p, _, _, Some(fr)) => p -> fr }.toMap,
        (sel(0) ++ delRows ++ sel(2)).map(r => resolve(base, r.getString(0)) -> r.getLong(8)).toMap)
    }
  }

  /** Live (file_path, record_count) of one snapshot (data files only). */
  def snapshotFiles(spark: SparkSession, base: String, snapshotId: Long): Seq[(String, Long)] =
    planSnapshot(spark, base, snapshotId).dataFiles

  /** How this engine's position-delete files and DV blobs name a data
    * file (and the `__path` of [[scanWithPositions]]): the raw URI path
    * of its scan key ([[LakeScan.key]]), `/abs/path` URI-encoded. */
  private[graft] def deleteTarget(key: String): String = new java.net.URI(key).getRawPath

  /** `__path` as a column: Spark's own URI parse of the scan's
    * `_metadata.file_path`, the same spelling as [[deleteTarget]]. */
  private val pathOfScan: Column =
    org.apache.spark.sql.functions.parse_url(col("_metadata.file_path"), lit("PATH"))

  /** Every position-level mask of `scan` — v3 deletion vectors and v2
    * position-delete files — as one bitmap payload per data file, keyed
    * by its scan key. A DV names its data file by a table-relative path
    * ([[IcebergWriter]] writes it decoded), resolved like the data
    * files, and its payload goes as stored; a position-delete row names
    * it by [[deleteTarget]], a URI ([[LakeScan.positionMasks]]). A file
    * carrying both gets their union. */
  private def positionMasks(spark: SparkSession,
                            scan: SnapshotScan): Map[String, Array[Byte]] =
    (scan.dvs.map(dv => LakeScan.key(spark, dv.referenced) ->
        Puffin.readDvPayload(dv.puffin, dv.offset, dv.size)) ++
      LakeScan.positionMasks(spark, scan.posDeleteFiles)).groupMapReduce(_._1)(_._2) { (a, b) =>
      RoaringDv.payload(RoaringDv.union(Seq(RoaringDv.bitmaps(a), RoaringDv.bitmaps(b))))
    }

  /** Apply `scan`'s EQUALITY deletes to a frame already stamped with
    * `__path`. Each delete file's OWN columns are the equality tuple
    * (the spec's equality_ids resolve to exactly the columns the file
    * carries); it erases matching rows from data files with a STRICTLY
    * smaller sequence number — rows (re)inserted at or after the
    * delete's sequence survive. Files sharing one sequence (one
    * commit's staged parts) share the same window, so they apply as ONE
    * broadcast anti-join over one combined read — per-FILE joins
    * scheduled a read (and a one-task schema job) per part and grew the
    * plan linearly in part count. Null-safe match per spec; schema
    * comes from the first part's footer (driver-side), exactly what
    * inference would read. They stay joins: they match values, not
    * positions. */
  private def applyEqDeletes(spark: SparkSession, scan: SnapshotScan,
                             stamped: DataFrame): DataFrame = {
    var data = stamped
    val eqWithSchema = scan.eqDeleteFiles.map { case (p, seq) =>
      (p, seq, org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, p))
    }
    eqWithSchema.groupBy(e => (e._2, e._3)).toSeq.sortBy(_._1._1).foreach {
      case ((delSeq, delSchema), group) =>
      val older = scan.dataFiles.map(_._1)
        .filter(p => scan.dataSeq.getOrElse(p, 0L) < delSeq)
        .map(p => deleteTarget(LakeScan.key(spark, p)))
      if (older.nonEmpty) {
        val dels = LakeScan(spark, group.map(_._1).sorted.map(scan.fileOf), Some(delSchema))
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
    applyEqDeletes(spark, scan, positioned(spark, scan, Some(footerSchema(spark, scan))))
  }

  /** The first data file's footer schema, read driver-side — the same
    * single representative footer inference reads, minus its one-task
    * Spark job per call. */
  private def footerSchema(spark: SparkSession, scan: SnapshotScan) =
    org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, scan.dataFiles.head._1)

  /** The data files' scan under the position masks, stamped with
    * (`__path`, `__pos`) while the plan is still a plain file-source
    * relation (`_metadata` dies at the first join). */
  private def positioned(spark: SparkSession, scan: SnapshotScan,
                         schema: Option[org.apache.spark.sql.types.StructType],
                         mergeSchema: Boolean = false): DataFrame =
    LakeScan.mask(spark, LakeScan(spark, scan.scanFiles, schema, mergeSchema = mergeSchema),
        positionMasks(spark, scan))
      .withColumn("__path", pathOfScan)
      .withColumn("__pos", col("_metadata.row_index"))

  /** The spec's reserved row-lineage identifiers: metadata columns on a
    * v3 table, never user data — a plain read hides them even when a
    * lineage-preserving compaction materialized them into parquet. */
  private val LineageCols = Seq("_row_id", "_last_updated_sequence_number")

  private[sources] def readScan(spark: SparkSession, meta: TableMetadata, snapshotId: Long,
                                scan: SnapshotScan): DataFrame = {
    require(scan.dataFiles.nonEmpty, s"empty snapshot $snapshotId of ${meta.base}")
    val hasDels = scan.posDeleteFiles.nonEmpty || scan.eqDeleteFiles.nonEmpty ||
      scan.dvs.nonEmpty
    // evolution-tracking tables read MERGED (files written under
    // different schemas carry different column sets) and project the
    // CURRENT schema by field id; legacy tables keep the plain read —
    // and skip the all-footers merge pass entirely
    if (meta.currentSchemaId.isDefined) {
      var stamped = positioned(spark, scan, None, mergeSchema = true)
      val proj = schemaProjection(meta, stamped.columns.toSeq).get
      // per-file default gating needs each row's file data sequence:
      // a files-sized broadcast join (metadata-scale next to the data)
      val needsSeq = meta.currentSchema.exists(_.fields.exists(f =>
        f.initialDefault.isDefined && meta.fieldIntroSeq(f.id).isDefined))
      if (needsSeq) {
        val seqRows = scan.dataSeq.toSeq.map { case (p, sq) =>
          (deleteTarget(LakeScan.key(spark, p)), sq)
        }
        import spark.implicits._
        val seqDf = seqRows.toDF("__fseq_path", "__fseq")
        stamped = stamped.join(broadcast(seqDf),
          col("__path") === col("__fseq_path"), "left").drop("__fseq_path")
      }
      applyEqDeletes(spark, scan, stamped).select(proj: _*)
    } else {
      val dataSchema = footerSchema(spark, scan)
      if (!hasDels)
        LakeScan(spark, scan.scanFiles, Some(dataSchema)).drop(LineageCols: _*)
      else scanWithPositions(spark, scan).select(dataSchema.fieldNames
        .filterNot(n => LineageCols.exists(_.equalsIgnoreCase(n))).map(col).toIndexedSeq: _*)
    }
  }

  /** Snapshot read (explicit id = time travel) of one table state:
    * deletes applied, the state's CURRENT schema projected. */
  def read(spark: SparkSession, meta: TableMetadata, snapshotId: Long): DataFrame =
    readScan(spark, meta, snapshotId, plan(spark, meta, snapshotId))

  def read(spark: SparkSession, base: String, snapshotId: Long): DataFrame =
    read(spark, load(base), snapshotId)

  /** Current-snapshot read. */
  def read(spark: SparkSession, base: String): DataFrame = {
    val meta = load(base)
    read(spark, meta, meta.currentSnapshotId)
  }

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
    LakeScan(spark, scan.scanFiles)
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
                partitionFilter: Column): DataFrame = {
    val meta = load(base)
    readScan(spark, meta, snapshotId, plan(spark, meta, snapshotId, _ => partitionFilter))
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
    val scan = planSnapshot(spark, base, snapshotId)
    require(scan.dataFiles.nonEmpty, s"empty snapshot $snapshotId of $base")
    readLineage(spark, scan)
  }

  private[sources] def readLineage(spark: SparkSession, scan: SnapshotScan): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    val stamped = positioned(spark, scan, None, mergeSchema = true)
    val rawCols = stamped.columns.filterNot(c => c == "__path" || c == "__pos")
    val masked = applyEqDeletes(spark, scan, stamped)
    val meta = scan.dataFiles.map { case (p, _) =>
      (deleteTarget(LakeScan.key(spark, p)),
        scan.firstRowIds.get(p).map(java.lang.Long.valueOf).orNull,
        scan.dataSeq.getOrElse(p, 0L))
    }
    val metaDf = spark.createDataFrame(meta).toDF("__lm_path", "__lm_first", "__lm_seq")
    val matCol = (c: String) => if (rawCols.contains(c)) col(c) else lit(null)
    val userCols = rawCols.filterNot(c =>
      LineageCols.contains(c) || c.startsWith("__")).map(col).toSeq
    masked.join(broadcast(metaDf), col("__path") === col("__lm_path"))
      .select(userCols ++ Seq(
        coalesce(matCol("_row_id"), col("__lm_first") + col("__pos"))
          .cast("long").as("_row_id"),
        coalesce(matCol("_last_updated_sequence_number"), col("__lm_seq"))
          .cast("long").as("_last_updated_sequence_number")): _*)
  }
}
