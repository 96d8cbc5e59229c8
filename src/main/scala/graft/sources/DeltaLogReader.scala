package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Read-only interop with the PUBLIC Delta Lake transaction-log layout
  * (the open delta-io protocol spec: `_delta_log/<v padded to 20>.json`,
  * one JSON "action" per line — `protocol`, `metaData`, `add`, `remove`,
  * `commitInfo`, …). This is what a user points the engine at when their
  * existing data already lives in a Delta table: no rewrite, the
  * manifest chain IS the source of truth.
  *
  * Scope (spec-conformant): version listing, snapshot reconstruction
  * by action replay (removes apply before adds within a commit — the
  * DV DML same-path swap is the one same-path pair the spec allows),
  * snapshot/time-travel reads that hand the live file list straight to
  * the parquet scan (column pruning and predicate pushdown work
  * exactly as on any parquet read), checkpoint-seeded O(tail) replay,
  * DELETION VECTORS (minReaderVersion 3 + readerFeatures, roaring
  * sidecars applied as a row-index mask inside the scan — see
  * [[LakeScan.unmasked]]), and COLUMN MAPPING mode=name (physical→
  * logical projection per version). Unknown action types are skipped,
  * as the spec requires of readers; protocols demanding features
  * outside [[SupportedReaderFeatures]] are rejected rather than
  * silently misread.
  *
  * ONE FOLD: a table version is one state, the [[Snapshot]] — protocol,
  * metaData, txn watermarks, domains and live adds, with the schema,
  * column mapping, constraints, row-id high-water mark and clustering
  * columns derived from them. [[snapshot]] builds it from a seed plus
  * one pass over the JSON commits after the seed, and every table fact
  * is a field of the result: a statement resolves its snapshot once
  * and passes it along.
  *
  * SEED RULE: when a session is given and `_last_checkpoint` names a
  * version at or below the requested one, the seed is that checkpoint
  * and the fold covers only the JSON tail after it; otherwise the fold
  * starts from version 0 (without a session a vacuumed log fails and
  * asks for one). A checkpoint parquet is decoded ONCE: one Spark read
  * (plus one of its v2 sidecars) yields its whole snapshot, memoized by
  * the file's identity (absolute path, size, full-precision mtime and
  * filesystem key, stat'ed afresh on every lookup; see
  * [[checkpointState]]). The protocol guard runs on every fold.
  */
object DeltaLogReader {

  /** Spec deletion-vector descriptor riding an add action: which rows
    * of the file are soft-deleted, as a serialized roaring bitmap in a
    * sidecar (`u`/`p`) or inline (`i`). */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                offset: Long, sizeInBytes: Int, cardinality: Long)

  final case class DeltaAdd(path: String, size: Long,
                            minValues: Map[String, Long] = Map.empty,
                            maxValues: Map[String, Long] = Map.empty,
                            numRecords: Long = -1L,
                            dv: Option[DvDescriptor] = None,
                            baseRowId: Option[Long] = None,
                            defaultRowCommitVersion: Option[Long] = None)

  private[sources] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def jsonList(xs: Seq[String]): String =
    xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")

  /** The `protocol` action. A feature list is written when its version
    * is the table-features one (reader 3, writer 7) or it is non-empty. */
  final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
                            readerFeatures: Seq[String] = Nil,
                            writerFeatures: Seq[String] = Nil) {
    def json: String = {
      def feats(name: String, fs: Seq[String], listed: Boolean) =
        if (listed || fs.nonEmpty) s""","$name":${jsonList(fs)}""" else ""
      s"""{"protocol":{"minReaderVersion":$minReaderVersion,"minWriterVersion":$minWriterVersion""" +
        feats("readerFeatures", readerFeatures, minReaderVersion >= 3) +
        feats("writerFeatures", writerFeatures, minWriterVersion >= 7) + "}}"
    }

    /** Raised to the table-features protocol (3, 7) with `features` on
      * both lists, carrying every feature the legacy versions implied
      * (the spec's mapping) — dropping, say, an implied invariants
      * feature would let feature-blind writers append unvalidated rows.
      * Legacy implication holds only BELOW the table-features versions. */
    def withFeatures(features: Seq[String]): Protocol = {
      val legacyReader = if (minReaderVersion >= 3) Nil else (2 to minReaderVersion).flatMap {
        case 2 => Seq("columnMapping")
        case _ => Nil
      }
      val legacyWriter = if (minWriterVersion >= 7) Nil else (2 to minWriterVersion).flatMap {
        case 2 => Seq("appendOnly", "invariants")
        case 3 => Seq("checkConstraints")
        case 4 => Seq("generatedColumns", "changeDataFeed")
        case 5 => Seq("columnMapping")
        case 6 => Seq("identityColumns")
        case _ => Nil
      }
      Protocol(3, 7, (readerFeatures ++ legacyReader ++ features).distinct.sorted,
        (writerFeatures ++ legacyWriter ++ features).distinct.sorted)
    }
  }

  /** The `metaData` action. Delta replaces table metadata wholesale, so
    * a metadata-replacing commit writes `copy(...)` of the current one:
    * the id is a STABLE table GUID (external readers take an id change
    * for table replacement), and the configuration carries column
    * mapping, row tracking and constraints. */
  final case class MetaData(id: String, schemaString: String,
                            partitionColumns: Seq[String] = Nil,
                            configuration: Map[String, String] = Map.empty) {
    def json: String = {
      val conf = configuration.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
      s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${esc(schemaString)}","partitionColumns":${jsonList(partitionColumns)},""" +
        s""""configuration":$conf,"createdTime":0}}"""
    }
  }

  /** The table at one version: everything the log folds to, and every
    * fact derived from it. `domains` maps each live domainMetadata
    * domain to its configuration string; `adds` are the live files in
    * first-add order. */
  final case class Snapshot(base: String, version: Long, protocol: Protocol,
                            meta: Option[MetaData], txns: Map[String, Long],
                            domains: Map[String, String], adds: Seq[DeltaAdd]) {
    def metaData: MetaData = meta.getOrElse(throw new IllegalStateException(
      s"no metaData action in $base's log or checkpoint at version $version"))
    def partitionColumns: Seq[String] = meta.map(_.partitionColumns).getOrElse(Nil)
    def configuration: Map[String, String] = meta.map(_.configuration).getOrElse(Map.empty)

    /** The LOGICAL schema — what makes the log the source of truth over
      * the parquet footers: files written before an ADD COLUMN lack the
      * column, and reading them under the declared schema surfaces it
      * as NULL (the spec's schema evolution). None when the metaData
      * carries no parseable schema (hand-composed fixtures write "{}"). */
    lazy val schema: Option[StructType] = meta.flatMap(m =>
      scala.util.Try(DataType.fromJson(m.schemaString).asInstanceOf[StructType]).toOption)

    /** The declared column-mapping mode ("name" | "id"), if any. */
    def columnMappingMode: Option[String] = configuration.get("delta.columnMapping.mode")

    /** Column-mapped tables (tables that ever RENAMED a column) address
      * parquet columns by each field's `delta.columnMapping.physicalName`
      * metadata — the logical schema is log-only, so a mapping-blind
      * reader sees the physical names (or misses renamed columns). This
      * is the LOGICAL schema whose field metadata carries them. */
    lazy val mappedSchema: Option[StructType] = columnMappingMode.map { mode =>
      require(mode == "name" || mode == "id",
        s"delta.columnMapping.mode=$mode — only 'name' and 'id' are supported")
      DataType.fromJson(metaData.schemaString).asInstanceOf[StructType]
    }

    /** (logical, physical) column pairs when the table is mapped. */
    def physicalNames: Option[Seq[(String, String)]] = mappedSchema.map(_.fields.toSeq
      .map(f => f.name -> f.metadata.getString("delta.columnMapping.physicalName")))

    /** GENERATED columns: fields carrying `delta.generationExpression`. */
    def generatedColumns: Seq[org.apache.spark.sql.types.StructField] =
      schema.toSeq.flatMap(_.fields).filter(_.metadata.contains("delta.generationExpression"))

    /** The IDENTITY column (`delta.identity.start` field metadata), if any. */
    def identityColumn: Option[org.apache.spark.sql.types.StructField] =
      schema.toSeq.flatMap(_.fields).find(_.metadata.contains("delta.identity.start"))

    /** CHECK constraints — the `delta.constraints.<name>` configuration
      * entries (writers MUST validate every append against them). */
    def constraints: Map[String, String] = configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") => k.stripPrefix("delta.constraints.") -> v
    }

    /** The MATERIALIZED (row id, row commit version) column names when
      * row tracking is enabled — what rewrites write so ids survive. */
    def rowTrackingCols: Option[(String, String)] =
      if (!configuration.get("delta.enableRowTracking").contains("true")) None
      else Some((
        configuration.getOrElse("delta.rowTracking.materializedRowIdColumnName", "_row_id_mat"),
        configuration.getOrElse("delta.rowTracking.materializedRowCommitVersionColumnName",
          "_row_commit_mat")))

    /** ROW TRACKING's id high-water mark from the `delta.rowTracking`
      * domain — the highest row id any commit has assigned (ids are
      * NEVER reused even after the carrying files are removed, which is
      * why the mark lives in its own action). */
    def rowIdHighWaterMark: Option[Long] = domains.get("delta.rowTracking").flatMap(c =>
      """rowIdHighWaterMark"\s*:\s*(-?\d+)""".r.findFirstMatchIn(c).map(_.group(1).toLong))

    /** LIQUID CLUSTERING columns from the `delta.clustering` domain;
      * empty when the table declares no clustering. */
    def clusteringColumns: Seq[String] = domains.get("delta.clustering").toSeq
      .flatMap(c => """\["([^"]+)"\]""".r.findAllMatchIn(c).map(_.group(1)))
  }

  /** Parse the `deletionVector` sub-object out of an add action line. */
  private[sources] def dvOf(line: String): Option[DvDescriptor] = {
    val i = line.indexOf("\"deletionVector\"")
    if (i < 0) return None
    val end = objectEnd(line, line.indexOf('{', i))
    val obj = line.substring(i, if (end < 0) line.length else end + 1)
    Some(DvDescriptor(
      strField(obj, "storageType").getOrElse(
        throw new IllegalStateException(s"deletionVector without storageType: $line")),
      strField(obj, "pathOrInlineDv").getOrElse(
        throw new IllegalStateException(s"deletionVector without pathOrInlineDv: $line")),
      longField(obj, "offset").getOrElse(0L),
      longField(obj, "sizeInBytes").getOrElse(
        throw new IllegalStateException(s"deletionVector without sizeInBytes: $line")).toInt,
      longField(obj, "cardinality").getOrElse(-1L)))
  }

  /** Index of the `}` closing the JSON object whose `{` is at `from`,
    * found with a quote-aware scan (the z85 alphabet puts `{`/`}`
    * inside pathOrInlineDv strings, CHECK expressions inside
    * configuration values, so a naive indexOf('}') truncates the
    * object); -1 when unterminated. */
  private def objectEnd(s: String, from: Int): Int = {
    var j = math.max(from, 0)
    var depth = 0
    var inStr = false
    while (j < s.length) {
      val c = s.charAt(j)
      if (inStr) {
        if (c == '\\') j += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return j
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Integral `minValues`/`maxValues` out of an add action's embedded
    * `stats` JSON string (quotes arrive backslash-escaped inside the
    * action line — match both spellings, the DeltaStream discipline). */
  private[graft] def statBounds(line: String, tag: String): Map[String, Long] = {
    val obj = (tag + "\\\\?\":\\s?\\{([^}]*)\\}").r
    obj.findFirstMatchIn(line).map { m =>
      "\\\\?\"(\\w+)\\\\?\":\\s?(-?[0-9]+)".r.findAllMatchIn(m.group(1))
        .map(kv => kv.group(1) -> kv.group(2).toLong).toMap
    }.getOrElse(Map.empty)
  }

  private def logDir(base: String): Path = Paths.get(base, "_delta_log")

  /** The action lines of commit `v` — the one place a commit file is read. */
  private[sources] def commitLines(base: String, v: Long): Seq[String] = {
    val f = logDir(base).resolve(f"$v%020d.json")
    require(Files.exists(f), s"missing Delta commit $v under $base")
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
  }

  /** Committed JSON versions, ascending. The chain must be gap-free —
    * but it may START above 0 on a vacuumed table (pre-checkpoint
    * commits legally deleted; reads then require the checkpoint). */
  def versions(base: String): Seq[Long] = {
    val d = logDir(base)
    if (!Files.isDirectory(d)) return Seq.empty
    val vs = Fs.list(d).iterator
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.length == 25)
      .map(n => n.stripSuffix(".json").toLong)
      .toSeq.sorted
    vs.zip(vs.drop(1)).foreach { case (a, b) =>
      require(b == a + 1, s"non-contiguous _delta_log: gap between $a and $b")
    }
    vs
  }

  def latestVersion(base: String): Long = {
    val vs = versions(base)
    require(vs.nonEmpty, s"no _delta_log under $base")
    vs.last
  }

  /** Extract a string field `"name":"value"` from one JSON action line.
    * Handles the escapes Delta paths legally contain (\" \\ \/ \uXXXX);
    * the writer-side fixture and any URI-encoded real path round-trip. */
  private[graft] def strField(json: String, name: String): Option[String] = {
    val key = "\"" + name + "\":\""
    val i = json.indexOf(key)
    if (i < 0) None else Some(scanString(json, i + key.length - 1)._1)
  }

  private[graft] def longField(json: String, name: String): Option[Long] = {
    val m = ("\"" + java.util.regex.Pattern.quote(name) + "\":(-?[0-9]+)").r
    m.findFirstMatchIn(json).map(_.group(1).toLong)
  }

  /** The quoted strings of the JSON array field `name`, if present. */
  private def listField(line: String, name: String): Option[Seq[String]] =
    ("\"" + name + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(line)
      .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)

  /** Reader features this engine honors (the table-features protocol:
    * minReaderVersion=3 lists the features a reader MUST implement). */
  private val SupportedReaderFeatures =
    // typeWidening/timestampNtz are honored because every scan enforces
    // the LOG schema (Snapshot.schema, declared to every scan) and Spark's
    // parquet reader upcasts narrow physical types natively
    Set("deletionVectors", "columnMapping", "v2Checkpoint",
      "typeWidening", "timestampNtz")

  /** Fail fast on tables this minimal reader cannot honor. Version 1
    * needs nothing; version 2 is column mapping by protocol version
    * (implemented — see [[Snapshot.mappedSchema]]); version 3 is
    * readable iff every listed readerFeature is implemented here. */
  private def assertReadable(p: Protocol): Unit =
    if (p.minReaderVersion == 3) {
      val unsupported = p.readerFeatures.toSet -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"Delta readerFeatures ${unsupported.mkString(",")} not implemented " +
          s"by this reader (supported: ${SupportedReaderFeatures.mkString(",")})")
    } else require(p.minReaderVersion <= 2,
      s"Delta protocol minReaderVersion=${p.minReaderVersion} requires reader features " +
        "outside this minimal reader")

  /** Scan one JSON string token starting at its opening quote; returns
    * (unescaped value, index past the closing quote). */
  private def scanString(s: String, from: Int): (String, Int) = {
    val sb = new StringBuilder
    var j = from + 1
    while (j < s.length && s.charAt(j) != '"') {
      val c = s.charAt(j)
      if (c == '\\' && j + 1 < s.length) {
        s.charAt(j + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(j + 2, j + 6), 16).toChar)
            j += 6
          case 'n' => sb.append('\n'); j += 2
          case 't' => sb.append('\t'); j += 2
          case 'r' => sb.append('\r'); j += 2
          case e => sb.append(e); j += 2
        }
      } else { sb.append(c); j += 1 }
    }
    (sb.toString, j + 1)
  }

  /** The metaData line's `configuration` map (flat string→string per
    * the spec), parsed with balanced braces and string escapes so CHECK
    * expressions containing quotes or braces can't corrupt it. */
  private[sources] def configOf(line: String): Map[String, String] = {
    val key = "\"configuration\":{"
    val i = line.indexOf(key)
    if (i < 0) return Map.empty
    val start = i + key.length - 1 // at '{'
    val end = objectEnd(line, start)
    require(end > start, s"unterminated configuration object in: $line")
    val out = Map.newBuilder[String, String]
    var p = start + 1
    while (p < end) {
      if (line.charAt(p) == '"') {
        val (k, afterK) = scanString(line, p)
        var q = afterK
        while (q < end && line.charAt(q) != '"') q += 1
        require(q < end, s"configuration key $k without a string value")
        val (v, afterV) = scanString(line, q)
        out += k -> v
        p = afterV
      } else p += 1
    }
    out.result()
  }

  /** Sampled loudness check for id-bound reads: the given data file's
    * footer must embed parquet field ids (the spec's writer
    * requirement on column-mapped tables) — catches id-less foreign
    * files BEFORE `fieldId.read.ignoreMissing` would turn them into a
    * silent all-NULL read. One KB-scale footer open on the driver. */
  private[graft] def assertEmbeddedIds(spark: SparkSession, file: String): Unit = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val fields = r.getFooter.getFileMetaData.getSchema.getFields
      require(fields.asScala.exists(_.getId != null),
        s"column-mapped table data file $file embeds NO parquet field ids — " +
          "id-bound reads would silently surface NULLs; the writer that " +
          "produced this file violates the spec")
    } finally r.close()
  }

  /** TIMESTAMP AS OF resolution: the latest version whose commit
    * timestamp is at or before `tsMillis` — the spec reads the
    * commitInfo `timestamp` (the in-commit-provenance field; real
    * Delta falls back to file mtimes, which are not reproducible and
    * therefore rejected here rather than silently used). Fails when
    * the table predates no commit (ts before the first commit) or a
    * commit carries no timestamp. */
  def versionAtTimestamp(base: String, tsMillis: Long): Long = {
    val stamped = versions(base).map { v =>
      val ts = commitLines(base, v).collectFirst {
        case line if line.contains("\"commitInfo\"") =>
          longField(line, "timestamp").getOrElse(
            throw new IllegalStateException(s"commitInfo without timestamp at version $v"))
      }.getOrElse(throw new IllegalArgumentException(
        s"version $v of $base has no commitInfo timestamp — " +
          "timestamp travel needs in-commit provenance, not file mtimes"))
      (v, ts)
    }
    stamped.zip(stamped.drop(1)).foreach { case ((va, a), (vb, b)) =>
      require(a <= b, s"non-monotonic commit timestamps: v$va=$a > v$vb=$b")
    }
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no commit of $base at or before timestamp $tsMillis (first is ${stamped.head._2})")
    at.last._1
  }

  /** `_last_checkpoint` pointer (spec: JSON `{"version":N,"size":M}`),
    * if present and usable for `version` (checkpoint ≤ requested). */
  private def checkpointAt(base: String, version: Long): Option[Long] = {
    val p = logDir(base).resolve("_last_checkpoint")
    if (!Files.exists(p)) return None
    longField(Files.readString(p, StandardCharsets.UTF_8), "version")
      .filter(_ <= version)
  }

  /** Resolve checkpoint version `cv` to its parquet file: the classic
    * `<v>.checkpoint.parquet`, else the V2 spelling
    * `<v>.checkpoint.<uniqueStr>.parquet` (UUID-named, what
    * checkpointPolicy=v2 writers emit). */
  private def checkpointFile(base: String, cv: Long): Path = {
    val d = logDir(base)
    val classic = d.resolve(f"$cv%020d.checkpoint.parquet")
    if (Files.exists(classic)) return classic
    val prefix = f"$cv%020d.checkpoint."
    val matches =
      if (!Files.isDirectory(d)) Nil
      else Fs.list(d).iterator.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(prefix) && n.endsWith(".parquet")
      }.toSeq
    require(matches.size <= 1,
      s"ambiguous checkpoint for version $cv under $d: $matches")
    matches.headOption.getOrElse(throw new IllegalStateException(
      s"_last_checkpoint points at version $cv but no checkpoint parquet exists"))
  }

  /** A file as it is on disk now: a deleted, rebuilt or replaced file
    * differs in at least one field (mtime at full precision, `key` the
    * filesystem's inode identity where it has one). */
  private final case class FileId(path: String, size: Long,
                                  mtime: java.nio.file.attribute.FileTime, key: Any)

  private val DecodedCheckpointsMax = 32

  /** Decoded checkpoints by file identity, least recently used evicted. */
  private val decodedCheckpoints = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FileId, Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[FileId, Snapshot]): Boolean =
        size > DecodedCheckpointsMax
    })

  /** The checkpoint at `cp`, decoded once per file identity. The key
    * comes from a fresh stat on every call, so a checkpoint deleted,
    * rebuilt or replaced since its decode is decoded again, never
    * served from memory. Sidecars are covered by their top-level
    * file: a writer names and writes them before it, so new sidecars
    * mean a new top-level file. The Spark decode runs outside the
    * map's lock; concurrent first readers may decode twice and the
    * first to publish wins. */
  private def checkpointState(spark: SparkSession, cp: Path): Snapshot = {
    val a = Files.readAttributes(cp, classOf[java.nio.file.attribute.BasicFileAttributes])
    val id = FileId(cp.toAbsolutePath.normalize.toString, a.size, a.lastModifiedTime, a.fileKey)
    Option(decodedCheckpoints.get(id)).getOrElse {
      val decoded = decodeCheckpoint(spark, cp)
      Option(decodedCheckpoints.putIfAbsent(id, decoded)).getOrElse(decoded)
    }
  }

  /** One read of the checkpoint file and one action over every non-null
    * protocol, metaData, txn, domainMetadata, sidecar and add row; v2
    * sidecars' add rows follow in one more read when the file points at
    * any (their paths are only known from the first). Columns an older
    * checkpoint lacks surface empty (a protocol without feature arrays,
    * a metaData without configuration); a file with neither add rows
    * nor sidecar pointers is refused. */
  private def decodeCheckpoint(spark: SparkSession, cp: Path): Snapshot = {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.functions.{col, lit, struct, to_json, when}
    def fieldsOf(df: DataFrame, s: String): Set[String] =
      if (!df.columns.contains(s)) Set.empty
      else df.schema(s).dataType.asInstanceOf[StructType].fieldNames.toSet
    def opt(df: DataFrame, s: String, f: String, tpe: String): Column =
      if (fieldsOf(df, s).contains(f)) col(s"$s.$f").cast(tpe) else lit(null).cast(tpe)
    // row-tracking fields must SURVIVE checkpointing: after expireLog a
    // baseRowId dropped here would shift every row id
    def addCols(df: DataFrame): Seq[Column] = Seq(
      opt(df, "add", "path", "string"), opt(df, "add", "size", "long"),
      opt(df, "add", "stats", "string"),
      if (fieldsOf(df, "add").contains("deletionVector")) to_json(col("add.deletionVector"))
      else lit(null).cast("string"),
      opt(df, "add", "baseRowId", "long"), opt(df, "add", "defaultRowCommitVersion", "long"))
    def addOf(r: Row): DeltaAdd = {
      val path = Option(r.getString(0)).getOrElse(
        throw new IllegalStateException(s"add row without path in checkpoint $cp"))
      val stats = if (r.isNullAt(2)) "" else r.getString(2)
      DeltaAdd(path, if (r.isNullAt(1)) 0L else r.getLong(1),
        minValues = statBounds(stats, "minValues"),
        maxValues = statBounds(stats, "maxValues"),
        numRecords = DeltaStream.numRecords(stats),
        dv = if (r.isNullAt(3)) None else dvOf("\"deletionVector\":" + r.getString(3)),
        baseRowId = if (r.isNullAt(4)) None else Some(r.getLong(4)),
        defaultRowCommitVersion = if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }
    def seqOf(r: Row, i: Int): Seq[String] = if (r.isNullAt(i)) Nil else r.getSeq[String](i)
    val cdf = ParquetFooters.read(spark, Seq(cp.toString))
    def present(s: String, needs: String): Column =
      if (fieldsOf(cdf, s).contains(needs)) col(s).isNotNull else lit(false)
    // one (row kind present, its fields) pair per action kind; the
    // protocol row counts only with a minReaderVersion, the metaData
    // row only when the checkpoint carries partitionColumns
    val kinds: Seq[(Column, Seq[Column])] = Seq(
      (if (fieldsOf(cdf, "protocol").contains("minReaderVersion"))
         col("protocol.minReaderVersion").isNotNull else lit(false),
       Seq(opt(cdf, "protocol", "minReaderVersion", "int"),
         opt(cdf, "protocol", "minWriterVersion", "int"),
         opt(cdf, "protocol", "readerFeatures", "array<string>"),
         opt(cdf, "protocol", "writerFeatures", "array<string>"))),
      (present("metaData", "partitionColumns"),
       Seq(opt(cdf, "metaData", "id", "string"), opt(cdf, "metaData", "schemaString", "string"),
         opt(cdf, "metaData", "partitionColumns", "array<string>"),
         opt(cdf, "metaData", "configuration", "map<string,string>"))),
      (present("txn", "appId"),
       Seq(opt(cdf, "txn", "appId", "string"), opt(cdf, "txn", "version", "long"))),
      (present("domainMetadata", "domain"),
       Seq(opt(cdf, "domainMetadata", "domain", "string"),
         opt(cdf, "domainMetadata", "configuration", "string"))),
      (present("sidecar", "path"), Seq(opt(cdf, "sidecar", "path", "string"))),
      (present("add", "path"), addCols(cdf)))
    val rows = cdf.filter(kinds.map(_._1).reduce(_ || _))
      .select(kinds.map { case (p, cs) => when(p, struct(cs: _*)) }: _*)
      .collect().toSeq
    def kind(i: Int): Seq[Row] = rows.filterNot(_.isNullAt(i)).map(_.getStruct(i))
    // V2 checkpoints (checkpointPolicy=v2): the top-level file holds
    // only non-file actions plus `sidecar` pointers; the add rows live
    // in sidecar parquet under _delta_log/_sidecars/ — read the union
    // (a classic checkpoint carries adds inline instead)
    val sidecars = kind(4).map(_.getString(0))
      .map(p => if (p.startsWith("/") || p.contains("://")) p
        else cp.getParent.resolve("_sidecars").resolve(p).toString)
    require(cdf.columns.contains("add") || sidecars.nonEmpty,
      s"checkpoint $cp carries neither add rows nor sidecar pointers")
    val sidecarAdds =
      if (sidecars.isEmpty) Nil
      else {
        val sdf = ParquetFooters.read(spark, sidecars)
        sdf.filter(col("add").isNotNull).select(addCols(sdf): _*).collect().toSeq.map(addOf)
      }
    Snapshot(cp.getParent.getParent.toString, cp.getFileName.toString.take(20).toLong,
      protocol = kind(0).headOption.map(r => Protocol(r.getInt(0),
        if (r.isNullAt(1)) 2 else r.getInt(1), seqOf(r, 2), seqOf(r, 3))).getOrElse(Protocol(1, 2)),
      meta = kind(1).headOption.map(r => MetaData(
        Option(r.getString(0)).getOrElse("graft"), Option(r.getString(1)).getOrElse("{}"),
        seqOf(r, 2),
        if (r.isNullAt(3)) Map.empty[String, String] else r.getMap[String, String](3).toMap)),
      txns = kind(2).filterNot(_.isNullAt(1)).map(r => r.getString(0) -> r.getLong(1)).toMap,
      domains = kind(3).map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap,
      adds = kind(5).map(addOf) ++ sidecarAdds)
  }

  /** The table at `version`: the seed (see the object doc's seed rule)
    * folded forward over every JSON commit after it. One fold applies
    * every action kind: removes before adds within a commit (a
    * DV-writing DML legally removes a path and re-adds it with a new
    * deletionVector in the same commit; for ordinary commits the order
    * is immaterial), the last protocol and metaData win, txn watermarks
    * keep each appId's maximum, domains replace by name. */
  def snapshot(spark: Option[SparkSession], base: String, version: Long): Snapshot = {
    val seed = for (s <- spark; cv <- checkpointAt(base, version))
      yield checkpointState(s, checkpointFile(base, cv))
    require(seed.nonEmpty || spark.nonEmpty || !versions(base).headOption.exists(_ > 0),
      s"vacuumed _delta_log under $base: table state needs the checkpoint — pass a SparkSession")
    val st = seed.getOrElse(Snapshot(base, -1L, Protocol(1, 2), None, Map.empty, Map.empty, Nil))
    var protocol = st.protocol
    var meta = st.meta
    val txns = scala.collection.mutable.Map.empty[String, Long] ++= st.txns
    val domains = scala.collection.mutable.Map.empty[String, String] ++= st.domains
    val live = scala.collection.mutable.LinkedHashMap.empty[String, DeltaAdd] ++=
      st.adds.map(a => a.path -> a)
    (st.version + 1 to version).foreach { v =>
      val adds = Seq.newBuilder[DeltaAdd]
      commitLines(base, v).foreach { line =>
        if (line.contains("\"add\"")) {
          adds += DeltaAdd(strField(line, "path").getOrElse(
              throw new IllegalStateException(s"add action without path: $line")),
            longField(line, "size").getOrElse(0L),
            minValues = statBounds(line, "minValues"),
            maxValues = statBounds(line, "maxValues"),
            numRecords = DeltaStream.numRecords(line),
            dv = dvOf(line),
            baseRowId = longField(line, "baseRowId"),
            defaultRowCommitVersion = longField(line, "defaultRowCommitVersion"))
        } else if (line.contains("\"remove\"")) {
          strField(line, "path").foreach(live.remove)
        } else if (line.contains("\"metaData\"")) {
          meta = Some(MetaData(strField(line, "id").getOrElse("graft"),
            strField(line, "schemaString").getOrElse("{}"),
            listField(line, "partitionColumns").getOrElse(Nil), configOf(line)))
        } else if (line.contains("\"protocol\"")) {
          longField(line, "minReaderVersion").foreach { mr =>
            protocol = Protocol(mr.toInt,
              longField(line, "minWriterVersion").map(_.toInt).getOrElse(protocol.minWriterVersion),
              listField(line, "readerFeatures").getOrElse(Nil),
              listField(line, "writerFeatures").getOrElse(Nil))
          }
        } else if (line.contains("\"txn\"")) {
          val app = strField(line, "appId").getOrElse(
            throw new IllegalStateException(s"txn action without appId: $line"))
          val tv = longField(line, "version").getOrElse(
            throw new IllegalStateException(s"txn action without version: $line"))
          txns(app) = math.max(tv, txns.getOrElse(app, Long.MinValue))
        } else if (line.contains("\"domainMetadata\"")) {
          strField(line, "domain").foreach { d =>
            if (line.contains("\"removed\":true")) domains.remove(d)
            else domains(d) = strField(line, "configuration").getOrElse("")
          }
        }
      }
      adds.result().foreach(a => live(a.path) = a)
    }
    assertReadable(protocol)
    Snapshot(base, version, protocol, meta, txns.toMap, domains.toMap, live.values.toSeq)
  }

  /** The latest version's snapshot. */
  def snapshot(spark: SparkSession, base: String): Snapshot =
    snapshot(Some(spark), base, latestVersion(base))

  /** Live file set at `version`, folded from version 0. */
  def snapshotFiles(base: String, version: Long): Seq[DeltaAdd] =
    snapshot(None, base, version).adds

  /** A live file's path as every scan of it spells it (relative `add`
    * paths resolve against the table root). */
  private[sources] def absOf(base: String, rel: String): String =
    Paths.get(base).resolve(rel).toString

  /** A live file as [[LakeScan]] takes it: its path and the log's size. */
  private[sources] def scanFile(base: String, a: DeltaAdd): LakeScan.File =
    LakeScan.File(absOf(base, a.path), a.size)

  /** The scan of `adds`: hive partition dirs recovered under the table
    * root when `partitioned`, `schema` enforced over the footers. */
  private[sources] def scan(spark: SparkSession, base: String, adds: Seq[DeltaAdd],
                            schema: Option[StructType], partitioned: Boolean,
                            mergeSchema: Boolean = false): DataFrame =
    LakeScan(spark, adds.map(scanFile(base, _)), schema,
      basePath = if (partitioned) Some(base) else None, mergeSchema = mergeSchema)

  /** Each DV-carrying file's bitmap payload, keyed by the
    * `_metadata.file_path` its scan renders ([[LakeScan.key]]). */
  private[sources] def dvMasks(spark: SparkSession, base: String,
                               adds: Seq[DeltaAdd]): Map[String, Array[Byte]] =
    adds.flatMap(a => a.dv.map(d => LakeScan.key(spark, absOf(base, a.path)) ->
      RoaringDv.loadPayload(base, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes)))
      .toMap

  /** The scan of `adds` with each file's deletion vector applied. */
  private def maskedScan(spark: SparkSession, base: String, adds: Seq[DeltaAdd],
                         schema: Option[StructType], partitioned: Boolean): DataFrame =
    LakeScan.mask(spark, scan(spark, base, adds, schema, partitioned),
      dvMasks(spark, base, adds))

  /** ROW-TRACKING read: the snapshot's live rows plus `_row_id` and
    * `_row_commit_version` — each file's MATERIALIZED columns when
    * present (what OPTIMIZE writes so rewrites preserve ids), else
    * `baseRowId + position` / `defaultRowCommitVersion` from the add
    * action. Deletion vectors apply FIRST, so surviving rows keep
    * their ids. The per-file (baseRowId, commitVersion) pairs attach
    * via ONE broadcast join over a files-sized frame. */
  def readRowIds(spark: SparkSession, base: String, version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val snap = snapshot(Some(spark), base, version)
    val (matId, matVer) = snap.rowTrackingCols.getOrElse(
      throw new IllegalArgumentException(s"$base does not enable row tracking"))
    val adds = snap.adds
    require(adds.nonEmpty, s"empty snapshot $version of $base")
    val raw = scan(spark, base, adds, None, snap.partitionColumns.nonEmpty, mergeSchema = true)
    val stamped = raw
      .withColumn("__path", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    // DVs apply with positions KEPT
    val masked = stamped.filter(
      LakeScan.unmasked(spark, dvMasks(spark, base, adds), col("__path"), col("__pos")))
    val meta = adds.map(a => (LakeScan.key(spark, absOf(base, a.path)),
      a.baseRowId.map(java.lang.Long.valueOf).orNull,
      a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull))
    val metaDf = spark.createDataFrame(meta).toDF("__rt_path", "__rt_base", "__rt_ver")
    def matCol(c: String) = if (raw.columns.contains(c)) col(c) else lit(null)
    // on a column-mapped table the files carry PHYSICAL names — surface
    // the logical spelling like read() does (mat columns stay physical;
    // they are config-named, not schema fields)
    val logicalOf = snap.physicalNames.getOrElse(Nil).map(_.swap).toMap
    val userCols = raw.columns.filterNot(c => c == matId || c == matVer)
      .map(c => logicalOf.get(c).fold(col(c))(col(c).as(_))).toSeq
    masked.join(broadcast(metaDf), col("__path") === col("__rt_path"))
      .select(userCols ++ Seq(
        coalesce(matCol(matId), col("__rt_base") + col("__pos"))
          .cast("long").as("_row_id"),
        coalesce(matCol(matVer), col("__rt_ver"))
          .cast("long").as("_row_commit_version")): _*)
  }

  /** Snapshot read at an explicit version (time travel). The live list
    * goes straight to the parquet source: pushdown/pruning intact.
    *
    * Partitioned tables: Delta stores partition values in the log
    * (`add.partitionValues`), NOT in the data files. When every live
    * path is hive-style (`col=value/…` — what delta-spark writes), the
    * scan recovers the partition columns from the paths via `basePath`,
    * and partition pruning keeps working. A partitioned table with
    * non-hive paths would need per-file literal stitching — rejected
    * fast rather than silently dropping columns. */
  def read(spark: SparkSession, base: String, version: Long): DataFrame =
    read(spark, snapshot(Some(spark), base, version))

  /** Latest-snapshot read. */
  def read(spark: SparkSession, base: String): DataFrame =
    read(spark, base, latestVersion(base))

  /** Read of a resolved snapshot. */
  def read(spark: SparkSession, snap: Snapshot): DataFrame = {
    val (base, version, adds) = (snap.base, snap.version, snap.adds)
    require(adds.nonEmpty, s"empty snapshot at version $version of $base")
    val pcols = snap.partitionColumns
    snap.mappedSchema.foreach { logical =>
      // mode=id: columns bind by the PARQUET FIELD ID each file embeds
      // — names are immaterial (the variant that survives engines that
      // rewrite physical names). Spark's own field-id resolution does
      // the matching: the requested schema carries parquet.field.id =
      // delta.columnMapping.id under the LOGICAL name, so no rename
      // pass is needed and a metaData-only RENAME just changes the
      // requested spelling. Files without embedded ids fail loudly
      // (ignoreMissing stays false) rather than mis-bind.
      if (snap.columnMappingMode.contains("id")) {
        import org.apache.spark.sql.types.{MetadataBuilder, StructField}
        val readSchema = StructType(logical.fields.map(f =>
          StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
            .build())))
        require(pcols.isEmpty,
          "mode=id column mapping on a partitioned table is beyond this minimal reader")
        // this V1 scan consults the SESSION conf at execution time (the
        // clip in ParquetReadSupport reads SQLConf, not the per-read
        // options — verified empirically; the DSv2 front door's scan
        // DOES honor the option form, see LakeBatchSources). The read
        // is lazy, so save/restore is impossible here; the flip is
        // one-way but only affects scans whose REQUESTED schema carries
        // parquet.field.id metadata — which only id-binding readers
        // deliberately attach. ignoreMissing makes post-ADD-COLUMN
        // reads surface the new field as NULL in files that predate it
        // (the spec's schema evolution); the loudness the default
        // provided against id-LESS foreign files moves into a sampled
        // footer check.
        assertEmbeddedIds(spark, absOf(base, adds.head.path))
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
        return maskedScan(spark, base, adds, Some(readSchema), partitioned = false)
      }
      // column mapping mode=name: the parquet files carry PHYSICAL
      // names; rename to the version's logical schema (a metaData-only
      // rename commit changes what this returns with zero data movement
      // — the whole point of the feature). Pruning/pushdown still run
      // against the physical scan; the projection is a free alias. On a
      // PARTITIONED mapped table the hive dirs carry physical names too
      // (the spec's partitionValues are keyed physical); basePath
      // recovery surfaces them and the same rename applies.
      val physByLogical = logical.fields.map(f =>
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")).toMap
      val physPcols = pcols.map(c => physByLogical.getOrElse(c, c))
      // the scan REQUESTS the physical schema at the LOGICAL types:
      // files that predate an ADD COLUMN surface the new physical
      // column as NULL (instead of footer-sampling roulette), and
      // files narrower than a WIDENED type upcast natively in the
      // parquet reader (int32→int64 etc.) — both halves of schema
      // evolution on a mapped table, with zero data movement
      val physSchema = StructType(
        logical.fields.map(f => org.apache.spark.sql.types.StructField(
          physByLogical(f.name), f.dataType, nullable = true)))
      require(adds.forall(a => physPcols.forall(c => a.path.contains(c + "="))),
        s"partitioned column-mapped Delta table with non-hive data paths " +
          s"(need ${physPcols.mkString(",")} dirs)")
      val physical = maskedScan(spark, base, adds, Some(physSchema), pcols.nonEmpty)
      val renames = logical.fields.map { f =>
        org.apache.spark.sql.functions.col(physByLogical(f.name)).as(f.name)
      }
      return physical.select(renames.toIndexedSeq: _*)
    }
    if (pcols.nonEmpty)
      require(adds.forall(a => pcols.forall(c => a.path.contains(c + "="))),
        s"partitioned Delta table (${pcols.mkString(",")}) with non-hive " +
          "data paths — partition values live only in the log; this " +
          "minimal reader supports hive-style layouts only")
    // enforce the LOG's schema over the footers (non-mapped tables):
    // pre-ADD-COLUMN files surface the new column as NULL instead of the
    // scan schema depending on which footer Spark sampled — the spec's
    // schema evolution — and partition columns keep their DECLARED
    // types (no dir-name inference drift)
    maskedScan(spark, base, adds, snap.schema, pcols.nonEmpty)
  }

  /** The live files a `[lo, hi]` range read on `column` must open —
    * Delta data skipping: files whose `minValues`/`maxValues` for the
    * column miss the range never reach the parquet source. Files
    * without bounds for the column are KEPT (can't prune what isn't
    * tracked). */
  def filesWhere(spark: SparkSession, base: String, version: Long,
                 column: String, lo: Long, hi: Long): Seq[DeltaAdd] =
    filesWhere(snapshot(Some(spark), base, version), column, lo, hi)

  private def filesWhere(snap: Snapshot, column: String, lo: Long, hi: Long): Seq[DeltaAdd] = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    // stats keys are PHYSICAL column names on a mapped table — accept
    // the logical spelling and translate
    val key = snap.physicalNames.flatMap(_.collectFirst { case (`column`, p) => p })
      .getOrElse(column)
    snap.adds.filter { a =>
      (a.minValues.get(key), a.maxValues.get(key)) match {
        case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
        case _                    => true
      }
    }
  }

  /** Stats-pruned range read ([[filesWhere]] + plain parquet scan);
    * the caller still applies its row predicate — the residual that
    * keeps the engine honest inside partially-overlapping files. */
  def readWhere(spark: SparkSession, base: String, version: Long,
                column: String, lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(Some(spark), base, version)
    val files = filesWhere(snap, column, lo, hi)
    require(files.nonEmpty, s"no file of $base@$version overlaps $column in [$lo, $hi]")
    // enforce the LOG's schema like read() does: without it, a
    // row-tracked table's materialized physical columns
    // (_row_id_mat/_row_commit_mat) leak into results after OPTIMIZE
    // and mixed-schema file sets read inconsistently
    val partitioned = snap.partitionColumns.nonEmpty
    snap.mappedSchema match {
      case Some(logical) =>
        // mapped table: files carry PHYSICAL names — enforce the schema
        // under its physical spelling, then alias back to logical
        import org.apache.spark.sql.types.StructField
        val phys = StructType(logical.fields.map(f => StructField(
          f.metadata.getString("delta.columnMapping.physicalName"),
          f.dataType, f.nullable)))
        val data = maskedScan(spark, base, files, Some(phys), partitioned)
        data.select(logical.fields.map(f => org.apache.spark.sql.functions
          .col(f.metadata.getString("delta.columnMapping.physicalName"))
          .as(f.name)).toIndexedSeq: _*)
      case None =>
        maskedScan(spark, base, files, snap.schema, partitioned)
    }
  }

  /** Change Data Feed over versions [fromVersion, toVersion] — the
    * spec's batch CDF contract:
    *
    *   - a commit carrying `cdc` actions is represented by THOSE files
    *     alone (they live under `_change_data/` and carry the
    *     `_change_type` column — update_preimage/update_postimage/...);
    *     its add/remove actions exist for snapshot readers and must NOT
    *     double-count here;
    *   - otherwise `add` actions with `dataChange=true` surface their
    *     rows as inserts, and `remove` actions with `dataChange=true`
    *     surface the removed file's rows as deletes (the pre-image is
    *     the file itself — still on disk until VACUUM);
    *   - `dataChange=false` commits (OPTIMIZE) change nothing and emit
    *     nothing — the property that makes CDF cheaper than diffing
    *     snapshots.
    *
    * Every result row is stamped with `_change_type` and
    * `_commit_version`; the data path is ordinary parquet scans of just
    * the referenced files, so pushdown and pruning stay intact. */
  def readChanges(spark: SparkSession, base: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion, s"empty CDF range [$fromVersion, $toVersion]")
    val parts = (fromVersion to toVersion).flatMap { v =>
      val lines = commitLines(base, v)
      // the snapshot at v carries the version's protocol guard and its
      // column mapping
      val snap = snapshot(Some(spark), base, v)
      // cdc actions are declared with dataChange=false by the spec (the
      // data change is what they DESCRIBE) — the no-change exclusion
      // applies only to add/remove
      def paths(kind: String, skipNoChange: Boolean): Seq[String] = lines.collect {
        case l if l.contains("\"" + kind + "\"") &&
          !(skipNoChange && l.contains("\"dataChange\":false")) =>
          strField(l, "path").getOrElse(
            throw new IllegalStateException(s"$kind action without path: $l"))
      }
      val cdc = paths("cdc", skipNoChange = false)
      val reads: Seq[(Seq[String], Option[String])] =
        if (cdc.nonEmpty) Seq((cdc, None)) // cdc files carry _change_type themselves
        else Seq((paths("add", skipNoChange = true), Some("insert")),
          (paths("remove", skipNoChange = true), Some("delete")))
      // mapped tables: data and _change_data files carry PHYSICAL
      // names — surface each commit's rows under ITS version's logical
      // schema (a rename commit changes the spelling going forward)
      val colMap = snap.physicalNames
      reads.collect { case (files, tag) if files.nonEmpty =>
        val raw = LakeScan.paths(spark, files.map(absOf(base, _)))
        // derived DELETE pre-images from removed files must be read
        // UNDER their deletion-vector masks as of the PRIOR version —
        // an unmasked read would over-report already-soft-deleted rows
        // as this commit's deletes (the overwrite × CDF × DV corner)
        val df0 =
          if (tag.contains("delete")) {
            val fileSet = files.toSet
            LakeScan.mask(spark, raw, dvMasks(spark, base,
              snapshot(Some(spark), base, v - 1).adds.filter(a => fileSet.contains(a.path))))
          } else raw
        val df = colMap.fold(df0)(_.foldLeft(df0) { case (d, (l, p)) =>
          if (p != l && d.columns.contains(p)) d.withColumnRenamed(p, l) else d })
        tag.fold(df)(t => df.withColumn("_change_type", lit(t)))
          .withColumn("_commit_version", lit(v))
      }
    }
    require(parts.nonEmpty, s"no data-changing commits in [$fromVersion, $toVersion] of $base")
    val cols = parts.head.columns.filterNot(
      c => c == "_change_type" || c == "_commit_version").toSeq :+ "_change_type" :+ "_commit_version"
    parts.map(_.select(cols.map(col): _*)).reduce(_ unionAll _)
  }
}
