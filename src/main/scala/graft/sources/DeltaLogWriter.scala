package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

/** Write-side twin of [[DeltaLogReader]]: emit a PUBLIC-spec Delta
  * Lake table (the open delta-io protocol) so existing Delta consumers
  * can read what this engine produces — the export path a user needs
  * when they adopt the engine but their downstream stays on Delta.
  *
  * Scope (minimal, spec-conformant, append-only):
  *   - `create`: write the DataFrame's rows as parquet part files
  *     under the table base, then commit version 0 with `protocol`
  *     (minReader/Writer 1/2 — no reader-blocking features),
  *     `metaData` (real Spark schema JSON in `schemaString`) and one
  *     `add` per part file carrying size + `stats.numRecords`.
  *   - `append`: the next version, `add` actions only.
  *
  * The DATA write is the ordinary distributed parquet sink; only the
  * KB-scale commit JSON is composed on the driver. Part files keep the
  * names Spark gave them (the spec just requires relative paths), and
  * the commit file is written LAST and atomically (create-new), so a
  * concurrent reader never sees a half-commit — the same
  * last-writer-wins discipline the spec's optimistic protocol builds
  * on. numRecords comes from one metadata-cheap `_metadata.file_path`
  * group-by over just the new files.
  */
object DeltaLogWriter {
  import DeltaLogReader.{esc, DeltaAdd, DvDescriptor, MetaData, Protocol, Snapshot}

  /** Undo hive-style partition-dir escaping (`%XX`) — dir names are
    * escaped on disk, but `partitionValues` in the log carry the real
    * value (the spec's split between path spelling and metadata). */
  private def unescapeHive(s: String): String = HivePath.unescape(s)

  /** `col=value/...` path prefix → (column, real value) pairs. */
  private def partitionValuePairs(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq < 0) None else Some(seg.take(eq) -> unescapeHive(seg.drop(eq + 1)))
    }

  /** `col=value/...` path prefix → the add action's partitionValues. */
  private def partitionValuesOf(rel: String): String =
    partitionValuePairs(rel)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  /** One add action per new part file, stats included. With
    * `statsFor`, each add also carries per-file `minValues`/`maxValues`
    * for those (integral) columns — the spec's data-skipping stats,
    * what lets a reader plan around files whose range misses the
    * predicate. Counts and bounds come from each file's footer. */
  private def addActions(base: String, relPaths: Seq[String],
                         statsFor: Seq[String] = Nil): Seq[String] =
    addActionsCounted(base, relPaths, statsFor)._1

  /** add actions + total row count. With `rowTracking = Some((start,
    * commitVersion))` each file carries a fresh contiguous
    * `baseRowId` range (assigned in file order from `start`) and
    * `defaultRowCommitVersion` — the ROW TRACKING fields; the caller
    * bumps the high-water mark by the returned total. */
  private def addActionsCounted(base: String, relPaths: Seq[String],
                                statsFor: Seq[String] = Nil,
                                rowTracking: Option[(Long, Long)] = None,
                                dataChange: Boolean = true): (Seq[String], Long) = {
    var nextId = rowTracking.map(_._1).getOrElse(0L)
    var total = 0L
    val actions = relPaths.map { rel =>
      // count and integral bounds from the just-staged file's FOOTER —
      // a metadata-plane read instead of a read-back Spark job over every
      // byte just written. A stats column whose footer cannot answer
      // exactly (non-INT32/64) gets no bounds, like an all-NULL one.
      val (n, boundsMap) = ParquetFooters.statsOf(Paths.get(base, rel), statsFor)
      val sz = Files.size(Paths.get(base, rel))
      val tracked = statsFor.filter(boundsMap.contains)
      val bounds = if (tracked.isEmpty) "" else {
        def side(tag: String, pick: ((Long, Long)) => Long) = tracked
          .map(c => s"""\\"${esc(c)}\\":${pick(boundsMap(c))}""")
          .mkString(s""",\\"$tag\\":{""", ",", "}")
        side("minValues", _._1) + side("maxValues", _._2)
      }
      val rt = rowTracking.map { case (_, ver) =>
        val s = s""""baseRowId":$nextId,"defaultRowCommitVersion":$ver,"""
        nextId += n
        s
      }.getOrElse("")
      total += n
      s"""{"add":{"path":"${esc(rel)}","partitionValues":${partitionValuesOf(rel)},""" +
        s""""size":$sz,"modificationTime":0,$rt""" +
        s""""dataChange":$dataChange,"stats":"{\\"numRecords\\":$n$bounds}"}}"""
    }
    (actions, total)
  }

  /** The `delta.rowTracking` domain-metadata action carrying the id
    * high-water mark — the reason ids are never reused even after
    * their files are removed. */
  private def rowTrackingDomain(hwm: Long): String =
    s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
      s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}","removed":false}}"""

  /** The `delta.clustering` domain-metadata action declaring `cols`. */
  private def clusteringDomain(cols: Seq[String]): String = {
    val cc = cols.map(c => s"""[\\"${esc(esc(c))}\\"]""").mkString("[", ",", "]")
    s"""{"domainMetadata":{"domain":"delta.clustering",""" +
      s""""configuration":"{\\"clusteringColumns\\":$cc}","removed":false}}"""
  }

  /** The configuration a row-tracked table is created with. */
  private val RowTrackingConf = Map(
    "delta.enableRowTracking" -> "true",
    "delta.rowTracking.materializedRowIdColumnName" -> "_row_id_mat",
    "delta.rowTracking.materializedRowCommitVersionColumnName" -> "_row_commit_mat")

  private def commitInfo(operation: String): String =
    s"""{"commitInfo":{"operation":"${esc(operation)}","timestamp":0}}"""

  private def removeAction(path: String, dataChange: Boolean): String =
    s"""{"remove":{"path":"${esc(path)}","deletionTimestamp":0,"dataChange":$dataChange}}"""

  /** add actions for `rels` plus, on a row-tracked table, the domain
    * bump: fresh ids start ABOVE the snapshot's high-water mark and the
    * same commit raises the mark, so ids are never reused. */
  private def addsTracked(snap: Snapshot, rels: Seq[String], statsFor: Seq[String],
                          version: Long, dataChange: Boolean = true): (Seq[String], Seq[String]) = {
    val hwm = snap.rowTrackingCols.map(_ => snap.rowIdHighWaterMark.getOrElse(-1L))
    val (adds, total) = addActionsCounted(snap.base, rels, statsFor,
      hwm.map(h => (h + 1, version)), dataChange)
    (adds, hwm.map(h => rowTrackingDomain(h + total)).toSeq)
  }

  // ---- feature-composition plumbing ---------------------------------------
  // The writer features are ORTHOGONAL on real tables (a modern table
  // ships with DVs + column mapping + row tracking + clustering ON
  // together), so every rewrite op runs through ONE shared scan/write
  // pair instead of pairwise refusals: the scan surfaces LOGICAL names
  // with DV masks applied and row ids materialized; the write renames
  // back to physical, keeps the hive layout, and assigns fresh row-id
  // ranges.

  private def physOf(colMap: Option[Seq[(String, String)]], name: String): String =
    colMap.flatMap(_.collectFirst { case (l, p) if l == name => p }).getOrElse(name)

  /** Rename a LOGICAL-named frame to the table's PHYSICAL names.
    * Columns outside the mapping (materialized row-id columns, staging
    * helpers, `_change_type`) pass through unchanged. */
  private def toPhysical(df: DataFrame, colMap: Option[Seq[(String, String)]]): DataFrame =
    colMap.fold(df)(_.foldLeft(df) { case (d, (l, p)) =>
      if (l != p && d.columns.contains(l)) d.withColumnRenamed(l, p) else d })

  private def toLogical(df: DataFrame, colMap: Option[Seq[(String, String)]]): DataFrame =
    colMap.fold(df)(_.foldLeft(df) { case (d, (l, p)) =>
      if (l != p && d.columns.contains(p)) d.withColumnRenamed(p, l) else d })

  /** On a COLUMN-MAPPED table (either mode), every written file must
    * EMBED the parquet field ids — the spec's writer requirement in
    * BOTH modes, and what id-based readers (including the DSv2 front
    * door's field-id scan) bind by; files without ids fail loudly
    * there rather than mis-bind. Re-select the physical frame with
    * `parquet.field.id` metadata per mapped column and make sure the
    * writer conf is on. No-op on unmapped tables. */
  private def stampFieldIds(df: DataFrame, snap: Snapshot): DataFrame =
    snap.mappedSchema.fold(df)(logical => stampIds(df, logical.fields.map(f =>
      f.metadata.getString("delta.columnMapping.physicalName") ->
        f.metadata.getLong("delta.columnMapping.id")).toMap))

  /** Re-select `df` so each named column carries `parquet.field.id`
    * metadata (the writer conf must already be on). */
  private def stampIds(df: DataFrame, idOf: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types.MetadataBuilder
    df.select(df.columns.map { c =>
      idOf.get(c) match {
        case Some(id) => col(c).as(c,
          new MetadataBuilder().putLong("parquet.field.id", id).build())
        case None => col(c)
      }
    }.toIndexedSeq: _*)
  }

  /** A DML op's table: the latest snapshot, resolved ONCE per
    * statement, and the live files the op reads (all of them, or the
    * subset a rewrite touches). */
  private final case class DmlCtx(snap: Snapshot, live: Seq[DeltaAdd]) {
    def base: String = snap.base
    def version: Long = snap.version
    def colMap: Option[Seq[(String, String)]] = snap.physicalNames
    def physPcols: Seq[String] = snap.partitionColumns.map(physOf(colMap, _))
    def rt: Option[(String, String)] = snap.rowTrackingCols
    def matId: String = rt.map(_._1).getOrElse("")
    def matVer: String = rt.map(_._2).getOrElse("")
    def matCols: Seq[String] = rt.toSeq.flatMap { case (i, v) => Seq(i, v) }
  }

  private def dmlCtx(spark: SparkSession, base: String): DmlCtx = {
    val snap = DeltaLogReader.snapshot(spark, base)
    DmlCtx(snap, snap.adds)
  }

  /** The UNIFIED DML scan — the composition point every rewrite op
    * reads through: live files (hive partition values recovered via
    * basePath), deletion vectors APPLIED (masked rows neither match
    * nor survive a rewrite), row ids MATERIALIZED into the configured
    * physical columns (so a rewrite preserves them), and LOGICAL
    * column names (predicates bind the user's spelling on mapped
    * tables). Always carries `__path`, the scan's own
    * `_metadata.file_path` ([[LakeScan.key]] of the file); `__pos` too when
    * `keepPos` (the DV-delete path needs positions). */
  private def dmlScanAll(spark: SparkSession, ctx: DmlCtx,
                         keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce}
    val base = ctx.base
    require(ctx.live.nonEmpty, s"DML over an empty snapshot of $base")
    if (ctx.physPcols.nonEmpty)
      require(ctx.live.forall(a => ctx.physPcols.forall(c => a.path.contains(c + "="))),
        s"partitioned Delta table (${ctx.physPcols.mkString(",")}) with non-hive " +
          "data paths — partition values live only in the log; this " +
          "minimal writer supports hive-style layouts only")
    // the LOG's schema governs (pre-ADD-COLUMN files surface evolved
    // columns as NULL); under column mapping the enforced schema uses
    // the PHYSICAL names the footers carry. Row-tracked tables append
    // the materialized id/version columns to that schema DRIVER-SIDE —
    // they exist only on post-OPTIMIZE files, and the parquet reader
    // null-fills a requested column a file lacks, which is exactly the
    // union the old mergeSchema=true read computed with a distributed
    // all-footers job per DML statement
    val declared = {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val logSchema = ctx.snap.mappedSchema match {
        case Some(l) => Some(StructType(l.fields.map(f => StructField(
          physOf(ctx.colMap, f.name), f.dataType, f.nullable))))
        case None => ctx.snap.schema
      }
      ctx.rt match {
        case None => logSchema
        case Some(_) => logSchema.map(s => StructType(s.fields ++ Seq(
          StructField(ctx.matId, LongType, nullable = true),
          StructField(ctx.matVer, LongType, nullable = true))))
      }
    }
    val raw = DeltaLogReader.scan(spark, base, ctx.live, declared, ctx.physPcols.nonEmpty,
      mergeSchema = declared.isEmpty && ctx.rt.isDefined)
    val stamped = raw
      .withColumn("__path", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    val masked = stamped.filter(LakeScan.unmasked(spark,
      DeltaLogReader.dvMasks(spark, base, ctx.live), col("__path"), col("__pos")))
    val materialized = ctx.rt match {
      case None => masked
      case Some(_) =>
        // every surviving row gets its id/commit-version under the
        // MATERIALIZED physical names: a rewrite that keeps these
        // columns preserves ids by construction
        val meta = ctx.live.map(a => (
          LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)),
          a.baseRowId.map(java.lang.Long.valueOf).orNull,
          a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull))
        val metaDf = spark.createDataFrame(meta).toDF("__rt_path", "__rt_base", "__rt_ver")
        def matCol(c: String) = if (raw.columns.contains(c)) col(c) else lit(null)
        val keep = masked.columns.filterNot(c =>
          c == ctx.matId || c == ctx.matVer).map(col).toSeq
        masked.join(broadcast(metaDf), col("__path") === col("__rt_path"))
          .select(keep ++ Seq(
            coalesce(matCol(ctx.matId), col("__rt_base") + col("__pos"))
              .cast("long").as(ctx.matId),
            coalesce(matCol(ctx.matVer), col("__rt_ver")).cast("long").as(ctx.matVer)): _*)
    }
    val logical = toLogical(materialized, ctx.colMap)
    if (keepPos) logical else logical.drop("__pos")
  }

  /** The UNIFIED rewrite write — the other half of the composition
    * point: rename logical→physical, shape the parallelism (one task
    * per partition value / affected file), stage under the hive
    * layout, and emit add actions that carry fresh row-id ranges when
    * the table is row-tracked (reads prefer the materialized columns
    * the frame already carries). Returns (adds, domain-bump actions). */
  private def writeRewrite(spark: SparkSession, ctx: DmlCtx, df: DataFrame,
                           version: Long, affected: Int,
                           statsFor: Seq[String] = Nil,
                           dataChange: Boolean = true): (Seq[String], Seq[String]) = {
    val physDf = stampFieldIds(toPhysical(df.drop("__path", "__pos"), ctx.colMap), ctx.snap)
    val rels = writeData(shapeRewrite(physDf, ctx.physPcols, affected),
      ctx.base, version, ctx.physPcols)
    addsTracked(ctx.snap, rels, statsFor.map(physOf(ctx.colMap, _)), version, dataChange)
  }

  /** Stage-write `df` as parquet and move the part files under the
    * table base with a version prefix; returns their relative paths.
    * With `partitionBy`, the stage write uses the hive layout and the
    * moves preserve the `col=value/` dirs — partition values then live
    * in BOTH the paths (for the scan's basePath recovery) and the add
    * actions' partitionValues (for log-only readers), as delta-spark
    * itself writes them. */
  /** Run `body` with `spark.sql.parquet.fieldId.write.enabled` ON and
    * the previous session value RESTORED after — the parquet write
    * path reads this from the SESSION conf (ParquetUtils.prepareWrite
    * clobbers per-write options with it), and leaving it flipped would
    * change unrelated writes in the same session whose schemas happen
    * to carry field-id metadata. */
  private[sources] def withFieldIdWrites[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def writeData(df: DataFrame, base: String, version: Long,
                        partitionBy: Seq[String] = Nil): Seq[String] = {
    val w = df.write
    // column-mapped frames carry parquet.field.id metadata — the spec
    // requires the files to EMBED those ids (id-based readers bind by
    // them), which needs the session flag on for this write only
    val stampsIds = df.schema.fields.exists(_.metadata.contains("parquet.field.id"))
    def run(tmp: String): Unit =
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
    Stage(base)(tmp => if (stampsIds) withFieldIdWrites(df.sparkSession)(run(tmp)) else run(tmp)) {
      leaves =>
        require(leaves.nonEmpty, s"writeData produced no part files for $base")
        leaves.map(l => Stage.move(l, base, s"${l.prefix()}v$version-${l.name}"))
    }
  }

  private[graft] def commit(base: String, version: Long, actions: Seq[String]): Unit = {
    val dir = Paths.get(base, "_delta_log")
    Files.createDirectories(dir)
    val name = f"$version%020d.json"
    // CREATE_NEW: committing an already-committed version must fail,
    // not overwrite — the spec's mutual-exclusion point
    Files.write(dir.resolve(name),
      (actions.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW)
  }

  /** Create a new Delta table at `base` (version 0). With
    * `partitionBy`, data lands in the hive layout and partition values
    * ride both the paths and each add's `partitionValues`. */
  def create(spark: SparkSession, df: DataFrame, base: String, tableId: String,
             partitionBy: Seq[String] = Nil, statsFor: Seq[String] = Nil,
             extraConf: Map[String, String] = Map.empty): Unit = {
    TxnLog.rmrf(base)
    val rels = writeData(df, base, 0L, partitionBy)
    // declared table properties (e.g. delta.enableChangeDataFeed) need
    // their protocol floor: CDF is a minWriterVersion-4 legacy feature
    val mw = if (extraConf.get("delta.enableChangeDataFeed").contains("true")) 4 else 2
    commit(base, 0L, Seq(Protocol(1, mw).json,
      MetaData(tableId, df.schema.json, partitionBy, extraConf).json) ++
      addActions(base, rels, statsFor))
  }

  /** Create an EMPTY table — schema-only version 0, the catalog's
    * `CREATE TABLE` shape: no data files; the first append populates
    * it (CTAS is createEmpty + append in Spark's non-staging v2
    * flow). */
  def createEmpty(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                  base: String, tableId: String,
                  partitionBy: Seq[String] = Nil): Unit = {
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition columns ${partitionBy.mkString(",")} must exist in the schema")
    // NEVER clear the target: the catalog's tableExists guard only
    // sniffs format markers, so a marker-less directory here could be
    // a namespace holding tables (or a table whose log was lost) — an
    // rmrf would silently destroy it. CREATE demands a fresh location.
    val dir = Paths.get(base)
    val vacant = !Files.exists(dir) || (Files.isDirectory(dir) && {
      val s = Files.list(dir)
      try !s.findFirst().isPresent finally s.close()
    })
    require(vacant,
      s"CREATE TABLE target $base exists and is not empty — refusing to " +
        "clear a directory this writer did not stage (drop it explicitly first)")
    Files.createDirectories(dir)
    commit(base, 0L, Seq(Protocol(1, 2).json, MetaData(tableId, schema.json, partitionBy).json))
  }

  /** Create a LIQUID-CLUSTERED Delta table (the `clustering` +
    * `domainMetadata` writer features): the clustering columns are
    * declared ONCE in the `delta.clustering` domain — unlike hive
    * partitioning they are a LAYOUT HINT, not a path scheme, so they
    * can be changed later and high-cardinality columns are fine.
    * [[optimizeClustered]] applies the layout: a Z-ORDER rewrite whose
    * per-file min/max stats become tight on BOTH columns, which is
    * what makes [[DeltaLogReader.filesWhere]] skipping effective on
    * either dimension. */
  def createClustered(spark: SparkSession, df: DataFrame, base: String,
                      tableId: String, clusterCols: Seq[String]): Unit = {
    require(clusterCols.size == 2,
      "this minimal writer z-orders exactly 2 clustering columns")
    require(clusterCols.forall(df.columns.contains),
      s"clustering columns ${clusterCols.mkString(",")} must exist in the data")
    TxnLog.rmrf(base)
    val rels = writeData(df, base, 0L)
    commit(base, 0L, Seq(
      Protocol(1, 7, Nil, Seq("clustering", "domainMetadata")).json,
      MetaData(tableId, df.schema.json).json, clusteringDomain(clusterCols)) ++
      addActions(base, rels, statsFor = clusterCols))
  }

  /** OPTIMIZE on a clustered table — the Z-ORDER rewrite: bucket each
    * clustering column into 8 equi-width cells over its observed
    * [min,max] (two driver-side scalars), interleave the 3-bit cell
    * ids into a 64-cell Z-value, and rewrite the live set as ONE FILE
    * PER occupied Z-bucket (`zBuckets` buckets of 4 adjacent cells).
    * Each output file then covers a NARROW range of BOTH columns, so
    * its min/max stats prune under predicates on EITHER — the liquid
    * clustering promise. The rewrite reshapes storage only
    * (`dataChange=false`); the routing is one value-derived column, so
    * the layout is DETERMINISTIC for a fixed corpus regardless of
    * input partitioning. Returns (filesBefore, filesAfter). */
  def optimizeClustered(spark: SparkSession, base: String,
                        zBuckets: Int = 16): (Int, Int) = {
    import org.apache.spark.sql.functions.{expr, shiftleft, shiftrightunsigned}
    val ctx = dmlCtx(spark, base)
    val ccols = ctx.snap.clusteringColumns
    require(ccols.nonEmpty && ccols.size <= 4,
      s"$base declares ${ccols.size} clustering columns; this writer z-orders 1..4")
    val live = ctx.live
    // the unified scan composes the features: DVs applied (the packed
    // files materialize the deletes), row ids materialized (the
    // rewrite preserves them), logical names (clustering columns are
    // declared logical), hive partition values recovered (clustering
    // runs WITHIN partitions, the classic OPTIMIZE ZORDER BY shape)
    val df0 = dmlScanAll(spark, ctx).drop("__path")
    val n = ccols.size
    val aggs = ccols.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).cast("long"),
      org.apache.spark.sql.functions.max(col(c)).cast("long")))
    val mm = df0.agg(aggs.head, aggs.tail: _*).head()
    def cell(c: String, lo: Long, hi: Long) =
      expr(s"((`$c` - $lo) * 8) div ${math.max(1L, hi - lo + 1)}")
    val cellsOf = ccols.zipWithIndex.map { case (c, j) =>
      cell(c, mm.getLong(2 * j), mm.getLong(2 * j + 1))
    }
    // interleave the 3-bit cell ids: column j's bit i lands at i*n + j
    // (for 2 columns this is exactly the historic 2i / 2i+1 layout)
    val z = (0 until 3).flatMap { i =>
      cellsOf.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ bitwiseOR _)
    val totalBits = 3 * n
    require(zBuckets > 0 && Integer.bitCount(zBuckets) == 1 &&
      Integer.numberOfTrailingZeros(zBuckets) <= totalBits,
      s"zBuckets must be a power of two <= 2^$totalBits, got $zBuckets")
    val shift = totalBits - Integer.numberOfTrailingZeros(zBuckets)
    val next = ctx.version + 1
    // one write task per occupied (partition, z-bucket) cell; flat
    // tables are the zero-partition case (flat deterministic names)
    val staged = toPhysical(df0.withColumn("__zb", shiftrightunsigned(z, shift)),
      ctx.colMap)
    val stageCols = ctx.physPcols :+ "__zb"
    val rels = Stage(base)(staged.repartition(stageCols.map(col): _*)
      .write.partitionBy(stageCols: _*).parquet(_)) { leaves =>
      Stage.cells(leaves).map(l =>
        Stage.move(l, base, s"${l.prefix("__zb")}v$next-zb${l.value("__zb")}.parquet"))
    }.sorted
    val (adds, domainBump) = addsTracked(ctx.snap, rels, ccols.map(physOf(ctx.colMap, _)),
      next, dataChange = false)
    commit(base, next, (commitInfo("OPTIMIZE") +: domainBump) ++
      live.map(a => removeAction(a.path, dataChange = false)) ++ adds)
    (live.size, rels.size)
  }

  /** Create a ROW-TRACKED Delta table (the `rowTracking` +
    * `domainMetadata` writer features): every add action carries
    * `baseRowId` (a fresh contiguous id range per file) and
    * `defaultRowCommitVersion`, the metadata names the MATERIALIZED
    * column spellings rewrites must use, and the
    * `delta.rowTracking` domain records the id high-water mark —
    * [[DeltaLogReader.readRowIds]] surfaces `_row_id` /
    * `_row_commit_version` per the spec's base+position rule. */
  def createRowTracked(spark: SparkSession, df: DataFrame, base: String,
                       tableId: String, statsFor: Seq[String] = Nil): Unit = {
    TxnLog.rmrf(base)
    val rels = writeData(df, base, 0L)
    val (adds, total) = addActionsCounted(base, rels, statsFor, Some((0L, 0L)))
    commit(base, 0L, Seq(
      Protocol(1, 7, Nil, Seq("domainMetadata", "rowTracking")).json,
      MetaData(tableId, df.schema.json, Nil, RowTrackingConf).json,
      rowTrackingDomain(total - 1)) ++ adds)
  }

  /** ALTER TABLE ADD CONSTRAINT (CHECK): a metaData-only commit whose
    * configuration carries `delta.constraints.<name>` and whose
    * protocol bumps minWriterVersion to 3 (the spec's constraint
    * writer version — feature-blind writers must not append
    * unvalidated rows). Existing rows must already satisfy it. */
  def addConstraint(spark: SparkSession, base: String,
                    name: String, expr: String): Unit = {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val snap = DeltaLogReader.snapshot(spark, base)
    // the validation reads through the LOGICAL view, so the CHECK
    // expression binds the user's spelling on a column-mapped table too
    val bad = DeltaLogReader.read(spark, snap)
      .filter(!sqlExpr(expr).eqNullSafe(true)).count()
    require(bad == 0L, s"$bad existing rows violate CHECK ($expr) — constraint not added")
    val meta = snap.metaData
    // never DOWNGRADE the protocol: legacy tables bump minWriter to 3
    // (the constraints writer version); table-features tables add the
    // checkConstraints writer feature instead
    val p = snap.protocol
    val proto =
      if (p.minWriterVersion >= 7) p.copy(readerFeatures = p.readerFeatures.distinct.sorted,
        writerFeatures = (p.writerFeatures :+ "checkConstraints").distinct.sorted)
      else Protocol(p.minReaderVersion, math.max(p.minWriterVersion, 3))
    // PRESERVE the whole configuration (column mapping, row tracking) —
    // a metaData rewrite that kept only the constraints would sever
    // every other feature: Delta metaData replaces wholesale
    commit(base, snap.version + 1, Seq(commitInfo("ADD CONSTRAINT"), proto.json,
      meta.copy(configuration = meta.configuration + (s"delta.constraints.$name" -> expr)).json))
  }

  /** Append-only commit: the table's next version adds `df`'s rows.
    * Partitioning follows the table's declared partitionColumns.
    * Declared CHECK constraints are validated BEFORE any data is
    * staged — a violating batch aborts the whole transaction with
    * nothing on disk, the spec's writer obligation. */
  def append(spark: SparkSession, df: DataFrame, base: String,
             statsFor: Seq[String] = Nil): Unit =
    appendWith(df, DeltaLogReader.snapshot(spark, base), statsFor, Nil, "WRITE")

  /** The shared append body ([[append]] + [[appendIfAbsent]]'s written
    * branch): constraints validated first (the batch binds LOGICAL
    * names), the data staged under PHYSICAL names and partition dirs on
    * a mapped table, fresh row-id ranges + the domain bump on a
    * row-tracked one. */
  private def appendWith(df0: DataFrame, snap: Snapshot,
                         statsFor: Seq[String], extraActions: Seq[String],
                         operation: String, identityAssigned: Boolean = false): Unit = {
    val base = snap.base
    val version = snap.version + 1
    // GENERATED columns first (a CHECK may reference one): absent →
    // computed, provided → validated row-by-row before anything stages
    val df = applyGenerated(df0, snap)
    snap.identityColumn.foreach { idf =>
      require(identityAssigned,
        s"$base declares IDENTITY column ${idf.name} with allowExplicitInsert=false — " +
          "use appendIdentity, which assigns ids above the high-water mark")
    }
    snap.constraints.foreach { case (name, e) =>
      import org.apache.spark.sql.functions.{expr => sqlExpr}
      val bad = df.filter(!sqlExpr(e).eqNullSafe(true)).count()
      require(bad == 0L,
        s"append violates CHECK constraint $name ($e) on $bad rows — transaction aborted")
    }
    val colMap = snap.physicalNames
    val rels = writeData(stampFieldIds(toPhysical(df, colMap), snap), base, version,
      snap.partitionColumns.map(physOf(colMap, _)))
    val (adds, domainBump) = addsTracked(snap, rels, statsFor.map(physOf(colMap, _)), version)
    commit(base, version, (commitInfo(operation) +: domainBump) ++ extraActions ++ adds)
  }

  /** Schema-evolving append (ADD COLUMN + write in one commit, the
    * mergeSchema write): `df`'s schema must be a SUPERSET of the
    * table's current columns (same names may widen nullability only);
    * the commit carries a new metaData with the union schema, and
    * every earlier file's rows surface the new columns as NULL under
    * the log-enforced read — no old file is rewritten (the evolution
    * economics at 100 TB). */
  def appendEvolved(spark: SparkSession, df: DataFrame, base: String,
                    statsFor: Seq[String] = Nil): Unit = {
    val snap = DeltaLogReader.snapshot(spark, base)
    val version = snap.version + 1
    require(snap.mappedSchema.isEmpty,
      "schema-evolving append on a column-mapped table is beyond this " +
        "minimal writer — new columns would need fresh physical ids")
    val pcols = snap.partitionColumns
    require(pcols.forall(df.columns.contains),
      s"evolved schema drops a partition column (${pcols.mkString(",")})")
    snap.schema.foreach { cur =>
      cur.fields.foreach { f =>
        val g = df.schema.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"evolved schema drops column ${f.name} — only ADD COLUMN is supported"))
        require(g.dataType == f.dataType,
          s"evolved schema changes ${f.name}: ${f.dataType} -> ${g.dataType}")
      }
    }
    val rels = writeData(df, base, version, pcols)
    // the new metaData must CARRY the existing configuration — Delta
    // replaces metadata wholesale, so an empty map here would sever row
    // tracking and declared constraints; row tracking survives the
    // evolution (fresh id ranges, the mark bumped in the same commit)
    val (adds, domainBump) = addsTracked(snap, rels, statsFor, version)
    commit(base, version, Seq(commitInfo("WRITE"),
      snap.metaData.copy(schemaString = df.schema.json).json) ++ domainBump ++ adds)
  }

  /** Create a COLUMN-MAPPED table (mode=name): parquet files carry
    * deterministic PHYSICAL names (`col-<id>`), the logical schema
    * lives only in the log — each field's metadata records its
    * `delta.columnMapping.physicalName`/`id`, the configuration sets
    * the mode, and the protocol is minReader 2 / minWriter 5 (the
    * column-mapping protocol). This is what any table that ever ran
    * ALTER TABLE RENAME COLUMN looks like. */
  def createColumnMapped(spark: SparkSession, df: DataFrame, base: String,
                         tableId: String): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    TxnLog.rmrf(base)
    val phys = df.schema.fields.zipWithIndex.map { case (f, i) => f.name -> s"col-${i + 1}" }
    val physDf = phys.foldLeft(df) { case (d, (l, p)) => d.withColumnRenamed(l, p) }
    // name-mode files embed field ids too (the spec requires them in
    // BOTH modes) — what the DSv2 front door's field-id scan binds by;
    // writeData flips the writer conf scoped to the staging write
    val rels = writeData(
      stampIds(physDf, phys.zipWithIndex.map { case ((_, p), i) => p -> (i + 1L) }.toMap),
      base, 0L)
    val logical = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", s"col-${i + 1}")
        .build())
    })
    commit(base, 0L, Seq(Protocol(2, 5).json,
      MetaData(tableId, logical.json, Nil, Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> phys.length.toString)).json) ++
      addActions(base, rels))
  }

  /** Create a COLUMN-MAPPED table in `mode=id` (the OTHER common
    * variant next to mode=name): parquet columns are matched by the
    * PARQUET FIELD ID each file embeds (`parquet.field.id` metadata,
    * which Spark writes from schema-field metadata), not by name — the
    * physical column names are immaterial, so this survives renames AND
    * engines that rewrite names. The log's logical schema carries
    * `delta.columnMapping.id` per field; the reader binds by id via
    * Spark's own field-id resolution. */
  def createColumnMappedId(spark: SparkSession, df: DataFrame, base: String,
                           tableId: String): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    TxnLog.rmrf(base)
    // physical frame: arbitrary physical names, each column stamped
    // with its parquet field id so the files embed them (writeData
    // flips the writer conf scoped to the staging write)
    val physCols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      col(f.name).as(s"pcol_${i + 1}", new MetadataBuilder()
        .putLong("parquet.field.id", i + 1L).build())
    }
    val rels = writeData(df.select(physCols.toIndexedSeq: _*), base, 0L)
    val logical = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", s"pcol_${i + 1}")
        .build())
    })
    commit(base, 0L, Seq(Protocol(2, 5).json,
      MetaData(tableId, logical.json, Nil, Map("delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> df.schema.fields.length.toString)).json) ++
      addActions(base, rels))
  }

  /** Enforce the GENERATED-column contract on an incoming batch — the
    * spec's writer obligation: a declared column ABSENT from the batch
    * is computed from its expression; one PROVIDED must satisfy the
    * expression on every row (NULL-safe — a divergent batch aborts
    * with nothing staged). Expressions bind LOGICAL names, so this
    * runs before any physical rename. */
  private def applyGenerated(df: DataFrame, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    snap.generatedColumns.foldLeft(df) { (d, f) =>
      val e = f.metadata.getString("delta.generationExpression")
      if (!d.columns.contains(f.name)) d.withColumn(f.name, sqlExpr(e))
      else {
        val bad = d.filter(!col(f.name).eqNullSafe(sqlExpr(e))).count()
        require(bad == 0L,
          s"batch provides generated column ${f.name} but $bad rows violate " +
            s"its expression ($e) — transaction aborted")
        d
      }
    }
  }

  /** Create a table with GENERATED columns (writer feature
    * `generatedColumns`): each (name, sqlExpr) pair declares `name` as
    * ALWAYS computed from the row, recorded as the spec's
    * `delta.generationExpression` field metadata. The contract is a
    * WRITER obligation — [[append]]/[[overwrite]] compute a missing
    * generated column and validate a provided one — while readers stay
    * oblivious: values are materialized in the files like any other
    * column, so the expression never runs at 100 TB scan scale and the
    * columns are usable for stats-based skipping like any other. `df`
    * provides the SOURCE columns only; the generated ones are computed
    * here. */
  def createGenerated(spark: SparkSession, df: DataFrame, base: String, tableId: String,
                      genExprs: Seq[(String, String)],
                      partitionBy: Seq[String] = Nil,
                      statsFor: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    require(genExprs.nonEmpty, "createGenerated with no generated columns")
    genExprs.foreach { case (n, _) =>
      require(!df.columns.contains(n),
        s"generated column $n is computed at create — do not provide it")
    }
    val full = genExprs.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, sqlExpr(e)) }
    val exprOf = genExprs.toMap
    val schema = StructType(full.schema.fields.map { f =>
      exprOf.get(f.name) match {
        case Some(e) => StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putString("delta.generationExpression", e).build())
        case None => f
      }
    })
    TxnLog.rmrf(base)
    val rels = writeData(full, base, 0L, partitionBy)
    commit(base, 0L, Seq(Protocol(1, 7, Nil, Seq("generatedColumns")).json,
      MetaData(tableId, schema.json, partitionBy).json) ++
      addActions(base, rels, statsFor))
  }

  /** Assign `idCol` = nextVal, nextVal+step, … over the TOTAL order
    * given by `orderBy` — distributed via [[graft.plans.ShardedRank]]
    * (one range shuffle + per-shard numbering; no corpus-scale window),
    * so the assignment is deterministic for a fixed corpus regardless
    * of input partitioning. */
  private def assignIdentity(df: DataFrame, idCol: String, nextVal: Long, step: Long,
                             orderBy: Seq[String]): DataFrame = {
    require(orderBy.nonEmpty && orderBy.forall(df.columns.contains),
      "identity assignment needs a total order over existing columns")
    graft.plans.ShardedRank.withRowNumber(df, "__rn", "__n", orderBy.map(col): _*)
      .withColumn(idCol, (lit(nextVal) + lit(step) * (col("__rn") - 1L)).cast("long"))
      .drop("__rn", "__n")
  }

  /** Create a table with an IDENTITY column (writer feature
    * `identityColumns`): `idCol` is writer-assigned from `start` by
    * `step` with `allowExplicitInsert=false`, and the spec's
    * high-water mark rides the field metadata in `schemaString` — each
    * identity append replaces the metaData with the bumped mark, so
    * ids are never reused even across failures. `orderBy` fixes the
    * assignment order (a unique key makes it deterministic); real
    * Delta assigns nondeterministically, which is spec-legal but
    * unreproducible — determinism here is strictly stronger. */
  def createIdentity(spark: SparkSession, df: DataFrame, base: String, tableId: String,
                     idCol: String, start: Long, step: Long,
                     orderBy: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    require(step != 0L, "identity step must be non-zero")
    require(!df.columns.contains(idCol),
      s"identity column $idCol is writer-assigned — do not provide it")
    val n = df.count()
    require(n > 0, "createIdentity with an empty frame")
    val withIds = assignIdentity(df, idCol, start, step, orderBy)
    val hwm = start + step * (n - 1)
    val schema = StructType(withIds.schema.fields.map(f =>
      if (f.name == idCol) StructField(f.name, f.dataType, nullable = false,
        new MetadataBuilder()
          .putLong("delta.identity.start", start)
          .putLong("delta.identity.step", step)
          .putLong("delta.identity.highWaterMark", hwm)
          .putBoolean("delta.identity.allowExplicitInsert", false).build())
      else f))
    TxnLog.rmrf(base)
    val rels = writeData(withIds, base, 0L)
    commit(base, 0L, Seq(Protocol(1, 7, Nil, Seq("identityColumns")).json,
      MetaData(tableId, schema.json).json) ++
      addActions(base, rels))
    graft.plans.ShardedRank.flush()
  }

  /** Append to an IDENTITY table: ids continue ABOVE the high-water
    * mark (never reused, even after deletes), assigned over `orderBy`,
    * and the SAME commit replaces the metaData with the bumped mark —
    * crash between data and commit leaves the mark untouched, so a
    * retry reassigns cleanly. `df` must NOT carry the identity column
    * (`allowExplicitInsert=false`). */
  def appendIdentity(spark: SparkSession, df: DataFrame, base: String,
                     orderBy: Seq[String], statsFor: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val snap = DeltaLogReader.snapshot(spark, base)
    val idf = snap.identityColumn.getOrElse(
      throw new IllegalArgumentException(s"$base declares no identity column — use append"))
    require(!df.columns.contains(idf.name),
      s"identity column ${idf.name} is writer-assigned (allowExplicitInsert=false)")
    val step = idf.metadata.getLong("delta.identity.step")
    val hwm = idf.metadata.getLong("delta.identity.highWaterMark")
    val n = df.count()
    require(n > 0, "empty identity append")
    val withIds = assignIdentity(df, idf.name, hwm + step, step, orderBy)
    val schema = StructType(snap.schema.get.fields.map(f =>
      if (f.name == idf.name) StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", hwm + step * n).build())
      else f))
    appendWith(withIds, snap, statsFor,
      Seq(snap.metaData.copy(schemaString = schema.json).json),
      "WRITE", identityAssigned = true)
    // the id-assignment write is done — release ShardedRank's pinned
    // range exchange (executor storage) now rather than at driver GC
    graft.plans.ShardedRank.flush()
  }

  /** ALTER TABLE ADD COLUMN — metadata-only: the new nullable field
    * joins the schema, NOT ONE file is touched, and every
    * log-schema-enforced scan surfaces it as NULL in files that
    * predate it (the same read path `appendEvolved` relies on — this
    * is the add-column HALF of that op, for when there is no data to
    * write yet). On a COLUMN-MAPPED table (either mode) the new field
    * is minted a FRESH physical id above `delta.columnMapping.
    * maxColumnId` (the spec's id-allocation contract — ids are never
    * reused, so a dropped-and-re-added name can never resurrect old
    * data) and the same commit bumps the mark; files that predate the
    * column surface it as NULL through the physical-schema /
    * ignoreMissing scan paths. */
  def addColumn(spark: SparkSession, base: String, column: String,
                dataType: String): Unit = {
    import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField, StructType}
    val snap = DeltaLogReader.snapshot(spark, base)
    val schema0 = snap.schema.getOrElse(
      throw new IllegalStateException(s"$base declares no schema"))
    require(!schema0.fieldNames.contains(column), s"column $column already exists")
    val conf0 = snap.configuration
    val (newField, conf1) = snap.mappedSchema match {
      case None =>
        (StructField(column, DataType.fromDDL(dataType), nullable = true), conf0)
      case Some(_) =>
        val maxId = conf0.get("delta.columnMapping.maxColumnId").map(_.toLong)
          .getOrElse(schema0.fields
            .map(_.metadata.getLong("delta.columnMapping.id")).max)
        val id = maxId + 1
        (StructField(column, DataType.fromDDL(dataType), nullable = true,
          new MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", s"col-$id")
            .build()),
          conf0 + ("delta.columnMapping.maxColumnId" -> id.toString))
    }
    val widened = StructType(schema0.fields :+ newField)
    commit(base, snap.version + 1, Seq(commitInfo("ADD COLUMNS"),
      snap.metaData.copy(schemaString = widened.json, configuration = conf1).json))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only, and the reason Delta
    * REQUIRES column mapping for it: the dropped field's physical
    * column keeps its bytes in every file, but its logical name and
    * physical id retire together — a later ADD COLUMN with the SAME
    * name mints a FRESH physical id ([[addColumn]]'s maxColumnId
    * allocation), so old values can never silently resurrect. On an
    * UNMAPPED table the same drop would leave re-addition bound to the
    * old bytes — refused. Partition columns cannot drop. */
  def dropColumn(spark: SparkSession, base: String, column: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val snap = DeltaLogReader.snapshot(spark, base)
    require(snap.mappedSchema.isDefined,
      s"DROP COLUMN requires column mapping (re-adding '$column' on an " +
        "unmapped table would resurrect the old bytes) — RENAME COLUMN " +
        "first to enable mapping, or rewrite via overwrite")
    val schema0 = snap.schema.getOrElse(
      throw new IllegalStateException(s"$base declares no schema"))
    require(schema0.fieldNames.contains(column), s"no column $column to drop")
    require(schema0.fields.length > 1, "cannot drop the last column")
    require(!snap.partitionColumns.contains(column), s"$column is a partition column")
    val dropped = StructType(schema0.fields.filterNot(_.name == column))
    val conf0 = snap.configuration
    // pin maxColumnId at the EVER-USED max before the field leaves the
    // schema: addColumn's fallback derives from the visible fields, and
    // a post-drop fallback below the dropped id would re-mint it —
    // exactly the resurrection the feature exists to prevent
    val everMax = math.max(
      conf0.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L),
      schema0.fields.map(_.metadata.getLong("delta.columnMapping.id")).max)
    val conf1 = conf0 + ("delta.columnMapping.maxColumnId" -> everMax.toString)
    commit(base, snap.version + 1, Seq(commitInfo("DROP COLUMNS"),
      snap.metaData.copy(schemaString = dropped.json, configuration = conf1).json))
  }

  /** The spec's legal widening promotions — lossless by construction
    * (every value of the narrow type is exactly representable in the
    * wide one), which is what makes the metadata-only commit sound:
    * old files keep their narrow physical type and the scan upcasts. */
  private val Widenings: Set[(String, String)] = Set(
    "byte" -> "short", "byte" -> "integer", "byte" -> "long",
    "short" -> "integer", "short" -> "long",
    "integer" -> "long",
    "byte" -> "double", "short" -> "double", "integer" -> "double",
    "float" -> "double",
    "date" -> "timestamp_ntz")

  /** ALTER COLUMN TYPE — Delta TYPE WIDENING (reader+writer feature
    * `typeWidening`): a METADATA-ONLY commit changes the declared type
    * to a strictly wider one and records the change in the field's
    * `delta.typeChanges` metadata (the spec's audit trail). NOT ONE
    * data byte moves — existing files keep their narrow parquet type
    * and every log-schema-enforced scan upcasts them natively
    * (int32→int64, int→double, date→ts_ntz are all in Spark's parquet
    * reader); post-widening appends write the wide type directly. On a
    * 100 TB table this is the difference between an instant and a full
    * rewrite when a key outgrows INT. Narrowing and lossy changes
    * refuse. Column-mapped tables widen too: both mapped scan paths
    * request the LOGICAL type (mode=name via the physical-schema
    * read, mode=id via the field-id requested schema), so old narrow
    * files upcast natively and the field's mapping metadata rides the
    * widened schema untouched. */
  def widenColumnType(spark: SparkSession, base: String, column: String,
                      toType: String): Unit = {
    import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField, StructType}
    val snap = DeltaLogReader.snapshot(spark, base)
    val version = snap.version
    // COLUMN-MAPPED tables widen too: both scan paths request the
    // LOGICAL type (mode=name via the physical-schema read, mode=id
    // via the field-id requested schema), so old narrow files upcast
    // natively — the field's mapping metadata rides the widened
    // schema untouched.
    val schema0 = snap.schema.getOrElse(
      throw new IllegalStateException(s"$base declares no schema"))
    val f = schema0.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column to widen"))
    val to = DataType.fromDDL(toType)
    val pair = (f.dataType.typeName, to.typeName)
    require(Widenings.contains(pair),
      s"$column: ${f.dataType.typeName} -> ${to.typeName} is not a lossless " +
        s"widening (legal: ${Widenings.toSeq.sorted.mkString(", ")})")
    // the spec's typeChanges audit entry, appended to any prior ones
    val prior = if (f.metadata.contains("delta.typeChanges"))
      f.metadata.getString("delta.typeChanges").stripSuffix("]") + "," else "["
    val changes = prior +
      s"""{"fromType":"${f.dataType.typeName}","toType":"${to.typeName}",""" +
      s""""tableVersion":${version + 1}}]"""
    val widened = StructType(schema0.fields.map(g =>
      if (g.name == column)
        StructField(g.name, to, g.nullable, new MetadataBuilder()
          .withMetadata(g.metadata).putString("delta.typeChanges", changes).build())
      else g))
    // typeWidening is a READER feature too (a feature-blind reader
    // would type old files from their footers); date→ts_ntz also needs
    // the timestampNtz feature
    val extra = Seq("typeWidening") ++
      (if (to.typeName == "timestamp_ntz") Seq("timestampNtz") else Nil)
    commit(base, version + 1, Seq(commitInfo("CHANGE COLUMN"),
      snap.protocol.withFeatures(extra).json,
      snap.metaData.copy(schemaString = widened.json).json))
  }

  /** INSERT OVERWRITE — replace the table's entire live content with
    * `df` in ONE commit: removes of every live file + adds of the new
    * data. The log keeps every prior version (this is NOT a create —
    * time travel still works), CHECK constraints and generated columns
    * are enforced like [[append]], column mapping stages under
    * physical names with field ids, and a row-tracked table hands the
    * new rows fresh ids above the high-water mark. No `_change_data`
    * is staged — at 100 TB an overwrite must not write its data twice;
    * CDF derives full-delete + full-insert from the remove/add actions
    * themselves. CDF derives
    * full-delete + full-insert from the remove/add actions themselves,
    * with removed files read UNDER their prior-version DV masks
    * (readChanges' masked pre-image derivation), so live-DV + CDF overwrites
    * never over-report. */
  def overwrite(spark: SparkSession, df0: DataFrame, base: String,
                statsFor: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val ctx = dmlCtx(spark, base)
    ctx.snap.identityColumn.foreach { idf =>
      throw new IllegalArgumentException(
        s"overwrite would reassign identity column ${idf.name} on $base — " +
          "deleteWhere + appendIdentity keeps the id contract")
    }
    // CDF over DV-carrying files needs no refusal and no double-write:
    // readChanges derives the overwrite's delete pre-images from the
    // removed files UNDER their prior-version DV masks,
    // so masked rows never over-report as deletes
    val df = applyGenerated(df0, ctx.snap)
    ctx.snap.constraints.foreach { case (name, e) =>
      val bad = df.filter(!sqlExpr(e).eqNullSafe(true)).count()
      require(bad == 0L,
        s"overwrite violates CHECK constraint $name ($e) on $bad rows — aborted")
    }
    val version = ctx.version + 1
    val rels = writeData(stampFieldIds(toPhysical(df, ctx.colMap), ctx.snap),
      base, version, ctx.physPcols)
    val (adds, domainBump) =
      addsTracked(ctx.snap, rels, statsFor.map(physOf(ctx.colMap, _)), version)
    commit(base, version, (commitInfo("WRITE") +: domainBump) ++
      ctx.live.map(a => removeAction(a.path, dataChange = true)) ++ adds)
  }

  /** Create a table with ANY combination of the composable features —
    * hive partitioning, liquid clustering (layout domain), column
    * mapping (mode=name physical names), row tracking (stable ids) —
    * the shape a MODERN production Delta table actually has, with all
    * of them on together. Partition dirs use PHYSICAL names on a
    * mapped table (the spec keys partitionValues physically);
    * `partitionBy`/`clusterCols`/`statsFor` are given in LOGICAL
    * names. Every DML/OPTIMIZE/RESTORE op composes over the result
    * through the unified scan/write pair. */
  def createComposed(spark: SparkSession, df: DataFrame, base: String, tableId: String,
                     partitionBy: Seq[String] = Nil,
                     clusterCols: Seq[String] = Nil,
                     columnMapped: Boolean = false,
                     rowTracked: Boolean = false,
                     statsFor: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    require((partitionBy ++ clusterCols ++ statsFor).forall(df.columns.contains),
      "partitionBy/clusterCols/statsFor must all exist in the data")
    require(partitionBy.intersect(clusterCols).isEmpty,
      "a column cannot be both a partition and a clustering column")
    require(clusterCols.size <= 4, "this writer z-orders 1..4 clustering columns")
    TxnLog.rmrf(base)
    val phys: Option[Seq[(String, String)]] =
      if (!columnMapped) None
      else Some(df.schema.fields.zipWithIndex.toSeq
        .map { case (f, i) => f.name -> s"col-${i + 1}" })
    val physDf = toPhysical(df, phys)
    val physPcols = partitionBy.map(physOf(phys, _))
    val stamped = phys match {
      case None => physDf
      case Some(m) =>
        // mapped files embed field ids (spec requirement in both
        // modes); writeData flips the writer conf scoped to the write
        stampIds(physDf, m.zipWithIndex.map { case ((_, p), i) => p -> (i + 1L) }.toMap)
    }
    val rels = writeData(stamped, base, 0L, physPcols)
    val schemaJson = phys match {
      case None => df.schema.json
      case Some(m) =>
        StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
          StructField(f.name, f.dataType, f.nullable, new MetadataBuilder()
            .putLong("delta.columnMapping.id", i + 1L)
            .putString("delta.columnMapping.physicalName", m(i)._2)
            .build())
        }).json
    }
    val conf =
      (if (!columnMapped) Map.empty[String, String]
       else Map("delta.columnMapping.mode" -> "name",
         "delta.columnMapping.maxColumnId" -> df.schema.fields.length.toString)) ++
      (if (!rowTracked) Map.empty[String, String] else RowTrackingConf)
    val writerFeats = (
      (if (columnMapped) Seq("columnMapping") else Nil) ++
      (if (rowTracked) Seq("rowTracking", "domainMetadata") else Nil) ++
      (if (clusterCols.nonEmpty) Seq("clustering", "domainMetadata") else Nil)
    ).distinct.sorted
    val proto = Protocol(if (columnMapped) 2 else 1,
      if (writerFeats.nonEmpty) 7 else if (columnMapped) 5 else 2, Nil, writerFeats)
    val head = Seq(proto.json, MetaData(tableId, schemaJson, partitionBy, conf).json) ++
      (if (clusterCols.isEmpty) Nil else Seq(clusteringDomain(clusterCols)))
    val (adds, total) = addActionsCounted(base, rels, statsFor.map(physOf(phys, _)),
      if (rowTracked) Some((0L, 0L)) else None)
    commit(base, 0L, head ++ (if (rowTracked) Seq(rowTrackingDomain(total - 1)) else Nil) ++ adds)
  }

  /** ALTER TABLE RENAME COLUMN on a column-mapped table: a
    * metaData-ONLY commit — the logical field name changes, the
    * physicalName stays, and NOT ONE data byte moves (the reason the
    * feature exists; on a 100 TB table this is the difference between
    * an instant and a rewrite). */
  def renameColumn(spark: SparkSession, base: String, from: String, to: String): Unit = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val snap = DeltaLogReader.snapshot(spark, base)
    val logical = snap.mappedSchema.getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn on $base, which is not column-mapped — a rename " +
          "would strand the parquet column names"))
    require(logical.fieldNames.contains(from), s"no column $from to rename")
    require(!logical.fieldNames.contains(to), s"column $to already exists")
    val renamed = StructType(logical.fields.map(f =>
      if (f.name == from) StructField(to, f.dataType, f.nullable, f.metadata) else f))
    // carry the WHOLE configuration and the partitionColumns (renamed
    // if the column IS one): Delta metaData replaces wholesale — the
    // old spelling here would sever row tracking, constraints, or the
    // table's partitioning
    val meta = snap.metaData
    commit(base, snap.version + 1, Seq(commitInfo("RENAME COLUMN"),
      meta.copy(schemaString = renamed.json,
        partitionColumns = meta.partitionColumns.map(c => if (c == from) to else c)).json))
  }

  /** Idempotent streaming append — the spec's `txn` (SetTransaction)
    * protocol, exactly what Delta's own streaming sink rides: every
    * commit carries `{"txn":{"appId","version"}}` with the micro-batch
    * id, and a redelivered batch is SKIPPED when the log already holds
    * a txn for this appId at or beyond it. The TABLE is the source of
    * truth, not the engine's checkpoint — at-least-once delivery +
    * this marker = exactly-once at the sink. Creates the table on the
    * first batch. Returns true when the batch was written. */
  def appendIfAbsent(spark: SparkSession, df: DataFrame, base: String,
                     appId: String, batchId: Long): Boolean = {
    val snap =
      if (Files.isDirectory(Paths.get(base, "_delta_log")) && DeltaLogReader.versions(base).nonEmpty)
        Some(DeltaLogReader.snapshot(spark, base))
      else None
    if (snap.exists(_.txns.get(appId).exists(_ >= batchId))) return false
    val txn = s"""{"txn":{"appId":"${esc(appId)}","version":$batchId,"lastUpdated":0}}"""
    if (df.isEmpty) {
      // an empty batch still advances the watermark (txn-only commit);
      // it cannot CREATE a table — there is no schema to declare yet
      snap.foreach(st => commit(base, st.version + 1, Seq(txn)))
      return snap.isDefined
    }
    snap match {
      case None =>
        TxnLog.rmrf(base)
        val rels = writeData(df, base, 0L)
        commit(base, 0L, Seq(Protocol(1, 2).json, MetaData(appId, df.schema.json).json, txn) ++
          addActions(base, rels))
      case Some(st) =>
        // the shared append body composes the features (row tracking's
        // fresh id ranges, column mapping's physical staging) — the txn
        // marker rides the same commit, keeping exactly-once intact
        appendWith(df, st, Nil, Seq(txn), "STREAMING UPDATE")
    }
    true
  }

  /** OPTIMIZE: bin-pack the current live files into
    * `ceil(liveBytes / targetBytes)` compacted files and commit the
    * rewrite as one version whose add AND remove actions all carry
    * `dataChange=false` — the spec's marker that the commit reshapes
    * storage without changing table content, which is what lets a
    * streaming consumer of the log skip it. Time travel to any prior
    * version keeps working (removes only drop paths from the live set;
    * the old part files stay on disk until VACUUM).
    *
    * The rewrite itself is the ordinary distributed read of just the
    * live files followed by a repartition to the packed file count —
    * at cluster scale this is the standard small-file compaction job,
    * and only the KB-scale commit JSON is driver-side. Returns the
    * (filesBefore, filesAfter) census so callers can report it. */
  def optimize(spark: SparkSession, base: String,
               targetBytes: Long = 128L << 20): (Int, Int) = {
    val snap = DeltaLogReader.snapshot(spark, base)
    val live = snap.adds
    // partition dirs are independent pack domains (a file can only
    // merge with files of its own partition values) — bin-pack each
    // partition's live set separately and commit every rewrite in ONE
    // version. Non-partitioned tables are the single-domain case.
    val domains: Seq[(String, Seq[DeltaAdd])] =
      if (snap.partitionColumns.isEmpty) Seq(("", live))
      else live.groupBy(a => a.path.take(a.path.lastIndexOf('/') + 1)).toSeq.sortBy(_._1)
    val next = snap.version + 1
    // ROW TRACKING: a rewrite would reassign base+position ids, so the
    // packed files must MATERIALIZE each row's id and commit version
    // into the configured physical columns BEFORE the shuffle scrambles
    // positions — reads then prefer the materialized values.
    // DELETION VECTORS: the pack read applies each file's mask (the
    // packed files materialize the deletes and carry no DV — content
    // identical, so dataChange=false still holds).
    def domainRead(files: Seq[DeltaAdd]): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce}
      val masks = DeltaLogReader.dvMasks(spark, base, files)
      snap.rowTrackingCols match {
        case None =>
          LakeScan.mask(spark, DeltaLogReader.scan(spark, base, files, None, partitioned = false),
            masks)
        case Some((matId, matVer)) =>
          val raw = DeltaLogReader.scan(spark, base, files, None, partitioned = false,
            mergeSchema = true)
          val meta = files.map(a => (
            LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)),
            a.baseRowId.map(java.lang.Long.valueOf).orNull,
            a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull))
          val metaDf = spark.createDataFrame(meta).toDF("__rt_path", "__rt_base", "__rt_ver")
          def matCol(c: String) = if (raw.columns.contains(c)) col(c) else lit(null)
          val userCols = raw.columns.filterNot(c => c == matId || c == matVer).map(col).toSeq
          val stamped = raw
            .withColumn("__path", col("_metadata.file_path"))
            .withColumn("__pos", col("_metadata.row_index"))
          stamped.filter(LakeScan.unmasked(spark, masks, col("__path"), col("__pos")))
            .join(broadcast(metaDf), col("__path") === col("__rt_path"))
            .select(userCols ++ Seq(
              coalesce(matCol(matId), col("__rt_base") + col("__pos"))
                .cast("long").as(matId),
              coalesce(matCol(matVer), col("__rt_ver")).cast("long").as(matVer)): _*)
      }
    }
    val packed = domains.flatMap { case (prefix, files) =>
      val bytes = files.map(_.size).sum
      val numOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (numOut >= files.size) None // this domain is already packed
      else {
        // stage the packed rewrite, then move parts under the SAME
        // partition dir — partition values live in the path (and the
        // add's partitionValues derive from it)
        val rels = Stage(base)(domainRead(files).repartition(numOut).write.parquet(_)) {
          _.map(l => Stage.move(l, base, s"${prefix}v$next-${l.name}"))
        }
        Some((files, rels))
      }
    }
    if (packed.isEmpty) return (live.size, live.size) // nothing to pack
    // on a row-tracked table the NEW files still get fresh baseRowIds
    // (the spec: every add carries one) — reads prefer the materialized
    // columns, and the high-water mark bumps past the fresh range
    val (adds, domainBump) =
      addsTracked(snap, packed.flatMap(_._2), Nil, next, dataChange = false)
    commit(base, next, (commitInfo("OPTIMIZE") +: domainBump) ++
      packed.flatMap(_._1).map(a => removeAction(a.path, dataChange = false)) ++ adds)
    val rewrittenBefore = packed.map(_._1.size).sum
    val rewrittenAfter = packed.map(_._2.size).sum
    (live.size, live.size - rewrittenBefore + rewrittenAfter)
  }

  /** REORG TABLE ... APPLY (PURGE): MATERIALIZE the deletion vectors —
    * rewrite ONLY the DV-carrying files with their masks applied and
    * drop the descriptors. Content is IDENTICAL, so the commit is
    * `dataChange=false` (CDF/streaming consumers skip it, like
    * OPTIMIZE), and the purge downgrades the table's storage shape for
    * DV-blind external readers (the rewrite ops here — OPTIMIZE, CoW
    * DML, MERGE, RESTORE — all compose with DVs through the masked
    * scans and never resurrect rows). Files without a DV are NOT touched —
    * on a 100 TB table the rewrite cost is proportional to the
    * soft-deleted surface, not the table. Returns
    * (purgedFiles, droppedPositions). */
  def reorgPurge(spark: SparkSession, base: String): (Int, Long) = {
    val ctx0 = dmlCtx(spark, base)
    val withDv = ctx0.live.filter(_.dv.isDefined)
    if (withDv.isEmpty) return (0, 0L)
    // the purge rewrite reads ONLY the DV-carrying files through the
    // unified scan (masks applied, row ids materialized, logical
    // names) — composition with column mapping and row tracking falls
    // out of the shared machinery
    val ctx = ctx0.copy(live = withDv)
    val masked = dmlScanAll(spark, ctx)
    val next = ctx.version + 1
    // stats keys carried from the purged files keep data skipping
    // alive (they are PHYSICAL keys already — translate back to the
    // logical spelling writeRewrite's physOf expects)
    val statsPhysical = withDv.flatMap(a => a.minValues.keys).distinct
    val statsFor = statsPhysical.map(p => ctx.colMap
      .flatMap(_.collectFirst { case (l, pp) if pp == p => l }).getOrElse(p))
    val (adds, domainBump) = writeRewrite(spark, ctx, masked, next,
      withDv.size, statsFor, dataChange = false)
    commit(base, next, (commitInfo("REORG") +: domainBump) ++
      withDv.map(a => removeAction(a.path, dataChange = false)) ++ adds)
    (withDv.size, withDv.map(_.dv.get.cardinality).sum)
  }

  /** Canonical stats JSON of an add (numRecords stays the PHYSICAL row
    * count per spec, even under a deletion vector) — a checkpoint's
    * `stats` column; an action line carries it escaped. */
  private def statsJson(a: DeltaAdd): String = {
    def side(tag: String, m: Map[String, Long]) =
      if (m.isEmpty) ""
      else m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(s""","$tag":{""", ",", "}")
    s"""{"numRecords":${a.numRecords}${side("minValues", a.minValues)}${side("maxValues", a.maxValues)}}"""
  }

  // ---- SQL-text DML (DSv2 row-level operations) ---------------------------
  // The catalog's Delta tables implement SupportsRowLevelOperations
  // (delta-based), so pure SQL `UPDATE`/`MERGE INTO`/complex `DELETE`
  // rewrite into WriteDelta: the scan below feeds Spark's rewrite, the
  // executors write only CHANGED rows (graft.sources.LakeSqlDml), and
  // commitRowDelta stitches DV masks + staged adds + CDF into one
  // commit. Simple DELETEs skip all of this via SupportsDelete →
  // deleteWhereDv (Spark's OptimizeMetadataOnlyDeleteFromTable).

  /** The WriteDelta scan: masked live rows + the row-identity metadata
    * columns (`__path`, `__pos`) + `__pre` (a struct of the full old
    * row — what CDF pre-images and delete change rows are built from).
    * Row-tracked tables additionally carry `__rid` — the old row's
    * stable id (dmlScanAll's materialized coalesce), which the update
    * callback threads into the staged file so ids survive the DML.
    * Empty tables surface an empty frame of the declared schema. */
  private[sources] def sqlDmlScan(spark: SparkSession, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.struct
    val ctx = DmlCtx(snap, snap.adds)
    val base = snap.base
    if (ctx.live.isEmpty) {
      val schema = ctx.snap.schema.getOrElse(
        throw new IllegalStateException(s"$base declares no schema"))
      val withMeta = org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("__path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__pos", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__pre", schema)) ++
        ctx.rt.map(_ => org.apache.spark.sql.types.StructField(
          "__rid", org.apache.spark.sql.types.LongType)).toSeq)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withMeta)
    }
    val df0 = dmlScanAll(spark, ctx, keepPos = true)
    // the materialized id/version columns are WRITER plumbing, not data
    // columns: the id surfaces as the __rid metadata column, the
    // version is re-derived at commit (updated rows take the DML's own
    // commit version)
    val df = ctx.rt match {
      case None    => df0
      case Some(_) => df0.withColumnRenamed(ctx.matId, "__rid").drop(ctx.matVer)
    }
    val dataCols = df.columns.filterNot(c =>
      c == "__path" || c == "__pos" || c == "__rid")
    df.withColumn("__pre", struct(dataCols.toIndexedSeq.map(col): _*))
  }

  /** Commit one WriteDelta batch: per-file DV masks for the deleted
    * positions (merged with existing DVs), adds for the executor-staged
    * new-row files, cdc actions for the executor-staged change files —
    * all in ONE commit. Executors wrote the data; this is KB-scale
    * metadata assembly plus one bounded per-touched-file position merge
    * (positions per file ≤ file row count; never table-global). */
  private[sources] def commitRowDelta(
      spark: SparkSession, base: String, expectVersion: Long,
      delPosByFile: Map[String, Seq[Long]],
      dataRels: Seq[String], cdcRels: Seq[String],
      operation: String): Unit = {
    val version = DeltaLogReader.latestVersion(base)
    require(version == expectVersion,
      s"concurrent commit on $base: read at v$expectVersion, now v$version — aborted")
    if (delPosByFile.isEmpty && dataRels.isEmpty) return // no-op DML
    val ctx = dmlCtx(spark, base)
    val byAbs = ctx.live.map(a =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) -> a).toMap
    val dvActions = delPosByFile.toSeq.sortBy(_._1).flatMap { case (abs, fresh) =>
      val a = byAbs.getOrElse(abs,
        throw new IllegalStateException(s"deleted-from file $abs not in the live set"))
      val existing = a.dv.map(d => RoaringDv.deserialize(RoaringDv.loadPayload(
        base, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes))).getOrElse(Seq.empty)
      val merged = (existing ++ fresh).distinct.sorted
      val (uuidZ85, off, sz) = RoaringDv.writeDvFile(base, merged)
      dvSwap(a, DvDescriptor("u", uuidZ85, off, sz, merged.size))
    }
    // row-tracked staged files carry fresh baseRowId ranges (updated
    // rows override via their materialized __rid; inserted rows take
    // the range) and the id high-water mark advances by the staged
    // row count — the same contract as writeRewrite
    val (adds, domainBump) =
      if (dataRels.isEmpty) (Nil, Nil) else addsTracked(ctx.snap, dataRels.sorted, Nil, version + 1)
    val cdcActions = cdcRels.sorted.map(rel =>
      s"""{"cdc":{"path":"${esc(rel)}","partitionValues":{},""" +
        s""""size":${Files.size(Paths.get(base, rel))},"dataChange":false}}""")
    // DV writes need the table-features protocol carrying every
    // implied legacy feature (same discipline as deleteWhereDv)
    val protocol =
      if (delPosByFile.isEmpty) Nil
      else Seq(ctx.snap.protocol.withFeatures(Seq("deletionVectors")).json)
    commit(base, version + 1, (commitInfo(operation) +: (protocol ++ domainBump)) ++
      cdcActions ++ dvActions ++ adds)
  }

  /** A live file's add action as the log carries it: partition values,
    * size, row-tracking fields (a re-add that dropped its baseRowId
    * would silently shift every surviving row's id), stats when known
    * and its deletion vector. */
  private def addAction(a: DeltaAdd): String = {
    val rt = (a.baseRowId, a.defaultRowCommitVersion) match {
      case (Some(b), Some(v)) => s""""baseRowId":$b,"defaultRowCommitVersion":$v,"""
      case _ => ""
    }
    val stats = if (a.numRecords < 0) "" else s""","stats":"${esc(statsJson(a))}""""
    val dv = a.dv.map(d =>
      s""","deletionVector":{"storageType":"${esc(d.storageType)}",""" +
        s""""pathOrInlineDv":"${esc(d.pathOrInlineDv)}","offset":${d.offset},""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""").getOrElse("")
    s"""{"add":{"path":"${esc(a.path)}","partitionValues":${partitionValuesOf(a.path)},""" +
      s""""size":${a.size},"modificationTime":0,$rt"dataChange":true$stats$dv}}"""
  }

  /** The same-path remove + re-add that swaps `a`'s deletion vector for
    * `dv` — the one same-path pair the spec allows in a commit. */
  private def dvSwap(a: DeltaAdd, dv: DvDescriptor): Seq[String] =
    Seq(removeAction(a.path, dataChange = true), addAction(a.copy(dv = Some(dv))))

  /** SQL `TRUNCATE TABLE`: ONE metadata commit removing every live
    * file — schema, protocol, and configuration survive, history stays
    * time-travelable, and not one data byte moves (the spec's
    * remove-only commit; VACUUM reclaims the bytes later). CDF
    * consumers derive the whole-file deletes from the removes (the
    * same pre-image rule as overwrite, DV masks applied). Returns the
    * number of logically removed rows. */
  def truncate(spark: SparkSession, base: String): Long = {
    val ctx = dmlCtx(spark, base)
    if (ctx.live.isEmpty) return 0L
    commit(base, ctx.version + 1,
      commitInfo("TRUNCATE") +: ctx.live.map(a => removeAction(a.path, dataChange = true)))
    ctx.live.map(a => a.numRecords - a.dv.map(_.cardinality).getOrElse(0L)).sum
  }

  /** DELETE WHERE via DELETION VECTORS — the modern Delta DML shape:
    * no data file is rewritten; instead each affected file gets a
    * roaring-bitmap sidecar marking its deleted row positions, and the
    * commit swaps the file's add action for one carrying the
    * `deletionVector` descriptor (the one same-path remove+add the
    * spec allows in a commit). The commit also upgrades the protocol
    * to the table-features form (minReaderVersion 3 +
    * readerFeatures=[deletionVectors]) — exactly what makes modern
    * tables unreadable to feature-blind readers, which
    * [[DeltaLogReader]] now implements. Stacks: a second DV delete
    * unions positions into a fresh sidecar. Position sets are
    * DML-sized (KB-scale bitmaps), never table-sized. Returns
    * (affectedFiles, newlyDeletedRows). */
  def deleteWhereDv(spark: SparkSession, base: String,
                    predicate: org.apache.spark.sql.Column): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Encoders
    val ctx = dmlCtx(spark, base)
    val version = ctx.version
    val live = ctx.live
    val byAbs = live.map(a =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) -> a).toMap
    // existing DV payloads as BYTES keyed by the SCAN's path spelling:
    // positions deserialize executor-side only (for the per-file merge
    // below) — the driver never holds a position list, just KB-scale
    // bitmap blobs
    val existingBytes: Map[String, Array[Byte]] = live.flatMap(a => a.dv.map { d =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) ->
        RoaringDv.loadPayload(base, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes)
    }).toMap
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    // matched = predicate-TRUE rows not already masked by a DV — the
    // unified scan applies existing DVs and binds LOGICAL names, so
    // column-mapped tables delete under the user's spelling
    val matched = dmlScanAll(spark, ctx, keepPos = true)
      .filter(predicate.eqNullSafe(true))
    // per-file bitmap construction runs EXECUTOR-side (one group per
    // affected file): the driver receives only (path, counts, payload)
    // rows — KB-scale serialized bitmaps, never the position lists, so
    // a wide DELETE at 100 TB cannot OOM the driver
    val exBc = spark.sparkContext.broadcast(existingBytes)
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
    val next0 = version + 1
    // CDF: the newly-masked rows ride a _change_data file, so
    // readChanges' cdc-priority rule represents this commit by THEM —
    // without it the same-path remove+add pair would derive a
    // whole-file delete AND a whole-file insert (double counting)
    val newlyDeleted = matched.drop("__path", "__pos").drop(ctx.matCols: _*)
    val cdcActions = writeCdc(spark, base, next0,
      toPhysical(newlyDeleted.withColumn("_change_type", lit("delete")), ctx.colMap),
      perFile.length).map(_._2)
    val actions = perFile.toSeq.map { case (abs, _, card, payload) =>
      val a = byAbs.getOrElse(abs,
        throw new IllegalStateException(s"matched file $abs not in the live set"))
      val (uuidZ85, off, sz) = RoaringDv.writeDvPayload(base, payload)
      dvSwap(a, DvDescriptor("u", uuidZ85, off, sz, card))
    }
    // the DV upgrade to the table-features protocol (3, 7) carries every
    // feature the PRIOR protocol implied, not just deletionVectors
    commit(base, version + 1, Seq(commitInfo("DELETE"),
      ctx.snap.protocol.withFeatures(Seq("deletionVectors")).json) ++
      cdcActions ++ actions.flatten)
    (perFile.length, perFile.map(_._2).sum)
  }

  /** Copy-on-write core for DELETE/UPDATE: find the live files holding
    * predicate-matching rows (via the scan's own `_metadata.file_path`),
    * rewrite ONLY those files (survivors + post-images), and commit
    * removes + adds + a `cdc` action whose `_change_data/` file carries
    * the change rows — so [[DeltaLogReader.readChanges]] sees exactly
    * the DML's effect. Untouched files are not rewritten; on a
    * partitioned table the rewrite keeps the hive layout (an UPDATE
    * that changes a partition value routes the post-image to its new
    * partition), and untouched PARTITIONS never appear in the commit.
    * Returns (affectedFiles, matchedRows). */
  private def cowModify(spark: SparkSession, base: String, predicate: org.apache.spark.sql.Column,
                        op: String, post0: Option[DataFrame => DataFrame]): (Int, Long) = {
    import org.apache.spark.sql.functions.{col, expr => sqlExpr}
    val ctx = dmlCtx(spark, base)
    // UPDATE semantics for GENERATED columns: when a source column
    // changes, the generated value re-derives — the post-image
    // recomputes every declared expression unconditionally (cheap: the
    // expressions are scalar, and only matched rows pass through here)
    val gens = ctx.snap.generatedColumns
    val post = post0.map(set => (d: DataFrame) =>
      gens.foldLeft(set(d)) { (acc, f) =>
        acc.withColumn(f.name, sqlExpr(f.metadata.getString("delta.generationExpression")))
      })
    val relByAbs = ctx.live.map(a =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) -> a.path).toMap
    // the unified scan composes every feature: DVs applied (masked rows
    // neither match nor survive), row ids materialized (survivors and
    // post-images carry them through the rewrite), logical names (the
    // predicate binds the user's spelling on a mapped table)
    val scan = dmlScanAll(spark, ctx)
    val matched = scan.filter(predicate)
    val affectedAbs = matched.select("__path").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (affectedAbs.isEmpty) return (0, 0L)
    val affectedRel = affectedAbs.map(a => relByAbs.getOrElse(a,
      throw new IllegalStateException(s"matched file $a not in the live set")))
    // every re-read below binds to the TOUCHED files (a __path filter
    // would not prune at the source — it binds _metadata per row);
    // the full scan runs exactly once, for file discovery above
    val affectedRelSet = affectedRel.toSet
    val inAffected = dmlScanAll(spark,
      ctx.copy(live = ctx.live.filter(a => affectedRelSet.contains(a.path))))
    // SQL DML semantics: a row is matched only when the predicate is
    // TRUE — rows where it evaluates to NULL (e.g. a NULL column under
    // ===) must survive the rewrite, so the survivor filter is
    // NOT-null-safe-true, not the plain negation (which is NULL too)
    val survivors = inAffected.filter(!predicate.eqNullSafe(true)).drop("__path")
    val hit = inAffected.filter(predicate).drop("__path")
    val next = ctx.version + 1
    // post-images keep their row ids (the spec: _row_id is stable
    // across UPDATE) but take this commit as their last-modified
    // version; survivors keep both
    def restamp(d: DataFrame) =
      if (ctx.rt.isEmpty) d else d.withColumn(ctx.matVer, lit(next))
    val changes = post match {
      case None => hit.withColumn("_change_type", lit("delete"))
      case Some(f) => hit.withColumn("_change_type", lit("update_preimage"))
        .unionAll(restamp(f(hit)).withColumn("_change_type", lit("update_postimage")))
    }
    val newData = post.fold(survivors)(f => survivors.unionAll(restamp(f(hit))))
    // the matched-row count rides the CDC write as an observed metric
    // (one 'delete' / 'update_preimage' row per matched row) — the old
    // standalone hit.count() was a full extra pass over the affected
    // files just for the return value
    val obs = org.apache.spark.sql.Observation()
    val observed = changes.observe(obs, count(when(
      col("_change_type").isin("delete", "update_preimage"), 1)).as("n_matched"))
    val cdcActions = writeCdc(spark, base, next,
      toPhysical(observed.drop(ctx.matCols: _*), ctx.colMap), affectedRel.size).map(_._2)
    val nMatched = obs.get("n_matched").asInstanceOf[Long]
    val (adds, domainBump) =
      if (newData.isEmpty) (Nil, Nil)
      else writeRewrite(spark, ctx, newData, next, affectedRel.size)
    commit(base, next, (commitInfo(op) +: domainBump) ++
      cdcActions ++ affectedRel.map(removeAction(_, dataChange = true)) ++ adds)
    (affectedRel.size, nMatched)
  }

  /** Shape a DML rewrite for the write: partitioned tables repartition
    * by the partition columns (one write task per live partition value
    * — the rewrite parallelizes with the partitions it touches); flat
    * tables cap at one task per affected file. Never `coalesce(1)` —
    * a wide DELETE's rewrite must not serialize onto one task. */
  private def shapeRewrite(df: DataFrame, pcols: Seq[String],
                           affected: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (pcols.nonEmpty) df.repartition(pcols.map(col): _*)
    else df.coalesce(math.max(1, affected))
  }

  /** Stage the commit's `_change_data` files (one task per affected
    * file, up to the data's own parallelism — a wide DML's change set
    * is data-sized and must not serialize) and return one (rel path,
    * cdc action) per staged part — callers that detect a no-op AFTER
    * the stage (observed-count guards) must delete the rels before
    * throwing, or the orphans collide with the next DML's move. */
  private def writeCdc(spark: SparkSession, base: String, version: Long,
                       changes: DataFrame, affected: Int): Seq[(String, String)] = {
    val rels = Stage(base)(changes.coalesce(math.max(1, affected)).write.parquet(_)) { leaves =>
      require(leaves.nonEmpty, "no cdc file staged")
      leaves.zipWithIndex.map { case (l, i) =>
        Stage.move(l, base, s"_change_data/cdc-$version-$i.parquet")
      }
    }
    rels.map(rel => rel ->
      (s"""{"cdc":{"path":"${esc(rel)}","partitionValues":{},""" +
        s""""size":${Files.size(Paths.get(base, rel))},"dataChange":false}}"""))
  }

  /** Fail a DML detected as a no-op AFTER its CDC files were staged:
    * remove the staged files first so the version's namespace is clean
    * for the next statement. */
  private def noopAfterCdc(base: String, rels: Seq[String], msg: String): Nothing = {
    rels.foreach(rel => Files.deleteIfExists(Paths.get(base, rel)))
    throw new IllegalArgumentException(msg)
  }

  /** DELETE WHERE — copy-on-write: matching rows disappear from the
    * rewritten files, and the CDF carries them as `delete` rows. */
  def deleteWhere(spark: SparkSession, base: String,
                  predicate: org.apache.spark.sql.Column): (Int, Long) =
    cowModify(spark, base, predicate, "DELETE", None)

  /** UPDATE ... WHERE — copy-on-write: matching rows are transformed by
    * `set`, and the CDF carries `update_preimage`/`update_postimage`
    * pairs. */
  def update(spark: SparkSession, base: String, predicate: org.apache.spark.sql.Column,
             set: DataFrame => DataFrame): (Int, Long) =
    cowModify(spark, base, predicate, "UPDATE", Some(set))

  /** MERGE (upsert) — ONE commit, like the real statement: source rows
    * REPLACE same-key table rows (whole-row UPDATE SET *), source rows
    * with unseen keys INSERT. Only the files holding matched keys are
    * rewritten (new keys ride the same new file); the commit's
    * `_change_data` file carries update_preimage/update_postimage
    * pairs AND the insert rows, so CDF consumers see the merge's exact
    * effect. `source` must have the table's data schema. Returns
    * (updatedRows, insertedRows). */
  def merge(spark: SparkSession, base: String, source0: DataFrame,
            keyCol: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val ctx = dmlCtx(spark, base)
    // the source carries the table's data schema — generated columns
    // computed when missing / validated when provided, like an append
    val source = applyGenerated(source0, ctx.snap)
    ctx.snap.identityColumn.foreach { idf =>
      throw new IllegalArgumentException(
        s"MERGE on identity table $base would need writer-assigned ${idf.name} " +
          "for inserts — deleteWhere + appendIdentity keeps the id contract")
    }
    val relByAbs = ctx.live.map(a =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) -> a.path).toMap
    val scan = dmlScanAll(spark, ctx)
    val srcKeys = broadcast(source.select(col(keyCol)).distinct())
    val matched = scan.join(srcKeys, keyCol)
    val affectedAbs = matched.select("__path").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val affectedRel = affectedAbs.map(a => relByAbs.getOrElse(a,
      throw new IllegalStateException(s"matched file $a not in the live set")))
    // matched rows live ONLY in the affected files, so every re-read
    // below (pre-images, survivors, id mapping) scans the TOUCHED
    // subset, not the table — at 100 TB the full scan runs exactly
    // twice: file discovery above and the column-pruned key census
    // (tableKeys) that splits updates from inserts. A __path filter
    // would not prune files (it binds _metadata per row); restricting
    // ctx.live re-plans the scan over the subset's paths.
    val affectedSet = affectedRel.toSet
    // a pure-insert merge touches no file at all — the affected scan
    // is the empty frame, never an empty-snapshot plan
    val scanA =
      if (affectedRel.isEmpty) scan.limit(0)
      else dmlScanAll(spark,
        ctx.copy(live = ctx.live.filter(a => affectedSet.contains(a.path))))
    val matchedA = scanA.join(srcKeys, keyCol)
    val cols = scan.drop("__path").drop(ctx.matCols: _*).columns.toIndexedSeq
    val next = ctx.version + 1
    val src = source.select(cols.map(col): _*)
    val tableKeys = broadcast(scan.select(col(keyCol)).distinct())
    val updSrc0 = src.join(tableKeys, keyCol, "left_semi").select(cols.map(col): _*)
    val insSrc0 = src.join(tableKeys, keyCol, "left_anti").select(cols.map(col): _*)
    // row tracking: a matched row's id is STABLE across the merge — the
    // post-image (a source row) takes the target row's materialized id
    // via the key; inserts carry NO id and fall back to the new file's
    // fresh baseRowId range. Both take this commit as their version.
    val (updSrc, insSrc) =
      if (ctx.rt.isEmpty) (updSrc0, insSrc0)
      else (
        updSrc0.join(broadcast(matchedA.select(col(keyCol), col(ctx.matId)).distinct()), keyCol)
          .withColumn(ctx.matVer, lit(next)),
        insSrc0.withColumn(ctx.matId, lit(null).cast("long"))
          .withColumn(ctx.matVer, lit(next)))
    val survivors = scanA.join(srcKeys, Seq(keyCol), "left_anti").drop("__path")
    val pre = matchedA.select(cols.map(col): _*)
    val changes = pre.withColumn("_change_type", lit("update_preimage"))
      .unionAll(updSrc0.withColumn("_change_type", lit("update_postimage")))
      .unionAll(insSrc0.withColumn("_change_type", lit("insert")))
    // update/insert counts ride the CDC write as observed metrics (one
    // 'update_preimage' row per matched key, one 'insert' per new key)
    // — the old standalone counts were two extra passes over the
    // affected files and the source join
    val obs = org.apache.spark.sql.Observation()
    val observed = changes.observe(obs,
      count(when(col("_change_type") === "update_preimage", 1)).as("n_upd"),
      count(when(col("_change_type") === "insert", 1)).as("n_ins"))
    val cdcStaged = writeCdc(spark, base, next,
      toPhysical(observed, ctx.colMap), affectedRel.size + 1)
    val cdcActions = cdcStaged.map(_._2)
    val nUpd = obs.get("n_upd").asInstanceOf[Long]
    val nIns = obs.get("n_ins").asInstanceOf[Long]
    if (nUpd + nIns == 0) noopAfterCdc(base, cdcStaged.map(_._1),
      "MERGE source matches nothing and inserts nothing")
    val newData = survivors.unionByName(updSrc, allowMissingColumns = false)
      .unionByName(insSrc, allowMissingColumns = false)
    val (adds, domainBump) =
      writeRewrite(spark, ctx, newData, next, affectedRel.size + 1)
    commit(base, next, (commitInfo("MERGE") +: domainBump) ++
      cdcActions ++ affectedRel.map(removeAction(_, dataChange = true)) ++ adds)
    (nUpd, nIns)
  }

  /** Conditional MULTI-CLAUSE MERGE — the full statement shape CDC
    * reconciliation needs (the key-upsert [[merge]] is the special
    * case):
    *
    *   - `WHEN MATCHED AND matchedDelete THEN DELETE`
    *   - `WHEN MATCHED [AND matchedUpdate] THEN UPDATE SET *` (the
    *     source row replaces the target row; matched rows failing both
    *     conditions carry unchanged)
    *   - `WHEN NOT MATCHED THEN INSERT` (when `insertUnmatched`)
    *   - `WHEN NOT MATCHED BY SOURCE AND bySourceDelete THEN DELETE`
    *
    * Conditions bind the TARGET row's (logical) columns and fire only
    * when TRUE (SQL semantics — NULL carries). ONE commit; the
    * `_change_data` file carries all four action kinds, so CDF
    * consumers see the merge's exact effect. Composes with the feature
    * matrix through the shared scan/write pair (DVs, column mapping,
    * row tracking: updated rows keep their ids, inserts take fresh
    * ones). Returns (deleted, updated, inserted, bySourceDeleted). */
  def mergeMulti(spark: SparkSession, base: String, source0: DataFrame, keyCol: String,
                 matchedDelete: Option[org.apache.spark.sql.Column] = None,
                 matchedUpdate: Option[org.apache.spark.sql.Column] = None,
                 insertUnmatched: Boolean = true,
                 bySourceDelete: Option[org.apache.spark.sql.Column] = None)
  : (Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val ctx = dmlCtx(spark, base)
    val source = applyGenerated(source0, ctx.snap)
    ctx.snap.identityColumn.foreach { idf =>
      throw new IllegalArgumentException(
        s"MERGE on identity table $base would need writer-assigned ${idf.name} " +
          "for inserts — deleteWhere + appendIdentity keeps the id contract")
    }
    val relByAbs = ctx.live.map(a =>
      LakeScan.key(spark, DeltaLogReader.absOf(base, a.path)) -> a.path).toMap
    val scan = dmlScanAll(spark, ctx)
    val marker = broadcast(source.select(col(keyCol)).distinct()
      .withColumn("__src", lit(1)))
    val tagged = scan.join(marker, Seq(keyCol), "left")
    def cond(c: Option[org.apache.spark.sql.Column]) =
      c.map(_.eqNullSafe(true)).getOrElse(lit(true))
    val isMatched = col("__src").isNotNull
    val isDel = isMatched && cond(matchedDelete.orElse(Some(lit(false))))
    val isUpd = isMatched && !isDel && cond(matchedUpdate)
    val isBySrcDel = !isMatched && cond(bySourceDelete.orElse(Some(lit(false))))
    val hit = tagged.filter(isDel || isUpd || isBySrcDel)
    val affectedAbs = hit.select("__path").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // every firing row lives in an affected file — re-reads below bind
    // to the touched subset (same discipline as [[merge]]); the full
    // scan runs once for discovery + once column-pruned for tableKeys
    val affectedRelSet = affectedAbs
      .map(a => relByAbs.getOrElse(a,
        throw new IllegalStateException(s"matched file $a not in the live set")))
      .toSet
    val taggedA =
      (if (affectedAbs.isEmpty) scan.limit(0)
       else dmlScanAll(spark,
         ctx.copy(live = ctx.live.filter(a => affectedRelSet.contains(a.path)))))
        .join(marker, Seq(keyCol), "left")
    val cols = scan.drop("__path").drop(ctx.matCols: _*).columns.toIndexedSeq
    val next = ctx.version + 1
    val src = source.select(cols.map(col): _*)
    val tableKeys = broadcast(scan.select(col(keyCol)).distinct())
    val insSrc0 =
      if (!insertUnmatched) src.limit(0)
      else src.join(tableKeys, keyCol, "left_anti").select(cols.map(col): _*)
    // the update clause's replacement rows: source rows keyed to the
    // rows isUpd selected (a matched-DELETE key must NOT also update)
    val updKeys = broadcast(taggedA.filter(isUpd).select(col(keyCol)).distinct())
    val updSrc0 = src.join(updKeys, keyCol, "left_semi").select(cols.map(col): _*)
    val (updSrc, insSrc) =
      if (ctx.rt.isEmpty) (updSrc0, insSrc0)
      else (
        updSrc0.join(broadcast(taggedA.filter(isUpd)
            .select(col(keyCol), col(ctx.matId)).distinct()), keyCol)
          .withColumn(ctx.matVer, lit(next)),
        insSrc0.withColumn(ctx.matId, lit(null).cast("long"))
          .withColumn(ctx.matVer, lit(next)))
    val survivors = taggedA
      .filter(!(isDel || isUpd || isBySrcDel)).drop("__path", "__src")
    val delRows = taggedA.filter(isDel).select(cols.map(col): _*)
    val bySrcRows = taggedA.filter(isBySrcDel).select(cols.map(col): _*)
    val updPre = taggedA.filter(isUpd).select(cols.map(col): _*)
    // per-clause counts ride the CDC write as observed metrics on a
    // staging-only __kind tag (dropped before the file bytes) — the old
    // four standalone counts were four extra passes over the affected
    // files / source joins. Matched and by-source deletes both land as
    // CDF 'delete', so _change_type alone can't split them; __kind can.
    val tagged4 = delRows.withColumn("__kind", lit("del"))
      .unionAll(bySrcRows.withColumn("__kind", lit("bysrc")))
      .unionAll(updPre.withColumn("__kind", lit("updpre")))
      .unionAll(updSrc0.withColumn("__kind", lit("updpost")))
      .unionAll(insSrc0.withColumn("__kind", lit("ins")))
    val obs = org.apache.spark.sql.Observation()
    val observed = tagged4.observe(obs,
      count(when(col("__kind") === "del", 1)).as("n_del"),
      count(when(col("__kind") === "updpre", 1)).as("n_upd"),
      count(when(col("__kind") === "ins", 1)).as("n_ins"),
      count(when(col("__kind") === "bysrc", 1)).as("n_bysrc"))
    val changes = observed.withColumn("_change_type",
      when(col("__kind").isin("del", "bysrc"), "delete")
        .when(col("__kind") === "updpre", "update_preimage")
        .when(col("__kind") === "updpost", "update_postimage")
        .otherwise("insert")).drop("__kind")
    val cdcStaged = writeCdc(spark, base, next,
      toPhysical(changes, ctx.colMap), affectedAbs.size + 1)
    val cdcActions = cdcStaged.map(_._2)
    val nDel = obs.get("n_del").asInstanceOf[Long]
    val nUpd = obs.get("n_upd").asInstanceOf[Long]
    val nIns = obs.get("n_ins").asInstanceOf[Long]
    val nBySrc = obs.get("n_bysrc").asInstanceOf[Long]
    if (nDel + nUpd + nIns + nBySrc == 0) noopAfterCdc(base, cdcStaged.map(_._1),
      "MERGE matches nothing and inserts nothing")
    val affectedRel = affectedAbs.map(a => relByAbs.getOrElse(a,
      throw new IllegalStateException(s"matched file $a not in the live set")))
    val newData = survivors.unionByName(updSrc).unionByName(insSrc)
    val (adds, domainBump) =
      if (newData.isEmpty) (Nil, Nil) // a pure-delete merge adds nothing
      else writeRewrite(spark, ctx, newData, next, affectedRel.size + 1)
    commit(base, next, (commitInfo("MERGE") +: domainBump) ++
      cdcActions ++ affectedRel.map(removeAction(_, dataChange = true)) ++ adds)
    (nDel, nUpd, nIns, nBySrc)
  }

  /** RESTORE: make the table's NEXT version content-identical to
    * `toVersion` — as a new commit (history stays intact; this is how
    * the real feature works, a forward-moving revert, not a rollback):
    * remove every currently-live file the target lacks, add back every
    * target file the current snapshot dropped. Both sides are KB-scale
    * path-set diffs; no data file is read or written. Returns
    * (removed, readded) counts. */
  def restore(spark: SparkSession, base: String, toVersion: Long): (Int, Int) = {
    val current = DeltaLogReader.latestVersion(base)
    require(toVersion < current, s"restore target $toVersion is not before $current")
    val want = DeltaLogReader.snapshot(Some(spark), base, toVersion).adds
    val have = DeltaLogReader.snapshot(Some(spark), base, current).adds
    // restore compares (path, DV identity), not just paths: the same
    // file under a DIFFERENT deletion vector is a different live entry
    // (a DV delete between the versions must be reverted by re-adding
    // the file with its OLD descriptor — or none)
    def key(a: DeltaAdd) = (a.path, a.dv.map(_.pathOrInlineDv))
    val wantK = want.map(key).toSet
    val haveK = have.map(key).toSet
    val removes = have.filterNot(a => wantK.contains(key(a)))
      .map(a => removeAction(a.path, dataChange = true))
    // each re-add carries the target version's row ids, stats and DV
    // (DV sidecars stay on disk — vacuum never touches them — so the
    // restore is metadata-only)
    val adds = want.filterNot(a => haveK.contains(key(a))).map(addAction)
    commit(base, current + 1,
      s"""{"commitInfo":{"operation":"RESTORE","readVersion":$toVersion,"timestamp":0}}""" +:
        (removes ++ adds))
    (removes.size, adds.size)
  }

  /** Write the spec's replay-bounding checkpoint for the CURRENT
    * version: one parquet file `<v>.checkpoint.parquet` holding every
    * action needed to reconstruct the snapshot — protocol, the REAL
    * metaData (schemaString + partitionColumns, folded from the log so
    * expired commits keep partitioned tables and external readers
    * whole), every appId's txn watermark (so [[expireLog]] never
    * re-opens the exactly-once window), and one row per live add
    * carrying partitionValues and the stats JSON (numRecords +
    * min/max bounds, so data skipping survives the expiry) — each in
    * its own nullable struct column, the spec's checkpoint schema
    * shape — then point `_last_checkpoint` at it. Remove tombstones
    * are NOT folded: this writer's expireLog cleans only the log,
    * never data files, so no reader consumes them here. Readers seed
    * the live set from the checkpoint and replay only the JSON tail —
    * O(tail) instead of O(history) on long-lived tables. */
  // -- checkpoint schemas (the spec's nullable-struct-per-action shape) --
  private val dvT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
  }
  private val addT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvT),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
  }
  private val domainT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
  }
  private val protoT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
  }
  private val metaT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
  }
  private val txnT = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))
  }

  /** The snapshot every checkpoint flavor writes — the latest
    * [[Snapshot]], serialized: (version, one Row per protocol/metaData/
    * txn/domain action, one add Row per live file). The REAL table
    * state, not placeholders: the metaData (a post-expiry read of a
    * partitioned table would otherwise drop its partition columns),
    * the protocol with its features (a DV table advertising
    * minReaderVersion 1 would invite feature-blind readers to
    * resurrect soft-deleted rows), every txn watermark (expireLog must
    * not re-open the exactly-once window) and every domain (a lost
    * row-tracking mark would make the next append REUSE row ids).
    * Remove tombstones are NOT folded: this writer's expireLog only
    * cleans the log, never data files, so no reader needs them —
    * documented, not spec-divergent for that use. */
  private def foldCheckpointState(spark: SparkSession, base: String)
  : (Long, Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.Row
    val snap = DeltaLogReader.snapshot(spark, base)
    val (p, m) = (snap.protocol, snap.metaData)
    def orNull(fs: Seq[String]) = if (fs.isEmpty) null else fs
    val actionRows = Seq(
      Row(Row(p.minReaderVersion, p.minWriterVersion, orNull(p.readerFeatures),
        orNull(p.writerFeatures)), null, null, null),
      Row(null, Row(m.id, Row("parquet"), m.schemaString, m.partitionColumns,
        m.configuration, 0L), null, null)) ++
      snap.txns.toSeq.sortBy(_._1).map { case (app, v) => Row(null, null, Row(app, v, 0L), null) } ++
      snap.domains.toSeq.sortBy(_._1).map { case (d, c) => Row(null, null, null, Row(d, c, false)) }
    val addRows = snap.adds.map(a =>
      Row(Row(a.path, partitionValuePairs(a.path).toMap, a.size, 0L, true, statsJson(a),
        a.dv.map(d => Row(d.storageType, d.pathOrInlineDv, d.offset,
          d.sizeInBytes, d.cardinality)).orNull,
        a.baseRowId.map(java.lang.Long.valueOf).orNull,
        a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull)))
    (snap.version, actionRows, addRows)
  }

  /** Write one single-part parquet of `rows` at `rel` under `base`. */
  private def writeOneParquet(spark: SparkSession, base: String,
                              rows: Seq[org.apache.spark.sql.Row],
                              schema: org.apache.spark.sql.types.StructType,
                              rel: String): Unit =
    Stage.file(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      base, rel)

  def checkpoint(spark: SparkSession, base: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (version, actions, adds) = foldCheckpointState(spark, base)
    val schema = StructType(Seq(
      StructField("protocol", protoT), StructField("metaData", metaT),
      StructField("txn", txnT), StructField("domainMetadata", domainT),
      StructField("add", addT)))
    val rows = actions.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), null)) ++
      adds.map(r => Row(null, null, null, null, r.get(0)))
    val dir = Paths.get(base, "_delta_log")
    writeOneParquet(spark, base, rows, schema, f"_delta_log/$version%020d.checkpoint.parquet")
    Files.write(dir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}}""".getBytes(StandardCharsets.UTF_8))
    version
  }

  /** The spec's V2 CHECKPOINT (`checkpointPolicy=v2`), the layout
    * modern writers emit by default on large tables: the top-level
    * `<v>.checkpoint.<uniqueStr>.parquet` holds ONLY non-file actions —
    * `checkpointMetadata`, protocol, metaData, txn — plus `sidecar`
    * pointer rows; the add actions live in sidecar parquet files under
    * `_delta_log/_sidecars/`. The top-level file stays KB-scale no
    * matter how many files the snapshot holds, and sidecars
    * parallelize both write and read. Two sidecars are written (when
    * the live set allows) so readers must genuinely UNION them. */
  def checkpointV2(spark: SparkSession, base: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (version, actions, adds) = foldCheckpointState(spark, base)
    val sideSchema = StructType(Seq(StructField("add", addT)))
    val sideDir = Paths.get(base, "_delta_log", "_sidecars")
    val halves =
      if (adds.size <= 1) Seq(adds)
      else Seq(adds.take(adds.size / 2), adds.drop(adds.size / 2))
    val sidecars = halves.zipWithIndex.map { case (rows, i) =>
      // deterministic uuid-shaped names (fixture reproducibility); the
      // spec only requires uniqueness within _sidecars/
      val name = java.util.UUID.nameUUIDFromBytes(
        s"$base-$version-$i".getBytes(StandardCharsets.UTF_8)).toString + ".parquet"
      writeOneParquet(spark, base, rows, sideSchema, s"_delta_log/_sidecars/$name")
      (name, Files.size(sideDir.resolve(name)))
    }
    val ckptMetaT = StructType(Seq(StructField("version", LongType)))
    val sidecarT = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val topSchema = StructType(Seq(
      StructField("checkpointMetadata", ckptMetaT),
      StructField("sidecar", sidecarT),
      StructField("protocol", protoT), StructField("metaData", metaT),
      StructField("txn", txnT), StructField("domainMetadata", domainT)))
    val topRows =
      Row(Row(version), null, null, null, null, null) +:
      (sidecars.map { case (n, sz) => Row(null, Row(n, sz, 0L), null, null, null, null) } ++
        actions.map(r => Row(null, null, r.get(0), r.get(1), r.get(2), r.get(3))))
    val dir = Paths.get(base, "_delta_log")
    val unique = java.util.UUID.nameUUIDFromBytes(
      s"$base-$version-top".getBytes(StandardCharsets.UTF_8)).toString
    writeOneParquet(spark, base, topRows, topSchema,
      f"_delta_log/$version%020d.checkpoint.$unique.parquet")
    Files.write(dir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":${topRows.size}}""".getBytes(StandardCharsets.UTF_8))
    version
  }

  /** VACUUM, the data half: delete part files no READABLE version
    * references (after [[expireLog]], readable = the checkpointed
    * version onward — so files only pre-checkpoint history referenced
    * become reclaimable, exactly the real feature's retention
    * semantics with the checkpoint as the horizon). The reference set
    * is a KB-scale path-set union over the readable snapshots; DV
    * sidecars, `_change_data` files and the log itself are never
    * touched. Time travel to vacuumed versions was already gone with
    * their commits. Returns how many data files were deleted. */
  def vacuum(spark: SparkSession, base: String): Int = {
    val referenced = DeltaLogReader.versions(base)
      .flatMap(v => DeltaLogReader.snapshot(Some(spark), base, v).adds)
      .map(_.path).toSet
    require(referenced.nonEmpty, s"vacuum would empty $base entirely")
    val root = Paths.get(base)
    val victims = Fs.walk(root).iterator
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString)
      .filterNot(rel => rel.startsWith("_") || referenced.contains(rel))
      .toSeq
    victims.foreach(rel => Files.delete(root.resolve(rel)))
    victims.size
  }

  /** Log cleanup (the metadata half of VACUUM): delete JSON commits
    * STRICTLY BEFORE the checkpointed version — they are redundant once
    * the checkpoint exists, and the spec permits removing them. Reads
    * at or after the checkpoint keep working; earlier time travel is
    * gone by design. Refuses to run without a checkpoint. Returns how
    * many commit files were deleted. */
  def expireLog(base: String): Int = {
    val dir = Paths.get(base, "_delta_log")
    val lc = dir.resolve("_last_checkpoint")
    require(Files.exists(lc), s"expireLog without a checkpoint under $base")
    val ckpt = DeltaLogReader.longField(
      Files.readString(lc, StandardCharsets.UTF_8), "version")
      .getOrElse(throw new IllegalStateException("_last_checkpoint has no version"))
    val victims = Fs.list(dir).iterator
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && n.length == 25 && n.stripSuffix(".json").toLong < ckpt
      }.toSeq
    victims.foreach(Files.delete)
    victims.size
  }
}
