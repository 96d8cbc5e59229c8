package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Write-side twin of [[HudiReader]]: emit a PUBLIC-spec Apache Hudi
  * copy-on-write table — the THIRD export format, with the third
  * distinct write discipline: no central manifest at all. State is the
  * TIMELINE (`.hoodie/<instant>.commit` markers) plus file NAMES
  * (`<fileId>_<writeToken>_<instant>.parquet`), and an upsert is a
  * wholesale rewrite of every touched file group.
  *
  * File groups use the bucket-index discipline (Hudi's simple bucket
  * index): group = recordKey mod `hoodie.bucket.index.num.buckets`,
  * recorded in `hoodie.properties` so upserts route rows to their
  * groups without any lookup table. Every row carries
  * `_hoodie_commit_time` (and `_hoodie_record_key`), stamped by the
  * instant that WROTE it — a copy-on-write rewrite carries unchanged
  * rows forward with their ORIGINAL commit time, which is exactly what
  * makes [[HudiReader.readIncremental]] surface only real changes.
  *
  * Commit protocol per instant (the timeline two-phase):
  *   1. `.hoodie/<instant>.inflight` marker (readers ignore the data),
  *   2. the group data files (one write task per bucket),
  *   3. `.hoodie/<instant>.commit` LAST — the atomic visibility flip.
  */
object HudiWriter {

  private def pad(i: Int): String = f"$i%03d"

  private def nextInstant(base: String): String = {
    // derived from the reader's own timeline (every instant type it
    // knows, replacecommit included), not a second private regex — a
    // marker invisible to this list would reuse its instant and collide
    val used = HudiReader.timeline(base).map(_._1.toInt)
    pad(if (used.isEmpty) 1 else used.max + 1)
  }

  private def numBuckets(base: String): Int = {
    val p = Files.readAllLines(Paths.get(base, ".hoodie", "hoodie.properties")).asScala
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _           => None
      }).toMap
    p.getOrElse("hoodie.bucket.index.num.buckets",
      throw new IllegalStateException(s"$base has no bucket-index size")).toInt
  }

  private def keyField(base: String): String = {
    Files.readAllLines(Paths.get(base, ".hoodie", "hoodie.properties")).asScala
      .flatMap(_.split("=", 2) match {
        case Array(k, v) if k.trim == "hoodie.table.recordkey.fields" => Some(v.trim)
        case _ => None
      }).headOption
      .getOrElse(throw new IllegalStateException(s"$base declares no record key"))
  }

  /** One data file per bucket: the staging repartitions BY the bucket
    * value, so every bucket is its own write task (the ~|buckets|
    * writes run in parallel) and each `__g=` dir still gets exactly
    * one part — all rows of a bucket hash to one task. */
  private def writeBuckets(spark: SparkSession, df: DataFrame, base: String,
                           bucketOf: Column, instant: String,
                           fileIdPrefix: String = "g",
                           drop: Seq[String] = Nil): Unit = {
    Stage(base)(df.withColumn("__g", bucketOf.cast("string")).drop(drop: _*)
      .repartition(col("__g")).write.partitionBy("__g").parquet(_)) { leaves =>
      Stage.cells(leaves).foreach(l =>
        Stage.move(l, base, s"$fileIdPrefix${l.value("__g")}_0-0-0_$instant.parquet"))
    }
  }

  /** Create a COW table at `base`: every row stamped with the creating
    * instant, one base file per key bucket. */
  def create(spark: SparkSession, df: DataFrame, base: String,
             tableName: String, keyCol: String, buckets: Int): String = {
    require(df.columns.contains(keyCol), s"no $keyCol column to key on")
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, ".hoodie"))
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      s"hoodie.table.name=$tableName\nhoodie.table.type=COPY_ON_WRITE\n" +
        s"hoodie.table.recordkey.fields=$keyCol\n" +
        s"hoodie.bucket.index.num.buckets=$buckets\n")
    val instant = pad(1)
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    val stamped = df
      .withColumn("_hoodie_commit_time", lit(instant))
      .withColumn("_hoodie_record_key", col(keyCol).cast("string"))
    writeBuckets(spark, stamped, base, pmod(col(keyCol), lit(buckets)), instant)
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }

  /** One data file per (partition value, bucket) cell: the staging
    * `partitionBy`s on BOTH dims, so every cell is its own parallel
    * write task, and the move keeps Spark's OWN hive `%XX` escaping
    * verbatim as the `partCol=value/` dir — the spec's
    * hive_style_partitioning layout. The partition column stays IN the
    * data files too (`__p` is a copy; Hudi's default
    * drop.partition.columns=false), so any plain parquet reader still
    * sees full rows. */
  private def writePartitionedBuckets(spark: SparkSession, df: DataFrame,
                                      base: String, partCol: String,
                                      bucketOf: Column, instant: String): Unit = {
    Stage(base)(df.withColumn("__p", col(partCol).cast("string"))
      .withColumn("__g", bucketOf.cast("string"))
      .repartition(col("__p"), col("__g"))
      .write.partitionBy("__p", "__g").parquet(_)) { leaves =>
      Stage.cells(leaves).foreach(l => Stage.move(l, base,
        s"$partCol=${l.value("__p")}/g${l.value("__g")}_0-0-0_$instant.parquet"))
    }
  }

  /** Create a HIVE-PARTITIONED CoW table: one file group per
    * (partition value, key bucket) cell, dirs spelled `partCol=value/`
    * (hive_style_partitioning, the layout real Hudi tables almost
    * always have — date/region dims prune at planning time). The
    * bucket index is PARTITION-LOCAL, Hudi's non-global-index
    * semantics: a record key identifies a row WITHIN its partition.
    * Single partition column (nested dirs are a later dimension). */
  def createPartitioned(spark: SparkSession, df: DataFrame, base: String,
                        tableName: String, keyCol: String, buckets: Int,
                        partCol: String): String = {
    require(df.columns.contains(keyCol), s"no $keyCol column to key on")
    require(df.columns.contains(partCol), s"no $partCol column to partition on")
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, ".hoodie"))
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      s"hoodie.table.name=$tableName\nhoodie.table.type=COPY_ON_WRITE\n" +
        s"hoodie.table.recordkey.fields=$keyCol\n" +
        s"hoodie.bucket.index.num.buckets=$buckets\n" +
        s"hoodie.table.partition.fields=$partCol\n" +
        "hoodie.datasource.write.hive_style_partitioning=true\n")
    val instant = pad(1)
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    writePartitionedBuckets(spark, stampMeta(df, keyCol, partCol, instant),
      base, partCol, pmod(col(keyCol), lit(buckets)), instant)
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }

  /** Hudi meta columns incl. `_hoodie_partition_path` (the LOGICAL
    * `col=value` spelling; the on-disk dir escapes it). */
  private def stampMeta(df: DataFrame, keyCol: String, partCol: String,
                        instant: String): DataFrame = {
    import org.apache.spark.sql.functions.concat
    df.withColumn("_hoodie_commit_time", lit(instant))
      .withColumn("_hoodie_record_key", col(keyCol).cast("string"))
      .withColumn("_hoodie_partition_path",
        concat(lit(s"$partCol="), col(partCol).cast("string")))
  }

  /** The Hudi CLEANER (KEEP_LATEST_FILE_VERSIONS): per LIVE file group,
    * keep the newest `keepVersions` committed base files and delete
    * the superseded slices — the storage-reclaim half of the CoW
    * discipline (every upsert leaves the whole previous file behind;
    * without a cleaner a hot bucket's history IS the table's size).
    * Groups RETIRED by a replacecommit are dead wholesale — every one
    * of their slices is reclaimable (time travel before the replace
    * goes with them, the expiry family's shared contract). Snapshot
    * reads are untouched (they only ever open live latest slices).
    * COW only — a MOR slice's logs belong to its base and are
    * compaction's job. Returns the deleted file count. */
  def clean(spark: SparkSession, base: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, s"must keep at least 1 version, got $keepVersions")
    HudiReader.assertReadable(base)
    val committed = HudiReader.completedCommits(base).toSet
    val dead = HudiReader.replacedGroups(base, HudiReader.completedCommits(base).last)
    // SAVEPOINTS shield slices: for each savepointed instant the live
    // slice per group AS OF it must survive (time travel to a
    // savepoint keeps working until it is released) — Hudi's
    // savepoint-vs-cleaner contract
    val saves = HudiReader.savepoints(base)
    val victims = HudiReader.baseFiles(base)
      .filter(f => committed.contains(f.instant))
      .groupBy(_.fileId).toSeq
      .flatMap { case (fid, fs) =>
        val sorted = fs.sortBy(_.instant)
        val keepNewest = if (dead.contains(fid)) Nil else sorted.takeRight(keepVersions)
        val keepSaved = saves.flatMap { s =>
          if (HudiReader.replacedGroups(base, s).contains(fid)) None
          else sorted.filter(_.instant <= s).lastOption
        }
        val kept = (keepNewest ++ keepSaved).map(_.path).toSet
        fs.filterNot(f => kept.contains(f.path))
      }
    victims.foreach(f => Files.delete(Paths.get(f.path)))
    victims.size
  }

  /** SAVEPOINT: pin the table's state at a completed instant against
    * the cleaner — a `<instant>.savepoint` timeline marker. Time
    * travel to the savepoint keeps working until [[releaseSavepoint]];
    * snapshot reads are untouched. */
  def savepoint(spark: SparkSession, base: String, instant: String): Unit = {
    require(HudiReader.completedCommits(base).contains(instant),
      s"savepoint targets no completed commit: $instant")
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.savepoint"),
      s"""{"savepointed":"$instant"}""")
  }

  def releaseSavepoint(spark: SparkSession, base: String, instant: String): Unit = {
    val p = Paths.get(base, ".hoodie", s"$instant.savepoint")
    require(Files.exists(p), s"no savepoint at $instant under $base")
    Files.delete(p)
  }

  /** ROLLBACK of failed writes — the crash-recovery op: delete every
    * base AND log file stamped with an instant whose `.inflight`
    * marker never completed (a crashed writer leaves both; snapshot
    * reads already ignore them — the timeline's whole point — but the
    * bytes cost storage forever and the lingering marker blocks
    * nothing from RETRYING under a fresh instant). Each failed instant
    * is closed with a `.rollback` timeline record carrying ITS OWN
    * victim count so the cleanup is itself auditable per instant.
    *
    * SINGLE-WRITER ASSUMPTION: a lingering `.inflight` is read as a
    * crash. Upstream Hudi gates this with writer heartbeats; this
    * minimal timeline has none, so with a CONCURRENT writer still in
    * flight a blanket rollback would destroy its staged files — pass
    * `only` to limit the rollback to instants known to be dead (the
    * multi-writer-safe call shape). Returns
    * (rolledBackInstants, deletedFiles). */
  def rollback(spark: SparkSession, base: String,
               only: Option[Seq[String]] = None): (Int, Int) = {
    val failed0 = HudiReader.failedInstants(base)
    val failed = only match {
      case None => failed0
      case Some(req) =>
        val unknown = req.filterNot(failed0.contains)
        require(unknown.isEmpty,
          s"rollback targets instants with no lingering .inflight: ${unknown.mkString(",")}")
        failed0.filter(req.contains)
    }
    if (failed.isEmpty) return (0, 0)
    val failedSet = failed.toSet
    val logsToo = HudiReader.tableType(base) == "MERGE_ON_READ"
    // victims partitioned BY instant: each .rollback record must carry
    // that instant's own count, not the total across all failed ones
    val victimsByInstant: Map[String, Seq[String]] =
      (HudiReader.baseFiles(base).filter(f => failedSet.contains(f.instant))
        .map(f => f.instant -> f.path) ++
       (if (!logsToo) Nil
        else HudiReader.logFiles(base).filter(l => failedSet.contains(l.instant))
          .map(l => l.instant -> l.path)))
        .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) }
    victimsByInstant.values.flatten.foreach(p => Files.delete(Paths.get(p)))
    failed.foreach { t =>
      Files.delete(Paths.get(base, ".hoodie", s"$t.inflight"))
      val n = victimsByInstant.get(t).map(_.size).getOrElse(0)
      Files.writeString(Paths.get(base, ".hoodie", s"$t.rollback"),
        s"""{"rolledBack":"$t","deletedFiles":$n}""")
    }
    (failed.size, victimsByInstant.values.map(_.size).sum)
  }

  // ---- MERGE_ON_READ ------------------------------------------------------

  /** Create a MERGE_ON_READ table: identical base layout to the CoW
    * create (one base file per key bucket, instant 001 committed via
    * the two-phase timeline) but declared MOR — subsequent writes land
    * as LOG files ([[logCommit]]) until a compaction folds them. */
  def createMor(spark: SparkSession, df: DataFrame, base: String,
                tableName: String, keyCol: String, buckets: Int): String = {
    require(df.columns.contains(keyCol), s"no $keyCol column to key on")
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, ".hoodie"))
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      s"hoodie.table.name=$tableName\nhoodie.table.type=MERGE_ON_READ\n" +
        s"hoodie.table.recordkey.fields=$keyCol\n" +
        s"hoodie.bucket.index.num.buckets=$buckets\n")
    val instant = pad(1)
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    val stamped = df
      .withColumn("_hoodie_commit_time", lit(instant))
      .withColumn("_hoodie_record_key", col(keyCol).cast("string"))
    writeBuckets(spark, stamped, base, pmod(col(keyCol), lit(buckets)), instant)
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }

  /** Create a HIVE-PARTITIONED MERGE-ON-READ table — the shape real
    * streaming-ingest Hudi tables actually have (MOR for the write
    * economics, date/region partitioning for pruned reads): one file
    * group per (partition value, key bucket) cell in the hive layout,
    * the bucket index PARTITION-LOCAL (a record key identifies a row
    * within its partition — Hudi's non-global index). Log appends and
    * compaction route per cell; [[HudiReader.readMorWhere]] merges one
    * partition's slices only. */
  def createMorPartitioned(spark: SparkSession, df: DataFrame, base: String,
                           tableName: String, keyCol: String, buckets: Int,
                           partCol: String): String = {
    require(df.columns.contains(keyCol), s"no $keyCol column to key on")
    require(df.columns.contains(partCol), s"no $partCol column to partition on")
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, ".hoodie"))
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      s"hoodie.table.name=$tableName\nhoodie.table.type=MERGE_ON_READ\n" +
        s"hoodie.table.recordkey.fields=$keyCol\n" +
        s"hoodie.bucket.index.num.buckets=$buckets\n" +
        s"hoodie.table.partition.fields=$partCol\n" +
        "hoodie.datasource.write.hive_style_partitioning=true\n")
    val instant = pad(1)
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    writePartitionedBuckets(spark, stampMeta(df, keyCol, partCol, instant),
      base, partCol, pmod(col(keyCol), lit(buckets)), instant)
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }

  /** SQL `DELETE FROM ... WHERE p` on a MERGE-ON-READ table: the
    * matched keys tombstone in ONE delta commit ([[logCommit]]) — no
    * base file rewritten, the MOR delete economics. The match runs
    * over the merged snapshot (already-tombstoned rows never
    * re-match); partitioned tables tombstone by (key, partition value)
    * since the bucket index is partition-local. CoW tables refuse —
    * their delete shape is a file-group rewrite this writer only does
    * through [[upsert]]-style replacement. Returns deleted-key count. */
  def deleteWhere(spark: SparkSession, base: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    require(HudiReader.tableType(base) == "MERGE_ON_READ",
      s"SQL DELETE serves MERGE_ON_READ Hudi tables (tombstones); " +
        s"$base is ${HudiReader.tableType(base)} — rewrite via HudiWriter.upsert")
    val snap = HudiReader.readMor(spark, base)
    val key = keyField(base)
    val pc = HudiReader.partitionFields(base).headOption
    // ONE MOR merge: the DML-sized key set materializes eagerly
    // (localCheckpoint) so the count probe AND logCommit's stage write
    // read the checkpointed rows instead of each re-running the merge;
    // unpersisted once the commit is durable (§5)
    val keys = snap.filter(predicate.eqNullSafe(true))
      .select((key +: pc.toSeq).map(col): _*)
      .localCheckpoint(true)
    try {
      val n = keys.count()
      if (n > 0) logCommit(spark, base, snap.limit(0), deleteKeys = Some(keys))
      n
    } finally keys.unpersist(false)
  }

  /** MOR delta commit: upserts and key deletes land as ONE avro log
    * file per touched bucket — no base file is rewritten (the write
    * economics streaming ingest picks MOR for). Log rows carry the
    * full record schema plus `_hoodie_is_deleted`; tombstones carry
    * NULL data columns. The instant completes as `.deltacommit`.
    * Returns the new instant. */
  def logCommit(spark: SparkSession, base: String, upserts: DataFrame,
                deleteKeys: Option[DataFrame] = None): String = {
    import org.apache.spark.sql.functions.{concat, lit => flit}
    require(HudiReader.tableType(base) == "MERGE_ON_READ",
      s"logCommit on a ${HudiReader.tableType(base)} table — use upsert")
    val key = keyField(base)
    val n = numBuckets(base)
    // hive-partitioned MOR: file groups are (partition, bucket) cells
    // and the bucket index is PARTITION-LOCAL, so records route —
    // and tombstones identify — by (partition value, key)
    val partCol = HudiReader.partitionFields(base).headOption
    val instant = nextInstant(base)
    val asOf = HudiReader.completedCommits(base).last
    val slices = HudiReader.morSlices(base, asOf).map(_._1)
    // table schema from one base-file footer, driver-side — the old
    // spark.read.parquet(...).columns scheduled a one-task schema job
    // per delta commit
    val schemaCols = org.apache.spark.sql.GraftPlanBridge
      .parquetFooterSchema(spark, slices.head.path).fieldNames.toIndexedSeq
    def stampPart(d: DataFrame): DataFrame = partCol.fold(d)(pc =>
      d.withColumn("_hoodie_partition_path",
        concat(flit(s"$pc="), col(pc).cast("string"))))
    val ups = stampPart(upserts
      .withColumn("_hoodie_commit_time", flit(instant))
      .withColumn("_hoodie_record_key", col(key).cast("string")))
      .select(schemaCols.map(col): _*)
      .withColumn("_hoodie_is_deleted", flit(false))
    val records = deleteKeys.fold(ups) { keys =>
      val keyed = partCol match {
        case Some(pc) =>
          require(keys.columns.contains(key) && keys.columns.contains(pc),
            s"partitioned tombstones need ($key, $pc) columns — a bare key " +
              s"cannot identify a row under the partition-local index " +
              s"(got ${keys.columns.mkString(",")})")
          keys.select(col(key), col(pc))
        case None => keys.select(col(keys.columns.head).as(key))
      }
      val tombs = stampPart(schemaCols.foldLeft(keyed) { (d, c) =>
        if (c == key || partCol.contains(c) || c == "_hoodie_partition_path") d
        else if (c == "_hoodie_commit_time") d.withColumn(c, flit(instant))
        else if (c == "_hoodie_record_key") d.withColumn(c, col(key).cast("string"))
        else d.withColumn(c, flit(null).cast(ups.schema(c).dataType))
      }).select(schemaCols.map(col): _*).withColumn("_hoodie_is_deleted", flit(true))
      ups.unionByName(tombs)
    }
    // one log file per touched cell, attached to that cell's CURRENT
    // base instant (the file-slice the log belongs to); partitioned
    // logs live IN their partition dir, matching baseFiles' qualified
    // fileId spelling
    val baseInstantOf = slices.map(b => b.fileId -> b.instant).toMap
    val existingLogs = HudiReader.logFiles(base)
    val bucket = pmod(col(key), lit(n))
    // STAGE FIRST — the one full computation of `records` — then
    // validate emptiness and the within-commit clash rule from the
    // staged KB-scale files in ONE aggregate job. The old shape ran
    // three actions over `records` (isEmpty, clash groupBy, write),
    // each recomputing the source — for deleteWhere that was a full
    // MOR merge per action (§1.2: remove repeated passes).
    def stageLogs(tmp: String): Unit = partCol match {
      case None =>
        records.withColumn("__g", bucket.cast("string"))
          .repartition(col("__g")).write.partitionBy("__g")
          .format("org.apache.spark.sql.avro.AvroFileFormat").save(tmp)
      case Some(pc) =>
        records.withColumn("__p", col(pc).cast("string"))
          .withColumn("__g", bucket.cast("string"))
          .repartition(col("__p"), col("__g")).write.partitionBy("__p", "__g")
          .format("org.apache.spark.sql.avro.AvroFileFormat").save(tmp)
    }
    Stage(base)(stageLogs) { staged =>
      if (staged.isEmpty) throw new IllegalArgumentException("logCommit with nothing to write")
      // within-commit determinism: one deltacommit may not carry two
      // records for the same (partition-local) key — they would land in
      // the same log file with the same merge precedence and the
      // snapshot survivor would be random
      val clashCols =
        if (partCol.isDefined) Seq("_hoodie_partition_path", "_hoodie_record_key")
        else Seq("_hoodie_record_key")
      val clashes = LakeScan.paths(spark, staged.map(_.path.toString),
          format = "org.apache.spark.sql.avro.AvroFileFormat")
        .groupBy(clashCols.map(col): _*)
        .count().filter(col("count") > 1).count()
      if (clashes > 0L) throw new IllegalArgumentException(
        s"logCommit carries $clashes keys more than once (upsert/delete overlap " +
          "or duplicate upserts) — the per-key survivor would be nondeterministic")
      // inflight marker before any file becomes VISIBLE (the staged tree
      // is outside the readers' name grammar) — the two-phase protocol
      Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
      Stage.cells(staged).foreach { l =>
        // partitioned logs live IN the cell's escaped partition dir
        val dir = partCol.fold("")(pc => s"$pc=${l.value("__p")}/")
        val qfid = s"${dir}g${l.value("__g")}"
        val bi = baseInstantOf.getOrElse(qfid,
          throw new IllegalStateException(s"log write targets unknown file group $qfid"))
        val v = existingLogs.count(e => e.fileId == qfid && e.baseInstant == bi) + 1
        Stage.move(l, base, s"${qfid}_$bi.log.${v}_$instant.avro")
      }
    }
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.deltacommit"), "{}")
    instant
  }

  /** MOR compaction: fold every log-carrying file slice into a fresh
    * base file at a new COMMIT instant (Hudi compactions complete as
    * commits, not deltacommits). Old bases and their logs stay on disk
    * — time travel to pre-compaction instants keeps merging them, and
    * the new slice starts log-free. Untouched groups are not
    * rewritten. Returns (compactedGroups, newInstant). */
  def compactMor(spark: SparkSession, base: String): (Int, String) = {
    val all = (HudiReader.completedCommits(base) ++
      HudiReader.completedDeltaCommits(base)).sorted
    val dirty = HudiReader.morSlices(base, all.last).filter(_._2.nonEmpty)
    if (dirty.isEmpty) return (0, all.last)
    val instant = nextInstant(base)
    val merged = HudiReader.readMor(spark, base, all.last)
    val key = keyField(base)
    val bucket = pmod(col(key), lit(numBuckets(base)))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    // a dirty cell whose merged content is EMPTY (every row tombstoned)
    // still needs a fresh base: without one the old slice stays live
    // with its logs forever and the READ-OPTIMIZED view can never
    // converge — real compaction retires the logs with a 0-row base
    def fillEmptyCells(): Unit = dirty.foreach { case (b, _) =>
      val rel = s"${b.fileId}_0-0-0_$instant.parquet"
      if (!Files.exists(Paths.get(base, rel))) Stage.file(merged.limit(0), base, rel)
    }
    HudiReader.partitionFields(base).headOption match {
      case None =>
        val dirtyIds = dirty.map(_._1.fileId.stripPrefix("g").toInt).toSet
        writeBuckets(spark, merged.filter(bucket.isin(dirtyIds.toSeq: _*)),
          base, bucket, instant)
      case Some(pc) =>
        // partitioned: compact exactly the dirty (partition, bucket)
        // cells — dirty fileIds carry the ESCAPED dir spelling, rows
        // carry the LOGICAL one, so match through HivePath
        import org.apache.spark.sql.functions.concat
        val dirtyCells = dirty.map { case (b, _) =>
          val segs = b.fileId.split('/')
          val (c, v) = HivePath.segment(segs.dropRight(1).last).getOrElse(
            throw new IllegalStateException(s"unpartitioned fileId ${b.fileId} " +
              "on a partitioned table"))
          s"$c=$v#${segs.last.stripPrefix("g")}"
        }.toSet
        val cellCol = concat(col("_hoodie_partition_path"), lit("#"),
          bucket.cast("string"))
        writePartitionedBuckets(spark,
          merged.filter(cellCol.isin(dirtyCells.toSeq: _*)),
          base, pc, bucket, instant)
    }
    fillEmptyCells()
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    (dirty.size, instant)
  }

  /** Hudi CLUSTERING — the `replacecommit`: rewrite the live file
    * groups into `targetGroups` NEW, key-range-sorted groups
    * (`c<i>_…`) and complete the instant as `.replacecommit` whose
    * JSON lists the replaced group ids. Readers at or after the
    * instant drop the old groups wholesale and serve the new ones;
    * time travel BEFORE it still sees the bucket layout. Carried rows
    * keep their ORIGINAL `_hoodie_commit_time` — clustering moves
    * bytes, not data — so incremental reads stay truthful across the
    * re-layout. New group ids are INSTANT-scoped (`c<instant>x<i>`) so
    * re-clustering never collides with retired ids. COW only. Returns
    * (replacedGroups, newInstant). */
  def cluster(spark: SparkSession, base: String, targetGroups: Int): (Int, String) = {
    import org.apache.spark.sql.functions.ntile
    require(targetGroups >= 1, s"need at least 1 target group, got $targetGroups")
    HudiReader.assertReadable(base)
    require(HudiReader.partitionFields(base).isEmpty,
      s"clustering a hive-partitioned table is not written yet — real Hudi " +
        "clusters per partition (a replacecommit per partition's groups); " +
        "partitioned tables here keep the (partition, bucket) layout")
    val asOf = HudiReader.completedCommits(base).last
    val live = HudiReader.liveSlices(base, asOf)
    require(live.nonEmpty, s"nothing to cluster under $base")
    val key = keyField(base)
    val instant = nextInstant(base)
    val rows = LakeScan.paths(spark, live.map(_.path))
    // key-range assignment: ntile over the key order gives contiguous,
    // evenly-sized ranges (the read-optimization clustering exists
    // for); at cluster scale this is a repartitionByRange, same shape
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(key))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    writeBuckets(spark, rows, base, ntile(targetGroups).over(w) - 1, instant,
      fileIdPrefix = s"c${instant}x")
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    val replaced = live.map(_.fileId).sorted
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.replacecommit"),
      replaced.map(id => s""""$id"""").mkString("""{"replaced":[""", ",", "]}"))
    (replaced.size, instant)
  }

  /** Routing expression mapping a record key to its LIVE file-group id.
    * Bucket layout: `g<key mod n>` — exact, no data read. Clustered
    * layout (live groups are key-range replacements): a range index
    * rebuilt from the live groups' per-file MIN key, read from each
    * file's parquet footer (no Spark job) — key k routes to the group
    * with the largest min ≤ k, else the lowest group. */
  private def keyRouter(base: String, key: String,
                        live: Seq[HudiReader.BaseFile], clustered: Boolean): Column = {
    import org.apache.spark.sql.functions.{concat, lit => flit, when}
    if (!clustered)
      return concat(flit("g"), pmod(col(key), lit(numBuckets(base))).cast("string"))
    val mins = live.map { f =>
      val mn = ParquetFooters.statsOf(Paths.get(f.path), Seq(key))._2.get(key)
      require(mn.isDefined, s"no integral footer min for record key $key in ${f.path}")
      f.fileId -> mn.get._1
    }.sortBy(_._2)
    mins.tail.foldLeft(flit(mins.head._1): Column) { case (acc, (fid, mn)) =>
      when(col(key) >= flit(mn), fid).otherwise(acc)
    }
  }

  /** Copy-on-write upsert: rows in `df` replace same-key rows; every
    * TOUCHED file group is rewritten wholesale — carried rows keep
    * their ORIGINAL `_hoodie_commit_time`, upserted rows get this
    * instant's. Untouched groups are not rewritten (their files stay;
    * the incremental reader's group pruning depends on it). Composes
    * with clustering: on a clustered table keys route through the
    * rebuilt key-range index (see [[keyRouter]]), and any live group
    * still HOLDING a batch key is rewritten too (range-boundary ties),
    * so nightly clustering + continuous ingest — the normal lifecycle —
    * works. Returns the new instant. */
  def upsert(spark: SparkSession, df: DataFrame, base: String): String = {
    import org.apache.spark.sql.functions.{broadcast, regexp_extract}
    HudiReader.assertReadable(base)
    val key = keyField(base)
    require(df.columns.contains(key), s"upsert batch lacks the record key $key")
    HudiReader.partitionFields(base) match {
      case Seq()        => () // bucket-only root layout below
      case Seq(partCol) => return upsertPartitioned(spark, df, base, key, partCol)
      case many => throw new IllegalArgumentException(
        s"multi-column partitioning (${many.mkString(",")}) is not written yet")
    }
    val instant = nextInstant(base)
    val asOf = HudiReader.completedCommits(base).last
    val live = HudiReader.liveSlices(base, asOf)
    val clustered = HudiReader.replacedGroups(base, asOf).nonEmpty
    val router = keyRouter(base, key, live, clustered)
    val fidOf = regexp_extract(col("_metadata.file_name"),
      "^(.+?)_[0-9]+-[0-9]+-[0-9]+_", 1)
    // groups the batch routes INTO ...
    var touched = df.select(router.as("fid")).distinct()
      .collect().map(_.getString(0)).toSet
    // ... plus, on a clustered table, groups still HOLDING a batch key
    // (equal keys can straddle an ntile range boundary; missing the
    // holder would leave the stale row live) — the standard upsert
    // index-lookup join, one key-column scan
    if (clustered) {
      touched ++= LakeScan.paths(spark, live.map(_.path))
        .withColumn("__fid", fidOf)
        .join(broadcast(df.select(col(key)).distinct()), Seq(key), "left_semi")
        .select("__fid").distinct().collect().map(_.getString(0))
    }
    val slices = live.filter(f => touched.contains(f.fileId))
    require(slices.nonEmpty, s"upsert touches no existing bucket under $base")
    val old = LakeScan.paths(spark, slices.map(_.path)).withColumn("__fid", fidOf)
    val dataCols = old.columns.filterNot(_ == "__fid").toIndexedSeq
    // carried rows stay in their OWN group (identity, never re-routed —
    // re-routing a boundary-tied row into an untouched group would
    // duplicate it); only the batch's rows go through the router
    val carried = old.join(df.select(col(key)).distinct(), Seq(key), "left_anti")
      .select(dataCols.map(col) :+ col("__fid"): _*)
    val stamped = df
      .withColumn("_hoodie_commit_time", lit(instant))
      .withColumn("_hoodie_record_key", col(key).cast("string"))
      .select(dataCols.map(col): _*)
      .withColumn("__fid", router)
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    writeBuckets(spark, carried.unionByName(stamped), base, col("__fid"), instant,
      fileIdPrefix = "", drop = Seq("__fid"))
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }

  /** Partition-aware CoW upsert: a row routes to (its OWN partition
    * value, key mod buckets) — the bucket index is partition-local
    * (non-global-index semantics: the same key in another partition is
    * a DIFFERENT record), so replacement anti-joins on (key, partCol).
    * Only touched cells rewrite; an unseen partition value is a
    * PARTITION BIRTH (new dir, new groups — the everyday event on a
    * date-partitioned ingest table). Carried rows re-derive their own
    * cell deterministically (partition rides in the row, bucket is a
    * pure key function; partitioned tables never re-route groups —
    * clustering is refused), so no file-id plumbing is needed. */
  private def upsertPartitioned(spark: SparkSession, df: DataFrame,
                                base: String, key: String,
                                partCol: String): String = {
    require(df.columns.contains(partCol),
      s"upsert batch lacks the partition column $partCol")
    val n = numBuckets(base)
    val instant = nextInstant(base)
    val asOf = HudiReader.completedCommits(base).last
    val live = HudiReader.liveSlices(base, asOf)
    // cells the batch routes into — bounded by |partitions|·|buckets|,
    // a metadata-plane collect
    val cells = df.select(col(partCol).cast("string").as("p"),
        pmod(col(key), lit(n)).cast("string").as("g"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    val liveByCell = live.flatMap { f =>
      f.fileId.split('/') match {
        case Array(seg, gid) if gid.startsWith("g") =>
          HivePath.segment(seg) match {
            case Some((pc, v)) if pc == partCol =>
              Some((v, gid.stripPrefix("g")) -> f)
            case _ => None
          }
        case _ => None
      }
    }.toMap
    val touched = cells.toSeq.flatMap(liveByCell.get)
    val stamped = stampMeta(df, key, partCol, instant)
    val toWrite =
      if (touched.isEmpty) stamped // pure birth: nothing to carry
      else {
        val old = LakeScan.paths(spark, touched.map(_.path))
        val carried = old.join(
          df.select(col(key), col(partCol)).distinct(),
          Seq(key, partCol), "left_anti")
        carried.unionByName(stamped.select(carried.columns.map(col).toIndexedSeq: _*))
      }
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.inflight"), "")
    writePartitionedBuckets(spark, toWrite, base, partCol,
      pmod(col(key), lit(n)), instant)
    Files.delete(Paths.get(base, ".hoodie", s"$instant.inflight"))
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")
    instant
  }
}
