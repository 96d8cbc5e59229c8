package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only interop with the PUBLIC Apache Hudi copy-on-write table
  * layout — the THIRD foreign format, and a third distinct shape:
  * Delta is a log replayed forward, Iceberg a metadata tree walked
  * down, Hudi a TIMELINE joined against file NAMES. State lives in two
  * places that must agree:
  *
  * {{{
  *   .hoodie/hoodie.properties        → table type (COW vs MOR)
  *   .hoodie/<instant>.commit         → completed instants (the timeline)
  *   .hoodie/<instant>.inflight       → started, NOT readable
  *   <fileId>_<writeToken>_<instant>.parquet   → base files; the name
  *                                      carries the file group AND the
  *                                      instant that wrote it
  * }}}
  *
  * A snapshot read at instant t = for every file group (fileId), the
  * base file with the LARGEST commit instant ≤ t **whose instant is a
  * completed commit** — files written by inflight/failed instants sit
  * in the same directory and must be invisible (that filter is the
  * whole point of the timeline). Upserts rewrite a file group wholesale
  * (copy-on-write), so picking the latest committed slice per group is
  * the entire merge.
  *
  * Scope: COPY_ON_WRITE snapshot + time-travel reads. MERGE_ON_READ
  * (log files to compact) is rejected fast via `hoodie.properties`.
  * Partition values ride inside the data files (Hudi writes them), so
  * the driver-side walk only lists names — data stays on the ordinary
  * pushdown-friendly parquet scan, metadata stays KB-scale.
  */
object HudiReader {

  final case class BaseFile(fileId: String, instant: String, path: String)

  private def hoodieDir(base: String): Path = Paths.get(base, ".hoodie")

  private def props(base: String): Map[String, String] = {
    val p = hoodieDir(base).resolve("hoodie.properties")
    require(Files.exists(p), s"no .hoodie/hoodie.properties under $base")
    Files.readAllLines(p).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _           => None
        }
      }.toMap
  }

  def tableType(base: String): String =
    props(base).getOrElse("hoodie.table.type", "COPY_ON_WRITE")

  def assertReadable(base: String): Unit = {
    val t = tableType(base)
    require(t == "COPY_ON_WRITE",
      s"hoodie.table.type=$t — this is the COPY_ON_WRITE path; MOR reads go through readMor/readOptimized")
  }

  /** Timeline instant types this reader implements. Anything else
    * (savepoint, rollback, restore, real-Hudi compound suffixes like
    * `commit.requested`, …) is REJECTED fast: an unrecognized instant
    * can change which file slices are live, and silently ignoring it
    * mis-slices the table — the worst failure class (wrong answers,
    * no error). */
  private val KnownInstantTypes = Set("commit", "deltacommit", "replacecommit", "inflight",
    "rollback", "savepoint")

  /** The timeline as (instant, type) pairs, ascending by instant —
    * every numbered marker must be a known type. */
  private[sources] def timeline(base: String): Seq[(String, String)] = {
    val d = hoodieDir(base)
    require(Files.isDirectory(d), s"no .hoodie timeline under $base")
    val numbered = "^([0-9]+)\\.(.+)$".r
    Fs.list(d).iterator
      .map(_.getFileName.toString)
      .flatMap {
        case numbered(t, typ) =>
          require(KnownInstantTypes.contains(typ),
            s"unknown Hudi instant type '$typ' in $base's timeline ($t.$typ) — " +
              s"refusing to slice a timeline this reader does not fully understand " +
              s"(known: ${KnownInstantTypes.toSeq.sorted.mkString(", ")})")
          Some(t -> typ)
        case _ => None // hoodie.properties and friends
      }.toSeq.sortBy(_._1)
  }

  /** Completed instants that write BASE files — ordinary commits
    * (create/upsert/compaction) and replacecommits (clustering /
    * insert_overwrite) — ascending. Inflight markers are not
    * completions; rollback/savepoint instants change no slicing. */
  def completedCommits(base: String): Seq[String] =
    timeline(base).collect { case (t, "commit" | "replacecommit") => t }

  /** SAVEPOINTED instants: each pins the table's state at that instant
    * against the cleaner (time travel to it must keep working until
    * the savepoint is released). */
  def savepoints(base: String): Seq[String] =
    timeline(base).collect { case (t, "savepoint") => t }

  /** CRASHED instants: an `.inflight` marker whose instant never
    * completed — the debris [[HudiWriter.rollback]] reclaims. (A
    * successful write DELETES its inflight marker before committing,
    * so any lingering one is a failure.) */
  def failedInstants(base: String): Seq[String] = {
    val tl = timeline(base)
    val done = tl.collect { case (t, typ) if typ != "inflight" => t }.toSet
    tl.collect { case (t, "inflight") if !done.contains(t) => t }
  }

  /** File groups RETIRED by replacecommits at or before `asOf`: a
    * replacecommit's JSON lists the group ids its new files supersede
    * (`{"replaced":["g0",…]}`); as of that instant the whole group —
    * every slice of it — is dead, and the data lives in the NEW groups
    * written at the replace instant. Time travel BEFORE the replace
    * still sees the old groups (the filter is instant-scoped). */
  def replacedGroups(base: String, asOf: String): Set[String] =
    timeline(base).collect { case (t, "replacecommit") if t <= asOf => t }
      .flatMap { t =>
        val body = Files.readString(hoodieDir(base).resolve(s"$t.replacecommit"))
        """"replaced"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(body)
          .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
          .getOrElse(throw new IllegalStateException(
            s"replacecommit $t under $base lists no replaced groups"))
      }.toSet

  /** All base files under the table (driver-side name walk, `.hoodie`
    * excluded), committed or not — the timeline decides visibility. */
  def baseFiles(base: String): Seq[BaseFile] = {
    // non-greedy fileId + a well-formed write token: a retried write
    // changes the token, and a greedy fileId would absorb part of it
    // and split one file group into two
    val name = "^(.+?)_([0-9]+-[0-9]+-[0-9]+)_([0-9]+)\\.parquet$".r
    val root = Paths.get(base)
    Fs.walk(root).iterator
      .filter(p => Files.isRegularFile(p) && !p.startsWith(hoodieDir(base)))
      .flatMap { p =>
        p.getFileName.toString match {
          case name(fileId, _, instant) =>
            // file-group identity is (partition path, fileId) per the
            // spec — two partitions may reuse a name-level fileId, so
            // the id is QUALIFIED with the dir it lives under; every
            // downstream per-group fold (live slices, cleaner,
            // rollback, incremental pruning) is then partition-correct
            // with no signature change. Root files keep the bare id.
            val rel = root.relativize(p.getParent).toString
            val qualified = if (rel.isEmpty) fileId else s"$rel/$fileId"
            Some(BaseFile(qualified, instant, p.toString))
          case _ => None
        }
      }.toSeq
  }

  /** Declared partition columns (`hoodie.table.partition.fields`);
    * empty for the bucket-only root layout. */
  def partitionFields(base: String): Seq[String] =
    props(base).get("hoodie.table.partition.fields").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Live files of ONE hive partition (`partCol=value/`) as of `asOf` —
    * partition pruning for the hive layout: the match is on the
    * UNESCAPED dir value (dir spelling is `%XX`-escaped on disk), and
    * nothing outside the partition is listed into the scan. */
  def sliceFilesWhere(base: String, asOf: String,
                      partCol: String, value: String): Seq[String] =
    liveSlices(base, asOf).filter { f =>
      f.fileId.split('/').dropRight(1)
        .exists(seg => HivePath.segment(seg).contains(partCol -> value))
    }.map(_.path).sorted

  /** Partition-pruned snapshot read at the latest commit. */
  def readWhere(spark: SparkSession, base: String,
                partCol: String, value: String): DataFrame = {
    require(partitionFields(base).contains(partCol),
      s"$base is not partitioned by $partCol " +
        s"(declared: ${partitionFields(base).mkString(",") match { case "" => "none"; case x => x }})")
    val files = sliceFilesWhere(base, completedCommits(base).last, partCol, value)
    require(files.nonEmpty, s"no live files in partition $partCol=$value under $base")
    LakeScan.paths(spark, files)
  }

  /** The live file slice per file group as of `asOf`: max committed
    * instant ≤ asOf. Groups created after `asOf` drop out. */
  def sliceFiles(base: String, asOf: String): Seq[String] =
    liveSlices(base, asOf).map(_.path).sorted

  /** The live base file per file group as of `asOf` (committed, latest
    * slice, replaced groups dropped). */
  private[sources] def liveSlices(base: String, asOf: String): Seq[BaseFile] = {
    assertReadable(base)
    val committed = completedCommits(base).filter(_ <= asOf).toSet
    require(committed.nonEmpty, s"no completed commit at or before $asOf under $base")
    val dead = replacedGroups(base, asOf)
    baseFiles(base)
      .filter(f => committed.contains(f.instant))
      .groupBy(_.fileId).values
      .map(_.maxBy(_.instant))
      .filterNot(f => dead.contains(f.fileId))
      .toSeq
  }

  /** The file slices an incremental read in (from, to] must open:
    * latest committed slice per group as of `to`, RESTRICTED to groups
    * whose latest instant falls in the range — untouched file groups
    * are pruned from the scan entirely (Hudi's incremental candidate
    * pruning; at scale this is what keeps a CDC poll from re-reading
    * the table). */
  def incrementalFiles(base: String, fromTime: String, toTime: String): Seq[String] = {
    assertReadable(base)
    val committed = completedCommits(base).filter(_ <= toTime).toSet
    val dead = replacedGroups(base, toTime)
    baseFiles(base)
      .filter(f => committed.contains(f.instant))
      .groupBy(_.fileId).values
      .map(_.maxBy(_.instant))
      .filterNot(f => dead.contains(f.fileId))
      .filter(_.instant > fromTime)
      .map(_.path).toSeq.sorted
  }

  /** Hudi incremental query: the rows commits in (from, to] wrote.
    * A copy-on-write rewrite copies unchanged rows forward with their
    * ORIGINAL `_hoodie_commit_time`, so filtering the pruned slices on
    * that meta column surfaces exactly the upserted rows — deletes, by
    * design, surface as absence, not rows. */
  def readIncremental(spark: SparkSession, base: String,
                      fromTime: String, toTime: String): DataFrame = {
    val files = incrementalFiles(base, fromTime, toTime)
    require(files.nonEmpty, s"no commits in ($fromTime, $toTime] under $base")
    val df = LakeScan.paths(spark, files)
    require(df.columns.contains("_hoodie_commit_time"),
      s"$base carries no _hoodie_commit_time meta column — not incremental-readable")
    df.filter(org.apache.spark.sql.functions.col("_hoodie_commit_time") > fromTime &&
      org.apache.spark.sql.functions.col("_hoodie_commit_time") <= toTime)
  }

  /** Time-travel snapshot read. */
  def readAsOf(spark: SparkSession, base: String, asOf: String): DataFrame = {
    val files = sliceFiles(base, asOf)
    require(files.nonEmpty, s"empty snapshot at $asOf of $base")
    LakeScan.paths(spark, files)
  }

  /** Latest-committed snapshot read. */
  def read(spark: SparkSession, base: String): DataFrame = {
    val commits = completedCommits(base)
    require(commits.nonEmpty, s"no completed commits under $base")
    readAsOf(spark, base, commits.last)
  }

  // ---- MERGE_ON_READ ------------------------------------------------------
  //
  // The streaming-ingest table shape: writes land as LOG files against a
  // base file (a `.deltacommit` instant each), reads merge them by record
  // key, and a compaction commit folds logs into a fresh base. Two views:
  //   - SNAPSHOT  = base ⊎ logs merged (latest writer wins per key,
  //     `_hoodie_is_deleted` tombstones drop the key),
  //   - READ-OPTIMIZED = base files only (cheap, bounded-staleness).
  //
  // Log files keep Hudi's name grammar minus the leading dot (Spark file
  // sources treat dotfiles as hidden and would refuse to scan them) and
  // carry their committing instant in the token slot (real Hudi reads it
  // from the log-block headers, which this minimal layout does not have):
  //   `<fileId>_<baseInstant>.log.<version>_<instant>.avro`
  // A log attaches to the file SLICE whose base instant it names, so
  // after compaction old logs stay attached to the superseded base and
  // the new base starts clean — exactly the spec's slice algebra.

  final case class LogFile(fileId: String, baseInstant: String,
                           version: Int, instant: String, path: String)

  private val morLogFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Completed delta commits (MOR log writes), ascending. */
  def completedDeltaCommits(base: String): Seq[String] =
    timeline(base).collect { case (t, "deltacommit") => t }

  /** All log files under the table (driver-side name walk). A log in
    * a hive partition dir gets the same DIR-QUALIFIED fileId spelling
    * as [[baseFiles]] — file groups are partition-local (Hudi's
    * non-global index), so the (partition, group) pair IS the group
    * identity and the slice join below must key on it. */
  def logFiles(base: String): Seq[LogFile] = {
    val name = "^(.+?)_([0-9]+)\\.log\\.([0-9]+)_([0-9]+)\\.avro$".r
    val root = Paths.get(base)
    Fs.walk(root).iterator
      .filter(p => Files.isRegularFile(p) && !p.startsWith(hoodieDir(base)))
      .flatMap { p =>
        p.getFileName.toString match {
          case name(fid, bi, v, instant) =>
            val rel = root.relativize(p.getParent).toString
            val qualified = if (rel.isEmpty) fid else s"$rel/$fid"
            Some(LogFile(qualified, bi, v.toInt, instant, p.toString))
          case _ => None
        }
      }.toSeq
  }

  /** The live file slices of a MOR table as of `asOf`: per group, the
    * latest base file whose instant is a completed COMMIT (create or
    * compaction), plus the completed-DELTACOMMIT logs attached to that
    * base instant, ordered by log version. */
  def morSlices(base: String, asOf: String): Seq[(BaseFile, Seq[LogFile])] = {
    require(tableType(base) == "MERGE_ON_READ",
      s"morSlices on a ${tableType(base)} table — use sliceFiles")
    val commits = completedCommits(base).filter(_ <= asOf).toSet
    require(commits.nonEmpty, s"no completed commit at or before $asOf under $base")
    val deltas = completedDeltaCommits(base).filter(_ <= asOf).toSet
    val dead = replacedGroups(base, asOf)
    val logsByGroup = logFiles(base)
      .filter(l => deltas.contains(l.instant))
      .groupBy(l => (l.fileId, l.baseInstant))
    baseFiles(base)
      .filter(f => commits.contains(f.instant))
      .groupBy(_.fileId).values.map { fs =>
        val b = fs.maxBy(_.instant)
        (b, logsByGroup.getOrElse((b.fileId, b.instant), Seq.empty)
          .sortBy(l => (l.instant, l.version)))
      }.toSeq
      .filterNot(s => dead.contains(s._1.fileId))
      .sortBy(_._1.path)
  }

  /** MOR read-optimized view: base files only — the bounded-staleness
    * query Hudi serves from `_ro` tables. Plain parquet scan (schema
    * from one footer driver-side — no per-call schema-inference job). */
  def readOptimized(spark: SparkSession, base: String, asOf: String): DataFrame = {
    val bases = morSlices(base, asOf).map(_._1.path)
    require(bases.nonEmpty, s"empty read-optimized snapshot at $asOf of $base")
    LakeScan.paths(spark, bases,
      Some(org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, bases.head)))
  }

  /** MOR snapshot view: per record key, the LAST writer wins — log
    * records (by ascending log version) supersede the base row, and a
    * `_hoodie_is_deleted=true` tombstone drops the key. The merge is
    * ONE shuffle keyed by `_hoodie_record_key` (keys are routed to one
    * file group by the bucket index, so the per-key window never
    * crosses groups) — the standard distributed compact-on-read, no
    * driver participation, pushdown intact on both scans. */
  def readMor(spark: SparkSession, base: String, asOf: String): DataFrame =
    mergeMorSlices(spark, base, morSlices(base, asOf), asOf)

  /** Partition-pruned MOR snapshot read: only the named partition's
    * slices (bases AND their logs) enter the scan — the MOR twin of
    * [[readWhere]], what keeps a dimension query on a streaming-ingest
    * table from merging the whole corpus. */
  def readMorWhere(spark: SparkSession, base: String, partCol: String,
                   value: String): DataFrame = {
    require(partitionFields(base).contains(partCol),
      s"$base is not partitioned by $partCol " +
        s"(declared: ${partitionFields(base).mkString(",")})")
    val asOf = (completedCommits(base) ++ completedDeltaCommits(base)).sorted.last
    val slices = morSlices(base, asOf).filter { case (b, _) =>
      b.fileId.split('/').dropRight(1)
        .exists(seg => HivePath.segment(seg).contains(partCol -> value))
    }
    require(slices.nonEmpty, s"no live slices in partition $partCol=$value under $base")
    mergeMorSlices(spark, base, slices, asOf)
  }

  private def mergeMorSlices(spark: SparkSession, base: String,
                             slices: Seq[(BaseFile, Seq[LogFile])],
                             asOf: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max_by, struct}
    require(slices.nonEmpty, s"empty MOR snapshot at $asOf of $base")
    val bases = slices.map(_._1.path)
    val logs = slices.flatMap(_._2)
    val baseDf = LakeScan.paths(spark, bases,
      Some(org.apache.spark.sql.GraftPlanBridge.parquetFooterSchema(spark, bases.head)))
    val dataCols = baseDf.columns.filterNot(_ == "_hoodie_is_deleted")
    if (logs.isEmpty) return baseDf.select(dataCols.map(col).toIndexedSeq: _*)
    // precedence: any log beats base; later log versions beat earlier.
    // Version rides the FILE NAME, so ALL logs are read in ONE avro
    // scan and the precedence joins in from a KB-scale broadcast keyed
    // by `_metadata.file_name` — a per-log-file union would grow the
    // plan linearly in log count (an analyzer blow-up at 10⁴ logs).
    // The multiplier is wide enough for 10⁶ log versions per slice;
    // within-file ties cannot occur ([[HudiWriter.logCommit]] rejects
    // key overlap between the upserts and tombstones of one commit).
    val precRows = logs.map(l =>
      (Paths.get(l.path).getFileName.toString, l.instant.toLong * 1000000L + l.version))
    val prec = spark.createDataFrame(precRows).toDF("__log_name", "__prec")
    val logDf = LakeScan.paths(spark, logs.map(_.path), format = morLogFmt)
      .withColumn("__log_name", col("_metadata.file_name"))
      .join(broadcast(prec), Seq("__log_name"))
      .drop("__log_name")
    val merged = baseDf.withColumn("__prec", lit(0L))
      .withColumn("_hoodie_is_deleted", lit(false))
      .unionByName(logDf)
    // the bucket index is PARTITION-LOCAL (non-global): the same record
    // key may legitimately live in two partitions, so a hive-partitioned
    // table merges per (partition, key) — never across partitions.
    // Last-writer-wins as a HASH AGGREGATE (max_by on the precedence,
    // unique per key by the within-commit clash rule), not a window:
    // the aggregate partial-combines map-side and never sorts, where
    // the row_number window paid a full sort of every merged row after
    // the same shuffle (§2.3 aggregate-before-shuffle).
    val mergeKeys =
      if (baseDf.columns.contains("_hoodie_partition_path"))
        Seq(col("_hoodie_partition_path"), col("_hoodie_record_key"))
      else Seq(col("_hoodie_record_key"))
    val payload = struct((dataCols :+ "_hoodie_is_deleted").map(col).toIndexedSeq: _*)
    merged.groupBy(mergeKeys: _*)
      .agg(max_by(payload, col("__prec")).as("__winner"))
      .filter(!col("__winner._hoodie_is_deleted"))
      .select(dataCols.map(c => col(s"__winner.$c").as(c)).toIndexedSeq: _*)
  }

  /** Latest MOR snapshot (across commits AND deltacommits). */
  def readMor(spark: SparkSession, base: String): DataFrame = {
    val all = (completedCommits(base) ++ completedDeltaCommits(base)).sorted
    require(all.nonEmpty, s"no completed instants under $base")
    readMor(spark, base, all.last)
  }
}
