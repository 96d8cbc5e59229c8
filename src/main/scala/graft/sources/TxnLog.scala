package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption, FileAlreadyExistsException}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal copy-on-write transactional table format (lakehouse-lite).
  *
  * Layout:
  * {{{
  *   <base>/data/<uuid>.parquet/          one parquet dir per committed file group
  *   <base>/_txnlog/00000.txn             ordered commit manifests
  * }}}
  *
  * A manifest is a TSV action log (one action per line):
  * {{{
  *   add    <relative-path>  <rows>  <statMin>  <statMax>
  *   remove <relative-path>
  * }}}
  * where statMin/statMax are min/max of a declared Long stat column
  * (file-skipping metadata, the role parquet footers play inside a file
  * and Iceberg manifests play across files). `-` when no stat column.
  *
  * Commit protocol (optimistic concurrency, serializable log order):
  *  1. write the manifest body to `_txnlog/.tmp-<uuid>` and fsync;
  *  2. publish it as version N via `Files.createLink(N.txn, tmp)` — a
  *     hard link is atomic on POSIX and FAILS if the destination exists,
  *     unlike rename(2), which silently overwrites. A loser of the race
  *     re-reads the log (its snapshot may now be stale), rebases, and
  *     retries at N+1.
  *  On HDFS the equivalent primitive is rename-without-overwrite; object
  *  stores need an external CAS (a DynamoDB/Postgres log store) — the
  *  protocol shape is identical, only the atomic-publish primitive moves.
  *
  * Reads are snapshot-isolated for free: version N's live set is fully
  * determined by manifests 0..N, and data files are immutable once
  * published, so a reader pinned at N never sees a concurrent writer.
  * Deletes/updates are copy-on-write: rewrite affected files, one
  * `remove` + one `add` per file, all in a single atomic commit.
  */
final class TxnLog(spark: SparkSession, base: String, statCol: Option[String] = None,
                   branchInfo: Option[(String, Int)] = None,
                   bloomCol: Option[String] = None) {
  import TxnLog.{AddFile, Manifest}

  private val mainLogDir: Path = Paths.get(base, "_txnlog")
  // a branch's own manifests live under _txnlog/branch=<name>/ and start
  // at forkVersion+1; versions <= forkVersion resolve from the parent
  // (main) chain — the git model: shared immutable history + divergent tips
  private val branchLogDir: Option[Path] =
    branchInfo.map { case (name, _) => mainLogDir.resolve(s"branch=$name") }
  private val forkVersion: Int = branchInfo.map(_._2).getOrElse(Int.MaxValue)
  private def logDirFor(v: Int): Path =
    if (v <= forkVersion) mainLogDir else branchLogDir.get
  private val logDir: Path = branchLogDir.getOrElse(mainLogDir)
  private val dataDir: Path = Paths.get(base, "data")

  def init(): Unit = { Files.createDirectories(logDir); Files.createDirectories(dataDir) }

  /** Fork a named branch at `fromVersion`. Branch commits are invisible
    * to main (and vice versa from `fromVersion+1` on); data files are
    * shared and immutable, so branching is a METADATA-ONLY operation —
    * the what-if/experiment primitive (reprocess a slice on a branch,
    * compare, then promote or drop) at any table size. The branch meta
    * (fork point) is published with the same fails-if-exists hard-link
    * primitive as a commit, so branch creation cannot race. Vacuum runs
    * from main but retains every group any branch references. */
  def branch(name: String, fromVersion: Int): TxnLog = {
    require(branchInfo.isEmpty, "branching from a branch is not supported")
    require(fromVersion <= latestVersion(), s"cannot fork at unborn version $fromVersion")
    val bdir = mainLogDir.resolve(s"branch=$name")
    Files.createDirectories(bdir)
    val meta = bdir.resolve("_meta")
    if (!Files.exists(meta)) {
      val tmp = bdir.resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(tmp, s"fork\t$fromVersion\n".getBytes(StandardCharsets.UTF_8))
      try Files.createLink(meta, tmp)
      catch { case _: FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }
    val persistedFork = Files.readString(meta).trim.split('\t')(1).toInt
    new TxnLog(spark, base, statCol, Some((name, persistedFork)))
  }

  /** Open an existing branch (fork point read from its published meta). */
  def openBranch(name: String): TxnLog = {
    val meta = mainLogDir.resolve(s"branch=$name").resolve("_meta")
    val fork = Files.readString(meta).trim.split('\t')(1).toInt
    new TxnLog(spark, base, statCol, Some((name, fork)))
  }

  /** Fast-forward promote: adopt a branch's commits onto main by
    * hard-linking its manifest files into the main chain — metadata
    * only, like the branch itself. Legal only while main's tip is still
    * the branch's fork point (true fast-forward; a diverged main needs
    * a rebase, which is the caller's decision). Each link is the same
    * atomic fails-if-exists publish as a commit, so losing a race to a
    * concurrent main writer aborts cleanly mid-sequence — and the
    * already-promoted prefix is a VALID main history (every branch
    * manifest was built on the fork snapshot), exactly like a partially
    * pushed commit stack. Returns main's new tip. */
  def promote(name: String): Int = {
    require(branchInfo.isEmpty, "promote runs on the main handle")
    val b = openBranch(name)
    val fork = b.forkVersion
    require(latestVersion() == fork,
      s"main advanced past fork $fork — rebase the branch before promoting")
    var tip = fork
    ((fork + 1) to b.latestVersion()).foreach { v =>
      try {
        Files.createLink(manifestPath(v), b.manifestPath(v))
        tip = v
      } catch { case _: FileAlreadyExistsException =>
        return tip // lost the race to a concurrent main commit
      }
    }
    tip
  }

  /** Highest committed version, or -1 for an empty log. On a branch:
    * the fork version until the branch has own commits. */
  def latestVersion(): Int = {
    if (!Files.exists(logDir)) return branchInfo.map(_._2).getOrElse(-1)
    val it = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      val own = it.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".txn"))
        .map(_.stripSuffix(".txn").toInt)
        .foldLeft(-1)(math.max)
      if (branchInfo.isDefined) math.max(own, forkVersion) else own
    } finally it.close()
  }

  private def manifestPath(v: Int): Path = logDirFor(v).resolve(f"$v%05d.txn")

  private def readManifest(v: Int): Manifest =
    TxnLog.parseManifest(manifestPath(v), v)

  /** Live file set at `version` (inclusive), in commit order. */
  def snapshotFiles(version: Int): Seq[AddFile] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    (0 to version).foreach { v =>
      val m = readManifest(v)
      m.removes.foreach(live.remove)
      m.adds.foreach(a => live(a.path) = a)
    }
    live.values.toSeq
  }

  /** Change set of commit `v` against the previous snapshot: the added
    * file groups and the removed ones WITH their manifest stats (rows,
    * min/max) resolved from the v-1 live set — everything incremental
    * CDC needs, without touching a single data file. */
  def changes(v: Int): (Seq[AddFile], Seq[AddFile]) = {
    val prev = snapshotFiles(v - 1).map(f => f.path -> f).toMap
    val m = readManifest(v)
    (m.adds, m.removes.map(prev))
  }

  /** Atomically publish a manifest; returns the committed version.
    * Retries (rebase is the caller's concern — for append-only commits a
    * blind retry is always serializable; rewrites re-derive their file
    * set). An optional `txn` marker rides the manifest for idempotent
    * re-delivery detection (see [[commitIfAbsent]]); on a publish race
    * the marker is re-checked against every manifest that won, so a
    * duplicate (app, batch) can never land twice. */
  def commit(adds: Seq[AddFile], removes: Seq[String],
             txn: Option[(String, Long)] = None,
             quarantines: Seq[AddFile] = Seq.empty,
             blooms: Seq[(String, String)] = Seq.empty): Int = {
    val body = (txn.toSeq.map { case (a, b) => s"txn\t$a\t$b" } ++
      removes.map(p => s"remove\t$p") ++
      adds.map(a => s"add\t${a.path}\t${a.rows}\t${a.statMin}\t${a.statMax}") ++
      quarantines.map(a => s"qrn\t${a.path}\t${a.rows}\t${a.statMin}\t${a.statMax}") ++
      blooms.map { case (p, sc) => s"blm\t$p\t$sc" })
      .mkString("", "\n", "\n")
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try {
      var v = latestVersion() + 1
      var committed = -1
      while (committed < 0) {
        txn.foreach { t =>
          // a racing writer may have published our (app, batch) between
          // retries — losing the publish race means re-reading the log
          if ((0 until v).exists(i => readManifest(i).txns.contains(t)))
            return -1
        }
        try {
          Files.createLink(manifestPath(v), tmp) // atomic publish; fails if exists
          committed = v
        } catch { case _: FileAlreadyExistsException => v += 1 }
      }
      committed
    } finally Files.deleteIfExists(tmp)
  }

  /** RESTORE VERSION AS OF `v`: one metadata-only commit whose live set
    * becomes exactly snapshot(v)'s — files live now but not at v are
    * removed, files live at v but since removed are re-added. No data
    * file is touched (immutability makes old bytes still correct), so
    * restore cost is manifest-sized at any table size. History is NOT
    * rewritten: the restore is a new version on top, so the bad
    * interval stays auditable and a restore can itself be restored
    * away. Only valid while vacuum's retention window still covers v's
    * files — the same contract as Delta's RESTORE. */
  def restore(v: Int): Int = {
    val target = snapshotFiles(v)
    val cur = snapshotFiles(latestVersion())
    val targetPaths = target.map(_.path).toSet
    val curPaths = cur.map(_.path).toSet
    commit(target.filterNot(f => curPaths.contains(f.path)),
      cur.map(_.path).filterNot(targetPaths.contains))
  }

  /** Idempotent streaming-sink commit: write-and-commit `df` tagged with
    * (appId, batchId) UNLESS that transaction already appears in the log
    * — the exactly-once contract a `foreachBatch` sink needs when the
    * engine re-delivers a batch after a restart (the committed marker,
    * not the checkpoint, is the source of truth on the table side).
    * Returns the committed version, or -1 when nothing was committed:
    * the batch was already in, or it held no rows. */
  def commitIfAbsent(appId: String, batchId: Long, df: DataFrame): Int = {
    val v = latestVersion()
    val seen = (0 to v).exists(i => readManifest(i).txns.contains(appId -> batchId))
    if (seen) return -1
    // an empty batch (the write's own observed count) commits nothing,
    // not even its marker
    val adds = writeGroup(df).toSeq
    if (adds.isEmpty) return -1
    val committed = commit(adds, Seq.empty, txn = Some(appId -> batchId))
    if (committed < 0) adds.foreach(a => TxnLog.rmrf(s"$base/${a.path}")) // lost the race
    committed
  }

  /** Write `df` as a new file group and commit it as an append. */
  def append(df: DataFrame): Int = {
    val adds = writeGroup(df, withBloom = bloomCol.isDefined).toSeq
    commit(adds, Seq.empty,
      blooms = if (bloomCol.isDefined) adds.map(a => a.path -> s"${a.path}.bloom")
               else Seq.empty)
  }

  /** CHECK-constraint-gated append: rows satisfying `constraint` enter
    * the live table; violating rows (constraint FALSE or NULL — the SQL
    * CHECK semantics) land in a quarantine file group referenced by a
    * `qrn` action in the SAME manifest, so the accept/divert decision is
    * one atomic publish — an auditor replaying the log sees exactly
    * which commit diverted what, and a half-applied gate is impossible.
    * The quarantine is never part of any snapshot; [[quarantined]]
    * reads it back for triage. Returns the committed version. */
  def appendChecked(df: DataFrame, constraint: org.apache.spark.sql.Column): Int = {
    val pass = coalesce(constraint, lit(false))
    val good = writeGroup(df.filter(pass))
    val bad = writeGroup(df.filter(!pass))
    commit(good.toSeq, Seq.empty, quarantines = bad.toSeq)
  }

  /** All quarantine artifacts up to `version` (append-only audit set). */
  def quarantined(version: Int): Seq[AddFile] =
    (0 to version).flatMap(v => readManifest(v).quarantines)

  /** Quarantine read-back for triage; empty quarantine is a valid state
    * so the caller gets an empty-schema-safe option. */
  def readQuarantine(version: Int): Option[DataFrame] = {
    val q = quarantined(version)
    if (q.isEmpty) None else Some(readFiles(q))
  }

  /** Write one file group, with the manifest stats (row count, min/max of
    * the stat column) OBSERVED on the write job itself — no second scan
    * of freshly written data, the same single-pass stats collection a
    * production table format does. An empty group is not committed. */
  private def writeGroup(df: DataFrame, withBloom: Boolean = false): Option[AddFile] = {
    val rel = s"data/${UUID.randomUUID()}.parquet"
    val obs = org.apache.spark.sql.Observation()
    val observed = statCol match {
      case Some(c) => df.observe(obs, count(lit(1)).as("n"),
        min(col(c)).as("lo"), max(col(c)).as("hi"))
      case None => df.observe(obs, count(lit(1)).as("n"))
    }
    observed.write.parquet(s"$base/$rel")
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    if (n == 0L) { TxnLog.rmrf(s"$base/$rel"); None }
    else {
      // optional per-file bloom index sidecar (the Delta bloom-index /
      // Iceberg puffin pattern): built from the freshly written group
      // (ONE extra scan of the new group only — the index build a
      // production format also pays, deliberately off the Observation
      // fast path since a bloom can't ride an aggregate), referenced
      // from the manifest (`blm` line) so a point lookup can skip files
      // at PLANNING time on a column the sort/stat order doesn't help
      // with. Built ONLY when the caller will commit a blm reference
      // (append) — rewrite paths (COW delete/upsert/compact) would
      // otherwise pay the scan and strand an orphan sidecar no manifest
      // points at; they degrade to always-planned instead.
      if (withBloom) bloomCol.foreach { c =>
        val bloom = ParquetFooters.read(spark, Seq(s"$base/$rel"))
          .stat.bloomFilter(c, math.max(n, 1L), 0.01)
        val out = Files.newOutputStream(Paths.get(base, s"$rel.bloom"))
        try bloom.writeTo(out) finally out.close()
      }
      Some(AddFile(rel, n,
        if (statCol.isDefined) m("lo").asInstanceOf[Long] else Long.MinValue,
        if (statCol.isDefined) m("hi").asInstanceOf[Long] else Long.MaxValue))
    }
  }

  /** Copy-on-write delete: files holding at least one matching row are
    * removed and their surviving rows rewritten as a fresh file group
    * (delete + minor compaction), all in ONE commit so readers never
    * observe a half-applied delete. Untouched files are left in place.
    * Two jobs total regardless of file count: one pushdown-filtered
    * probe scan finds the touched files (`input_file_name` groups), one
    * rewrite job writes the survivors — the shape that holds at 100 TB,
    * where per-file driver loops would mean millions of tiny jobs. */
  def deleteWhere(pred: org.apache.spark.sql.Column): Int = {
    val ver = latestVersion()
    val files = snapshotFiles(ver)
    val touchedDirs = readFiles(files).filter(pred)
      .select(input_file_name().as("f")).distinct().collect()
      .map(_.getString(0)).toSeq
    val touched = files.filter(f => touchedDirs.exists(_.contains(s"/${f.path}/")))
    if (touched.isEmpty) return ver
    val keep = ParquetFooters.read(spark, touched.map(f => s"$base/${f.path}"))
      .filter(!pred)
    commit(writeGroup(keep).toSeq, touched.map(_.path))
  }

  /** Copy-on-write MERGE: `WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
    * INSERT *` against the live snapshot, keyed by `keyCol`. The delta's
    * keys are broadcast twice — a semi-join probe finds the touched
    * files, an anti-join keeps their unmatched survivors — then ONE new
    * group holds survivors + the whole delta, and one atomic commit
    * swaps it in. Two jobs + one write regardless of table size; the
    * broadcast assumes the delta is small relative to the table, which
    * is the MERGE shape that exists at 100 TB (a day's changes against
    * years of history). */
  def upsert(updates: DataFrame, keyCol: String): Int = {
    val ver = latestVersion()
    val files = snapshotFiles(ver)
    val keys = updates.select(keyCol)
    // input_file_name() is single-source only — stamp it BEFORE the probe
    // join introduces the (broadcast) second source
    val touchedDirs = readFiles(files)
      .withColumn("_f", input_file_name())
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(col("_f")).distinct().collect()
      .map(_.getString(0)).toSeq
    val touched = files.filter(f => touchedDirs.exists(_.contains(s"/${f.path}/")))
    val merged =
      if (touched.isEmpty) updates
      else ParquetFooters.read(spark, touched.map(f => s"$base/${f.path}"))
        .join(broadcast(keys), Seq(keyCol), "left_anti")
        .unionByName(updates)
    commit(writeGroup(merged).toSeq, touched.map(_.path))
  }

  /** Small-file compaction (OPTIMIZE): every live group under
    * `maxRows` is folded into one rewritten group in a single atomic
    * commit — data identical by construction, time travel to the
    * pre-compaction layout intact. Groups at or above the threshold
    * keep their files (and their tighter stats ranges). At 100 TB this
    * is the maintenance commit that keeps per-file metadata and scan
    * task counts bounded as daily appends accrete. */
  def compact(maxRows: Long): Int = {
    val ver = latestVersion()
    val small = snapshotFiles(ver).filter(_.rows < maxRows)
    if (small.size < 2) return ver
    val merged = ParquetFooters.read(spark, small.map(f => s"$base/${f.path}"))
    commit(writeGroup(merged.coalesce(1)).toSeq, small.map(_.path))
  }

  /** Physical cleanup (VACUUM): delete every data group on disk that no
    * snapshot in [retainFrom, latest] references. Time travel to
    * versions before `retainFrom` is sacrificed — the standard
    * retention trade. Returns the removed group paths. Metadata-only
    * decision (manifest union vs directory listing), so its cost is
    * file-count-, not data-, proportional. */
  def vacuum(retainFrom: Int): Seq[String] = {
    val latest = latestVersion()
    import scala.jdk.CollectionConverters._
    // every group any branch tip references stays: branches share main's
    // data files, so a main-side retention decision must see them
    val branchRefs: Set[String] = {
      if (!Files.exists(mainLogDir)) Set.empty
      else {
        val it = Files.list(mainLogDir)
        try it.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("branch="))
          .flatMap { bdir =>
            val name = bdir.getFileName.toString.stripPrefix("branch=")
            val b = openBranch(name)
            (0 to b.latestVersion()).flatMap(v =>
              b.snapshotFiles(v).map(_.path) ++ b.readManifest(v).quarantines.map(_.path))
          }.toSet
        finally it.close()
      }
    }
    // quarantine artifacts are audit data: retained alongside the same
    // version window (a vacuumed-away version's quarantine goes with it)
    val referenced = ((retainFrom to latest)
      .flatMap(v => snapshotFiles(v).map(_.path)) ++
      (retainFrom to latest).flatMap(v => readManifest(v).quarantines.map(_.path))).toSet ++ branchRefs
    import scala.jdk.CollectionConverters._
    val onDisk = {
      val it = Files.list(dataDir)
      try it.iterator().asScala.map(p => s"data/${p.getFileName}").toList
      finally it.close()
    }
    // a bloom sidecar lives and dies with its data group
    val doomed = onDisk.filterNot(p => referenced.contains(p) ||
      (p.endsWith(".bloom") && referenced.contains(p.stripSuffix(".bloom"))))
    doomed.foreach(p => TxnLog.rmrf(s"$base/$p"))
    doomed.sorted
  }

  /** Snapshot read at `version` (time travel). */
  def read(version: Int): DataFrame = readFiles(snapshotFiles(version))

  /** Schema-evolving snapshot read: file groups written before a column
    * existed surface it as NULL (parquet mergeSchema across the live
    * set). Additive evolution costs NO rewrite — only readers that ask
    * for the union schema pay the footer merge. */
  def readEvolved(version: Int): DataFrame = {
    val files = snapshotFiles(version)
    if (files.isEmpty) throw new IllegalStateException("empty snapshot read")
    LakeScan.paths(spark, files.map(f => s"$base/${f.path}"), mergeSchema = true)
  }

  /** Latest-snapshot read. */
  def read(): DataFrame = read(latestVersion())

  /** Stats-pruned snapshot read: only files whose [statMin, statMax]
    * range overlaps [lo, hi] are planned — manifest-level file skipping,
    * BEFORE any parquet footer is opened. The caller still applies the
    * row-level filter; pruning is a superset guarantee. */
  def readPruned(version: Int, lo: Long, hi: Long): DataFrame = {
    val files = snapshotFiles(version).filter(f => f.statMax >= lo && f.statMin <= hi)
    readFiles(files)
  }

  /** Point lookup on the bloom-indexed column: plans ONLY the file
    * groups whose sidecar bloom might contain `value` (files without a
    * bloom — e.g. COW rewrites — are always planned: a missing index
    * degrades to a scan, never to a wrong answer). This is the skipping
    * axis min/max stats can't give: a high-cardinality key uncorrelated
    * with the layout order has useless ranges, but its bloom kills
    * (1−fpp) of non-matching files at PLANNING time from KB of sidecar.
    * The caller applies the exact filter — bloom hits are candidates. */
  def readPointLookup(version: Int, value: Long): DataFrame = {
    val blooms: Map[String, String] =
      (0 to version).flatMap(v => readManifest(v).blooms).toMap
    val files = snapshotFiles(version)
    val keep = files.filter { f =>
      blooms.get(f.path) match {
        case Some(sc) =>
          val in = Files.newInputStream(Paths.get(base, sc))
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
            .mightContainLong(value)
          finally in.close()
        case None => true
      }
    }
    // an absent key can legitimately plan ZERO files — that's the win
    if (keep.isEmpty) readFiles(files).limit(0) else readFiles(keep)
  }

  private def readFiles(files: Seq[AddFile]): DataFrame = {
    if (files.isEmpty)
      throw new IllegalStateException("empty snapshot read")
    ParquetFooters.read(spark, files.map(f => s"$base/${f.path}"))
  }
}

object TxnLog {
  final case class AddFile(path: String, rows: Long, statMin: Long, statMax: Long)
  final case class Manifest(adds: Seq[AddFile], removes: Seq[String],
    txns: Seq[(String, Long)] = Seq.empty,
    quarantines: Seq[AddFile] = Seq.empty,
    blooms: Map[String, String] = Map.empty)

  /** Parse one manifest file (shared by the instance reader and the
    * streaming source, which runs without a TxnLog instance). */
  def parseManifest(p: Path, v: Int): Manifest = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
    val adds = Seq.newBuilder[AddFile]
    val removes = Seq.newBuilder[String]
    val txns = Seq.newBuilder[(String, Long)]
    val qrns = Seq.newBuilder[AddFile]
    val blms = Seq.newBuilder[(String, String)]
    // an action-less commit (e.g. restore to the current state) is a
    // single blank line — legal, not corruption
    lines.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("add", p0, rows, lo, hi) =>
          adds += AddFile(p0, rows.toLong,
            if (lo == "-") Long.MinValue else lo.toLong,
            if (hi == "-") Long.MaxValue else hi.toLong)
        case Array("remove", p0) => removes += p0
        case Array("txn", app, batch) => txns += (app -> batch.toLong)
        // quarantine artifact: referenced by the commit for audit/replay
        // but NEVER part of the live snapshot
        case Array("qrn", p0, rows, lo, hi) =>
          qrns += AddFile(p0, rows.toLong,
            if (lo == "-") Long.MinValue else lo.toLong,
            if (hi == "-") Long.MaxValue else hi.toLong)
        // bloom-index sidecar reference for an added file group
        case Array("blm", p0, sc) => blms += (p0 -> sc)
        case other => throw new IllegalStateException(
          s"corrupt manifest $v: ${other.mkString("\t")}")
      }
    }
    Manifest(adds.result(), removes.result(), txns.result(), qrns.result(),
      blms.result().toMap)
  }

  /** Latest committed version on the MAIN chain at `base` (branch dirs
    * under _txnlog/branch=* are directories and don't match *.txn). -1
    * when nothing is committed yet. Static so the streaming source can
    * poll without constructing a TxnLog (no SparkSession needed). */
  def latestMainVersion(base: String): Int = {
    val dir = Paths.get(base, "_txnlog")
    if (!Files.exists(dir)) return -1
    val it = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".txn"))
        .map(_.stripSuffix(".txn").toInt)
        .foldLeft(-1)(math.max)
    } finally it.close()
  }

  /** Main-chain manifest of version `v` at `base` (static, see above). */
  def mainManifest(base: String, v: Int): Manifest =
    parseManifest(Paths.get(base, "_txnlog", f"$v%05d.txn"), v)

  /** Recursive local delete for idempotent fixtures. */
  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally all.close()
    }
  }
}
