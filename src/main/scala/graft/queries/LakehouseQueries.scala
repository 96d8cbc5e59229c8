package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{Stage, TxnLog}

/** Transactional-table (lakehouse-lite) surface: time travel over an
  * atomic commit log, copy-on-write delete, and manifest-level file
  * skipping — the commit protocol a multi-writer 100 TB lake needs
  * (`graft.sources.TxnLog` holds the protocol; these queries grade it
  * through the DuckDB hash gate by reconstructing every snapshot's
  * expected contents from the immutable source table).
  */
object LakehouseQueries extends QueryGroup {

  private def cents(c: String) = round(col(c) * 100).cast("long")

  // ---- fixture kit -------------------------------------------------------
  // Every lake query gets its table root, catalog, TxnLog set-up and
  // census from the helpers below, so a change to any of them lands in
  // one place instead of at each fixture.

  private def hex(d: String): String = Integer.toHexString(d.hashCode)

  /** `/tmp/graft_<family>_<hex(sfDir.hashCode)>/<table>`: one fixture
    * tree per format family and corpus, so two sfDirs never share a
    * table and `graft.Hygiene` sweeps every tree by one glob. */
  private def root(d: String, family: String, table: String): String =
    s"/tmp/graft_${family}_${hex(d)}/$table"

  /** Empty `base` and recreate the `subdirs` under it: the idempotent
    * start of a fixture that composes its table layout by hand. */
  private def fresh(base: String, subdirs: String*): String = {
    TxnLog.rmrf(base)
    subdirs.foreach(sd => Files.createDirectories(Paths.get(base, sd)))
    base
  }

  /** Register a `graft.sources.GraftCatalog` over `root` and return its
    * name, `<prefix>_<hex>`. The name is per sfDir because
    * CatalogManager caches a catalog instance by name at first
    * resolution: a shared name would pin the first corpus's root. */
  private def catalog(s: SparkSession, prefix: String, d: String, root: String): String = {
    val cat = s"${prefix}_${hex(d)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** A fresh, initialised TxnLog table at `base` with min/max stats on
    * `o_year` (the q_txn_* fixtures' layout order). */
  private def txnLog(s: SparkSession, base: String, bloomCol: Option[String] = None): TxnLog = {
    val log = new TxnLog(s, fresh(base), statCol = Some("o_year"), bloomCol = bloomCol)
    log.init()
    log
  }

  /** `orders` as the format fixtures store it: key, priority, cents. */
  private def iceOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"),
      cents("o_totalprice").as("cents"))

  /** `orders` as the TxnLog fixtures store it: key, status, cents, year. */
  private def txnOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      cents("o_totalprice").as("cents"),
      year(col("o_orderdate")).cast("long").as("o_year"))

  /** The census the lake queries grade: `n_rows` and `total_cents` (the
    * sum of `cents`) per group of `g`, each tag a literal column placed
    * first and the group keys between the tags and the census. */
  private def census(g: RelationalGroupedDataset, tags: (String, Any)*): DataFrame =
    g.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .select(tags.map { case (name, v) => lit(v).as(name) } :+ col("*"): _*)

  /** [[census]] of the whole of `df`: one row. */
  private def census(df: DataFrame, tags: (String, Any)*): DataFrame =
    census(df.groupBy(), tags: _*)

  /** The same census as SQL text over `from`, for the reads only SQL
    * can spell (`VERSION AS OF`, `TIMESTAMP AS OF`). */
  private def sqlCensus(s: SparkSession, tag: String, from: String): DataFrame =
    s.sql(s"SELECT '$tag' AS surface, count(*) AS n_rows, " +
      s"CAST(sum(cents) AS BIGINT) AS total_cents FROM $from")

  def queries: Map[String, QFn] = Map(

    // ---- time travel across append / append / COW-delete / append -------
    // Four commits, then a census of EVERY version still readable from
    // the log: v0 append (≤1996), v1 append (1997-98), v2 copy-on-write
    // delete of status 'F' (remove+rewrite in one atomic commit), v3
    // append (≥1999). Each snapshot read resolves its live file set from
    // manifests 0..v only — data files are immutable, so v0's census is
    // byte-stable no matter how many commits follow (the audit/replay
    // guarantee time travel exists for). Oracle recomputes all four
    // snapshots declaratively from `orders`; hash equality proves the
    // log's add/remove algebra and the COW rewrite lossless.
    "q_txn_timetravel" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_tt"))
      val o = txnOrders(s, d)
      // modest file counts per commit: enough files that the COW delete
      // exercises multi-file remove+rewrite, few enough that local fixture
      // job counts stay sane
      log.append(o.filter(col("o_year") <= 1996).repartition(4))
      log.append(o.filter(col("o_year").between(1997, 1998)).repartition(4))
      log.deleteWhere(col("o_orderstatus") === "F")
      log.append(o.filter(col("o_year") >= 1999).repartition(4))
      (0 to 3).map(v => census(log.read(v), "version" -> v.toLong))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- PUBLIC-spec Delta Lake log interop (read-only) -----------------
    // The first thing a real user does is point the engine at data that
    // already lives in an open-format table. Fixture: a mini Delta table
    // written to the PUBLIC delta-io protocol layout (_delta_log JSON
    // actions — protocol/metaData/add/commitInfo/remove), three commits:
    // v0 adds two file groups, v1 appends a third, v2 removes the first
    // (the delete/compaction shape). graft.sources.DeltaLogReader
    // replays the action log and hands each snapshot's live file list
    // straight to the parquet scan (pushdown intact). The graded census
    // reads ALL THREE versions — time travel over a foreign log — and
    // the oracle reconstructs each snapshot from `orders` (groups are
    // o_orderkey % 3 residues), so hash equality proves the add/remove
    // replay, unknown-action skipping, and version pinning.
    "q_delta_scan" -> ((s, d) => {
      val base = LakehouseQueries.mkDeltaFixture(s, d, "orders_dl")
      (0L to 2L).map(v => census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- PUBLIC-spec Delta Lake EXPORT (the write path) ------------------
    // DeltaLogWriter emits a spec-conformant table — protocol +
    // metaData (real Spark schema JSON) + add actions with numRecords
    // stats, commit file written last via CREATE_NEW — so downstream
    // Delta consumers can read what this engine produces. Graded as a
    // round trip through the already-graded reader: create from the
    // '1-URGENT' slice, append the rest, census BOTH versions via time
    // travel. A writer that mis-stated adds, dropped part files, or
    // broke the version chain hash-fails.
    "q_delta_roundtrip" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_rt")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(2), base, "graft-orders-rt")
      graft.sources.DeltaLogWriter.append(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT").repartition(3), base)
      Seq(0L, 1L).map(v => census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- PUBLIC-spec Apache Iceberg EXPORT (the write path) -------------
    // IcebergWriter emits a spec-conformant Hadoop-catalog table:
    // data files + ADDED manifest entries + manifest list per
    // snapshot, metadata JSON chain, version-hint committed LAST (the
    // filesystem catalog's pointer swap). append carries the previous
    // snapshot's live files as EXISTING entries, so the incremental
    // append scan's status=1 filter still sees exactly the new rows.
    // Graded as a round trip through the already-graded reader: census
    // BOTH snapshots via time travel. A writer that dropped part
    // files, mis-counted record_count, or broke the snapshot chain
    // hash-fails.
    "q_iceberg_roundtrip" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_rt")
      val o = iceOrders(s, d)
      graft.sources.IcebergWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(2), base)
      graft.sources.IcebergWriter.append(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT").repartition(3), base)
      Seq(1L, 2L).map(snap =>
        census(graft.sources.IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- cross-format migration (Iceberg → Delta) -----------------------
    // The interop story end-to-end: READ the live snapshot of a
    // foreign Iceberg table (manifest-tree walk), WRITE it as a
    // spec-conformant Delta table (log + stats), read it BACK through
    // the Delta reader, and census both ends — a migration that
    // dropped rows, double-counted a carried file, or broke either
    // format's metadata hash-fails on the source/migrated equality.
    // The data files themselves move through one distributed
    // parquet-to-parquet pass; only KB of metadata is rewritten — the
    // actual cost profile of a 100 TB format migration.
    "q_lake_migrate" -> ((s, d) => {
      val src = LakehouseQueries.mkIcebergFixture(s, d, "orders_mig")
      val dst = root(d, "deltaw", "orders_mig")
      val live = graft.sources.IcebergReader.read(s, src, 2L)
      graft.sources.DeltaLogWriter.create(s, live.repartition(2), dst, "graft-orders-mig")
      census(live, "side" -> "source")
        .unionAll(census(graft.sources.DeltaLogReader.read(s, dst), "side" -> "migrated"))
        .orderBy("side")
    }),

    // ---- Iceberg partitioned EXPORT -------------------------------------
    // The write-side completion of q_iceberg_prune: createPartitioned
    // lands one data file per o_orderpriority with the typed
    // data_file.partition struct riding each manifest entry, and the
    // graded read back through readWhere prunes 3 of 5 files at the
    // manifest before the parquet source (IcebergSpec pins it) —
    // proving the WRITER emitted partition metadata a planner can
    // actually use, not just a layout.
    "q_iceberg_part_write" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_pw")
      graft.sources.IcebergWriter.createPartitioned(s, iceOrders(s, d),
        base, "o_orderpriority")
      val keep = Seq("1-URGENT", "2-HIGH")
      census(graft.sources.IcebergReader.readWhere(s, base, 1L,
          col("data_file.partition.o_orderpriority").isin(keep: _*))
        .filter(col("o_orderpriority").isin(keep: _*))
        .groupBy(col("o_orderpriority")))
        .orderBy("o_orderpriority")
    }),

    // ---- Iceberg compaction (rewrite data files) ------------------------
    // The foreign twin of q_delta_optimize on the metadata-TREE format:
    // create (3 files) + append (2 more) + rewrite → snapshot 3 packs
    // the 5 live files into 1, old entries DELETED, new ADDED, content
    // identical. n_files comes from the `files` metadata relation — a
    // census that never opens a data file — so the output pins both
    // the compaction invariant AND that the manifests tell the truth
    // about what the rewrite did.
    "q_iceberg_compact" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_cp")
      val o = iceOrders(s, d)
      graft.sources.IcebergWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(3), base)
      graft.sources.IcebergWriter.append(s,
        o.filter(col("o_orderpriority") === "2-HIGH").repartition(2), base)
      graft.sources.IcebergWriter.rewrite(s, base)
      Seq(2L, 3L).map { snap =>
        val nFiles = graft.sources.IcebergReader.filesTable(s, base, snap)
          .filter(col("content") === 0).count()
        census(graft.sources.IcebergReader.read(s, base, snap),
          "snapshot_id" -> snap, "n_files" -> nFiles)
      }.reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg snapshot expiry ----------------------------------------
    // The other half of maintenance (q_delta_checkpoint's foreign
    // twin, tree-style): after create+append+rewrite, expiring
    // snapshots < 3 DELETES the 5 pre-compaction data files (orphans —
    // referenced only by dropped snapshots) and their manifest lists
    // from disk, and writes a metadata version listing ONLY snapshot
    // 3. The census proves the surviving snapshot still reads in full
    // AFTER the orphans are gone — an expiry that dropped a still-
    // referenced file would hash-fail — while n_orphans and
    // n_snapshots pin the cleanup's exact scope.
    "q_iceberg_expire" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_ex")
      val o = iceOrders(s, d)
      graft.sources.IcebergWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(3), base)
      graft.sources.IcebergWriter.append(s,
        o.filter(col("o_orderpriority") === "2-HIGH").repartition(2), base)
      graft.sources.IcebergWriter.rewrite(s, base)
      val orphans = graft.sources.IcebergWriter.expireSnapshots(s, base, keepFrom = 3L)
      val nSnaps = graft.sources.IcebergReader.snapshots(base,
        graft.sources.IcebergReader.currentMetadataVersion(base)).size.toLong
      census(graft.sources.IcebergReader.read(s, base),
        "n_orphans" -> orphans.size.toLong, "n_snapshots" -> nSnaps)
    }),

    // ---- Delta OPTIMIZE (bin-pack compaction) ----------------------------
    // The maintenance job every Delta table needs: 7 small live files
    // (3 from create + 4 from append) bin-packed into 1, committed as
    // remove+add actions that ALL carry dataChange=false — the spec's
    // content-unchanged marker. Graded via time travel: pre- and
    // post-OPTIMIZE censuses must be IDENTICAL (the compaction
    // invariant) while the live file counts (7 → 1) pin that the
    // rewrite actually happened and that the reader replays
    // dataChange=false actions like any other add/remove.
    "q_delta_optimize" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_opt")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(3), base, "graft-orders-opt")
      graft.sources.DeltaLogWriter.append(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT").repartition(4), base)
      graft.sources.DeltaLogWriter.optimize(s, base)
      Seq(1L, 2L).map { v =>
        val nFiles = graft.sources.DeltaLogReader.snapshot(Some(s), base, v).adds.size.toLong
        census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v, "n_files" -> nFiles)
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // ---- Delta DML: DELETE WHERE + UPDATE, CDF emitted by the WRITER ----
    // q_delta_cdf grades the CDF READ contract over a hand-composed
    // spec fixture; this grades the WRITE side: create (v0), then the
    // writer's own copy-on-write deleteWhere('1-URGENT') (v1) and
    // update('2-HIGH', cents+7) (v2) — each commit rewrites ONLY the
    // files holding matching rows (located via the scan's own
    // _metadata.file_path) and emits a _change_data file alongside its
    // remove+add actions. The graded output is readChanges over the
    // whole history: insert/delete/update_preimage/update_postimage
    // censuses, every one produced by this engine's writer and
    // consumed by its reader — DML round-trip through the open format.
    "q_delta_dml" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_dml")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), base, "graft-orders-dml")
      graft.sources.DeltaLogWriter.deleteWhere(s, base,
        col("o_orderpriority") === "1-URGENT")
      graft.sources.DeltaLogWriter.update(s, base,
        col("o_orderpriority") === "2-HIGH",
        df => df.withColumn("cents", col("cents") + 7))
      graft.sources.DeltaLogReader.readChanges(s, base, 0L, 2L)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .orderBy("version", "change_type")
    }),

    // ---- Delta MERGE (upsert), one commit, writer-emitted CDF -----------
    // The most-used DML: source rows REPLACE same-key table rows
    // (whole-row UPDATE SET *) and unseen keys INSERT — in ONE commit,
    // like the real statement. Table = the even-key half of orders;
    // source = its '2-HIGH' rows at cents+3 (updates) plus the entire
    // odd-key half (inserts). Only files holding matched keys are
    // rewritten; the commit's _change_data file carries the
    // pre/post-image pairs AND the insert rows, and the graded output
    // is readChanges over the history — so key routing, whole-row
    // replacement, and insert/update classification are all
    // hash-graded through the engine's own writer AND reader.
    "q_delta_merge" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_merge")
      val o = iceOrders(s, d)
      val evens = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      val odds = o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      graft.sources.DeltaLogWriter.create(s, evens.repartition(2), base, "graft-orders-merge")
      val source = evens.filter(col("o_orderpriority") === "2-HIGH")
        .withColumn("cents", col("cents") + 3)
        .unionAll(odds)
      graft.sources.DeltaLogWriter.merge(s, base, source, "o_orderkey")
      graft.sources.DeltaLogReader.readChanges(s, base, 0L, 1L)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .orderBy("version", "change_type")
    }),

    // ---- Delta DELETION VECTORS (the modern DML shape) -------------------
    // Modern Delta writers soft-delete by DEFAULT: instead of
    // rewriting a file, the commit attaches a roaring-bitmap sidecar
    // (`deletionVector` descriptor: z85 uuid, offset, sizeInBytes,
    // cardinality) marking the file's dead row positions, and upgrades
    // the protocol to minReaderVersion 3 + readerFeatures=
    // [deletionVectors] — the #1 interop gap for any reader that only
    // speaks protocol 1. Fixture: create orders as 2 files (v0), DV-
    // delete '1-URGENT' (v1), then STACK a second DV-delete of
    // '2-HIGH' (v2) — the second sidecar must union the first's
    // positions. The graded census time-travels all three versions;
    // the reader decodes the bitmaps (from-scratch Z85 +
    // RoaringBitmapArray codec, spec frame with CRC) and applies them
    // as a broadcast anti-join on the scan's native
    // _metadata.row_index — the Iceberg position-delete shape, so the
    // data path stays the ordinary pushdown-friendly parquet scan.
    // Oracle replays both predicates over `orders`.
    "q_delta_dv" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_dv")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), base, "graft-orders-dv")
      graft.sources.DeltaLogWriter.deleteWhereDv(s, base,
        col("o_orderpriority") === "1-URGENT")
      graft.sources.DeltaLogWriter.deleteWhereDv(s, base,
        col("o_orderpriority") === "2-HIGH")
      (0L to 2L).map(v => census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- Delta LIQUID CLUSTERING (z-ordered OPTIMIZE + 2-D skipping) -------
    // The modern Delta layout default: clustering columns are a LAYOUT
    // HINT in the `delta.clustering` domain (not a path scheme), and
    // OPTIMIZE applies it — an 8×8-cell Z-ORDER rewrite, one file per
    // occupied Z-bucket, so per-file min/max stats become tight on
    // BOTH columns and either dimension's predicate prunes files.
    // Fixture: four value-sliced files by o_orderkey%4 (each spans ALL
    // years and price buckets — pre-cluster stats prune NOTHING), then
    // optimizeClustered. Phases census (planned files, rows, cents)
    // for a year range BEFORE, the same range AFTER, a price-bucket
    // range AFTER (the other dimension), and the full post-cluster
    // content. The routing is a value-derived integer formula, so the
    // oracle RECONSTRUCTS the exact per-bucket min/max and derives the
    // same planned-file counts — the skipping benefit itself is
    // hash-gated, not just asserted.
    "q_delta_clustered" -> ((s, d) => {
      import graft.sources.{DeltaLogReader, DeltaLogWriter}
      val base = root(d, "deltaw", "orders_clust")
      val o = Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        cents("o_totalprice").as("cents"))
        .withColumn("pb", expr("cents div 1000000"))
      (0 to 3).foreach { g =>
        val slice = o.filter(pmod(col("o_orderkey"), lit(4)) === g).coalesce(1)
        if (g == 0) DeltaLogWriter.createClustered(s, slice, base,
          "graft-orders-clust", Seq("o_year", "pb"))
        else DeltaLogWriter.append(s, slice, base, statsFor = Seq("o_year", "pb"))
      }
      def phase(id: Long, c: String, lo: Long, hi: Long) = {
        val v = DeltaLogReader.latestVersion(base)
        val planned = DeltaLogReader.filesWhere(s, base, v, c, lo, hi).size.toLong
        census(DeltaLogReader.readWhere(s, base, v, c, lo, hi).filter(col(c).between(lo, hi)),
          "phase" -> id, "n_files_planned" -> planned)
      }
      val p1 = phase(1L, "o_year", 1996L, 1997L)
      DeltaLogWriter.optimizeClustered(s, base)
      val p2 = phase(2L, "o_year", 1996L, 1997L)
      val p3 = phase(3L, "pb", 0L, 9L)
      val vEnd = DeltaLogReader.latestVersion(base)
      val nLive = DeltaLogReader.snapshot(Some(s), base, vEnd).adds.size.toLong
      val p4 = census(DeltaLogReader.read(s, base, vEnd),
        "phase" -> 4L, "n_files_planned" -> nLive)
      Seq(p1, p2, p3, p4).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Delta ROW TRACKING (the Iceberg row-lineage twin) -----------------
    // The `rowTracking` + `domainMetadata` writer features: every row
    // gets a stable `_row_id` at first commit (the add action's
    // baseRowId + file position) and a `_row_commit_version`; the
    // `delta.rowTracking` domain's high-water mark guarantees ids are
    // NEVER reused. Fixture: create (v0, ids 0..N-1 — sorted
    // single-file batches make the assignment oracle-reconstructable;
    // the mechanism itself is per-file contiguous ranges at any file
    // count), append (v1, ids N..2N-1), OPTIMIZE (v2 — MATERIALIZES
    // both columns into the packed parquet so the rewrite preserves
    // ids; the packed file still gets a fresh baseRowId range per the
    // spec, which reads must IGNORE in favor of the materialized
    // values), a DV DELETE of keys ≡ 0 mod 5 (v3 — the re-add must
    // CARRY its add fields), then checkpoint + expireLog (the mark and
    // the add's row-tracking fields must survive into the checkpoint:
    // domainMetadata and baseRowId are folded). Final read proves
    // survivors kept their birth ids and commit versions across
    // rewrite + delete + expiry.
    "q_delta_row_tracking" -> ((s, d) => {
      import graft.sources.{DeltaLogReader, DeltaLogWriter}
      val base = root(d, "deltaw", "nation_rt")
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
      DeltaLogWriter.createRowTracked(s,
        n.repartition(1).sortWithinPartitions("n_nationkey"), base, "graft-nation-rt")
      DeltaLogWriter.append(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"), col("n_regionkey"))
          .repartition(1).sortWithinPartitions("n_nationkey"), base)
      DeltaLogWriter.optimize(s, base)
      DeltaLogWriter.deleteWhereDv(s, base, pmod(col("n_nationkey"), lit(5)) === 0)
      DeltaLogWriter.checkpoint(s, base)
      DeltaLogWriter.expireLog(base)
      DeltaLogReader.readRowIds(s, base, DeltaLogReader.latestVersion(base))
        .select(col("n_nationkey"), col("_row_id").as("row_id"),
          col("_row_commit_version").as("commit_ver"))
        .orderBy("n_nationkey")
    }),

    // ---- Delta REORG (APPLY PURGE): DV materialization ---------------------
    // The missing half of the DV lifecycle: once a table accumulates
    // deletion vectors, EVERY rewrite op refuses it (they would
    // resurrect masked rows) and the soft-deleted bytes never reclaim.
    // REORG rewrites ONLY the DV-carrying files with their masks
    // applied and drops the descriptors — content identical, so the
    // commit is dataChange=false and CDF consumers skip it, exactly
    // like OPTIMIZE. Fixture: create (v0), two stacking DV deletes
    // (v1, v2), reorgPurge (v3), append a replacement slice (v4),
    // OPTIMIZE (v5 — legal again post-purge). Census every version
    // PLUS the CDF census over the whole history (phases 10+v): REORG
    // and OPTIMIZE must contribute NO change rows — an extra phase row
    // hash-fails on row count.
    "q_delta_reorg" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_reorg")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s, o.repartition(3), base, "graft-orders-reorg")
      graft.sources.DeltaLogWriter.deleteWhereDv(s, base,
        col("o_orderpriority") === "1-URGENT")
      graft.sources.DeltaLogWriter.deleteWhereDv(s, base,
        col("o_orderpriority") === "2-HIGH")
      graft.sources.DeltaLogWriter.reorgPurge(s, base)
      graft.sources.DeltaLogWriter.append(s,
        o.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("cents", col("cents") + 1).coalesce(1), base)
      graft.sources.DeltaLogWriter.optimize(s, base)
      val versions = (0L to 5L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, base, v), "phase" -> v))
      val cdf = census(graft.sources.DeltaLogReader.readChanges(s, base, 0L, 5L)
        .groupBy((col("_commit_version") + 10L).as("phase")))
      (versions :+ cdf).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Delta COLUMN MAPPING (mode=name) --------------------------------
    // Any table that ever ran ALTER TABLE RENAME COLUMN carries
    // delta.columnMapping.mode=name: parquet files store PHYSICAL
    // uuid-ish names (col-1, col-2, ...), the logical schema lives
    // only in the log via each field's physicalName metadata, and a
    // rename is a metaData-ONLY commit — zero data movement. Fixture:
    // create column-mapped from orders (v0), rename o_orderpriority →
    // priority (v1). The graded census reads BOTH versions grouping by
    // the version's OWN logical name — a mapping-blind reader sees
    // only col-N names and can answer neither. Oracle replays from
    // orders.
    "q_delta_colmap" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_cm")
      graft.sources.DeltaLogWriter.createColumnMapped(s, iceOrders(s, d),
        base, "graft-orders-cm")
      graft.sources.DeltaLogWriter.renameColumn(s, base, "o_orderpriority", "priority")
      def byPriority(v: Long, logical: String) = census(graft.sources.DeltaLogReader
        .read(s, base, v).groupBy(col(logical).as("priority")), "version" -> v)
      byPriority(0L, "o_orderpriority").unionAll(byPriority(1L, "priority"))
        .orderBy("version", "priority")
    }),

    // ---- Delta COLUMN MAPPING (mode=id) ------------------------------------
    // The OTHER common mapping variant: columns bind by the PARQUET
    // FIELD ID each file embeds, not by name — physical names are
    // immaterial, so the table survives engines that rewrite them.
    // Fixture: create id-mode (v0, files embed parquet.field.id),
    // RENAME o_orderpriority→priority (v1, metadata-only — with id
    // binding the rename is just a requested-spelling change), DV
    // DELETE (v2), CoW UPDATE (v3 — the rewrite STAMPS field ids into
    // the new files or id-readers would refuse them). Census v0 under
    // the original name, v3 under the renamed one; an id-blind,
    // name-bound reader would group by pcol_N and answer neither.
    "q_delta_colmap_id" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_cmid")
      val W = graft.sources.DeltaLogWriter
      W.createColumnMappedId(s, iceOrders(s, d), base, "graft-orders-cmid")
      W.renameColumn(s, base, "o_orderpriority", "priority")
      W.deleteWhereDv(s, base, pmod(col("o_orderkey"), lit(10)) === 6)
      W.update(s, base, pmod(col("o_orderkey"), lit(10)) === 7,
        df => df.withColumn("cents", col("cents") + 3))
      def byPriority(v: Long, logical: String) = census(graft.sources.DeltaLogReader
        .read(s, base, v).groupBy(col(logical).as("priority")), "version" -> v)
      byPriority(0L, "o_orderpriority").unionAll(byPriority(3L, "priority"))
        .orderBy("version", "priority")
    }),

    // ---- Delta data skipping (min/max stats) ----------------------------
    // The Delta twin of q_iceberg_stats_prune: each add action carries
    // per-file minValues/maxValues for o_year (the spec's data-skipping
    // stats, written by one read-back aggregation over just the new
    // files), and a 1997-98 range read plans 2 of the 7 one-file-per-
    // year commits — the pruned files never reach the parquet source
    // (DeltaLogSpec pins the planned count). Files without bounds are
    // kept per spec. The residual row filter keeps the engine honest;
    // the oracle replays the predicate over `orders`.
    "q_delta_stats_skip" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_skip")
      val o = txnOrders(s, d).drop("o_orderstatus")
      val years = o.select(min("o_year"), max("o_year")).collect().head
      (years.getLong(0) to years.getLong(1)).zipWithIndex.foreach { case (y, i) =>
        val slice = o.filter(col("o_year") === y).coalesce(1)
        if (i == 0) graft.sources.DeltaLogWriter.create(s, slice, base,
          "graft-orders-skip", statsFor = Seq("o_year"))
        else graft.sources.DeltaLogWriter.append(s, slice, base, statsFor = Seq("o_year"))
      }
      census(graft.sources.DeltaLogReader.readWhere(s, base,
          graft.sources.DeltaLogReader.latestVersion(base), "o_year", 1997L, 1998L)
        .filter(col("o_year").between(1997, 1998))
        .groupBy(col("o_year")))
        .orderBy("o_year")
    }),

    // ---- Delta RESTORE (forward-moving revert) --------------------------
    // v0 writes the '1-URGENT' slice as 3 files, v1 OPTIMIZEs them
    // into 1, v2 RESTOREs v0 — a NEW commit (history intact) that
    // removes the packed file and RE-ADDS the original three, both
    // sides a KB-scale path-set diff with no data file read or
    // written. All three censuses are content-identical (what restore
    // promises); the per-version live file counts 3 → 1 → 3 pin that
    // every transition actually happened, including the add-back path.
    "q_delta_restore" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_restore")
      val o = iceOrders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      graft.sources.DeltaLogWriter.create(s, o.repartition(3), base, "graft-orders-restore")
      graft.sources.DeltaLogWriter.optimize(s, base)
      graft.sources.DeltaLogWriter.restore(s, base, 0L)
      (0L to 2L).map { v =>
        val nFiles = graft.sources.DeltaLogReader.snapshot(Some(s), base, v).adds.size.toLong
        census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v, "n_files" -> nFiles)
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // ---- Delta partitioned write (hive layout + partitionValues) --------
    // The write-side completion of the reader's partitioned support:
    // create with partitionColumns lands data in `col=value/` dirs
    // (values escaped on disk, REAL values in each add's
    // partitionValues — the spec's path/metadata split, including the
    // space in '4-NOT SPECIFIED'), and a predicate read back through
    // the reader prunes at partition level. The census groups by the
    // partition column itself, which the data files do NOT carry —
    // only a reader that recovers it from the layout can answer.
    "q_delta_part_write" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_part")
      graft.sources.DeltaLogWriter.create(s, iceOrders(s, d), base,
        "graft-orders-part", partitionBy = Seq("o_orderpriority"))
      census(graft.sources.DeltaLogReader.read(s, base)
        .filter(col("o_orderpriority").isin("2-HIGH", "4-NOT SPECIFIED"))
        .groupBy(col("o_orderpriority")))
        .orderBy("o_orderpriority")
    }),

    // ---- Delta DML on a PARTITIONED table ---------------------------------
    // Partitioning is the DEFAULT production layout, so the CoW DML
    // family must compose with it: create partitioned by priority (v0),
    // DELETE half of '1-URGENT' (v1), UPDATE a third of '2-HIGH' (v2),
    // then one MERGE that replaces some '3-MEDIUM' rows AND inserts a
    // brand-new '9-SYNTH' partition (v3). Each commit reads via
    // basePath (hive partition values surface as columns, so Catalyst
    // partition-prunes the DML predicate) and rewrites ONLY the files
    // of touched partitions — DeltaLogSpec pins that untouched
    // partitions' files survive by IDENTITY, the economics that make
    // partitioned DML viable at 100 TB. Census: time travel over all
    // four versions plus the final per-partition breakdown, proving
    // partition routing, hive-path partitionValues, and the new
    // partition's birth through MERGE.
    "q_delta_part_dml" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_pdml")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), base,
        "graft-orders-pdml", partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLogWriter.deleteWhere(s, base,
        col("o_orderpriority") === "1-URGENT" && pmod(col("o_orderkey"), lit(2)) === 0)
      graft.sources.DeltaLogWriter.update(s, base,
        col("o_orderpriority") === "2-HIGH" && pmod(col("o_orderkey"), lit(3)) === 0,
        df => df.withColumn("cents", col("cents") + 11))
      val source = o.filter(col("o_orderpriority") === "3-MEDIUM" &&
          pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("cents", col("cents") + 7)
        .unionAll(o.filter(col("o_orderpriority") === "5-LOW" &&
            pmod(col("o_orderkey"), lit(7)) === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("9-SYNTH").as("o_orderpriority"), lit(1234L).as("cents")))
      graft.sources.DeltaLogWriter.merge(s, base, source, "o_orderkey")
      val versions = (0L to 3L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, base, v), "phase" -> v, "pri" -> "*"))
      val byPart = census(graft.sources.DeltaLogReader.read(s, base, 3L)
        .groupBy(col("o_orderpriority").as("pri")), "phase" -> 4L)
      (versions :+ byPart).reduce(_ unionAll _).orderBy("phase", "pri")
    }),

    // ---- Batch DSv2 front door (spark.read.format / SQL USING) ------------
    // Catalogs and BI tools speak `format(...)`, not a Scala API: each
    // provider plans the format's metadata ONCE at table resolution and
    // hands the live file list to Spark's OWN DSv2 parquet table — so
    // the scan keeps vectorized reads, pushdown, pruning, and codegen
    // (LakeBatchSpec pins PushedFilters + the pruned ReadSchema). All
    // three formats read through `spark.read.format(...)`; the fourth
    // phase goes through pure SQL (`CREATE TEMPORARY VIEW ... USING`),
    // the zero-Scala path. Column-mapped tables bind by field id; the
    // row-masked (DV/delete-file/MOR) cases ride the V1-read fallback
    // and are graded separately by q_lake_dsv2_dv.
    "q_lake_dsv2" -> ((s, d) => {
      val lake = root(d, "deltaw", "dsv2")
      val o = iceOrders(s, d)
      val dBase = s"$lake/delta"
      val iBase = s"$lake/ice"
      val hBase = s"$lake/hudi"
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), dBase,
        "graft-orders-dsv2", partitionBy = Seq("o_orderpriority"))
      graft.sources.IcebergWriter.create(s, o.repartition(2), iBase)
      graft.sources.HudiWriter.create(s, o, hBase, "orders_dsv2", "o_orderkey", 4)
      val delta = census(s.read.format("graft-delta").option("path", dBase).load()
        .filter(col("o_orderpriority") === "2-HIGH"), "surface" -> "delta")
      val ice = census(s.read.format("graft-iceberg").option("path", iBase).load()
        .filter(pmod(col("o_orderkey"), lit(3)) === 0), "surface" -> "iceberg")
      val hudi = census(s.read.format("graft-hudi").option("path", hBase).load()
        .filter(pmod(col("o_orderkey"), lit(3)) === 1), "surface" -> "hudi")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv2_delta " +
        s"USING `graft-delta` OPTIONS (path '$dBase')")
      val sql = census(s.sql(
        "SELECT cents FROM dsv2_delta WHERE o_orderpriority = '5-LOW'"), "surface" -> "sql")
      // COLUMN-MAPPED tables ride the front door too: the requested
      // schema carries parquet.field.id = delta.columnMapping.id under
      // the LOGICAL names, so the physical `col-N` files bind by id —
      // including through a metadata-only RENAME (the scan asks for
      // the new spelling, same field id)
      val mBase = s"$lake/mapped"
      graft.sources.DeltaLogWriter.createColumnMapped(s, o, mBase, "graft-orders-dsv2m")
      graft.sources.DeltaLogWriter.renameColumn(s, mBase, "cents", "pennies")
      val mapped = census(s.read.format("graft-delta").option("path", mBase).load()
        .filter(col("o_orderpriority") === "1-URGENT").select(col("pennies").as("cents")),
        "surface" -> "mapped")
      Seq(delta, ice, hudi, sql, mapped).reduce(_ unionAll _).orderBy("surface")
    }),

    // ---- Delta conditional MULTI-CLAUSE MERGE ------------------------------
    // The CDC-reconciliation staple the key-upsert merge can't express:
    // ONE statement with WHEN MATCHED AND p THEN DELETE, WHEN MATCHED
    // THEN UPDATE SET *, WHEN NOT MATCHED THEN INSERT, and WHEN NOT
    // MATCHED BY SOURCE AND q THEN DELETE — one commit, all four action
    // kinds riding the same _change_data file. Census: content at both
    // versions plus the CDF broken down BY change type (phases 10+),
    // proving each clause fired on exactly its rows and nothing
    // double-counted.
    "q_delta_merge_multi" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_mmulti")
      val W = graft.sources.DeltaLogWriter
      val o = iceOrders(s, d)
      W.create(s, o.repartition(3), base, "graft-orders-mmulti")
      val source = o.filter(pmod(col("o_orderkey"), lit(10)) === 2)
        .withColumn("cents", col("cents") + 13)
        .unionAll(o.filter(pmod(col("o_orderkey"), lit(10)) === 8)
          .select((col("o_orderkey") + 400000000L).as("o_orderkey"),
            lit("8-INS").as("o_orderpriority"), lit(777L).as("cents")))
      W.mergeMulti(s, base, source, "o_orderkey",
        matchedDelete = Some(col("o_orderpriority") === "1-URGENT"),
        matchedUpdate = None,
        insertUnmatched = true,
        bySourceDelete = Some(col("o_orderpriority") === "5-LOW" &&
          pmod(col("o_orderkey"), lit(10)) === 9))
      val versions = (0L to 1L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, base, v), "phase" -> v, "tag" -> "*"))
      val cdf = census(graft.sources.DeltaLogReader.readChanges(s, base, 1L, 1L)
        .groupBy(col("_change_type").as("tag")), "phase" -> 10L)
      (versions :+ cdf).reduce(_ unionAll _).orderBy("phase", "tag")
    }),

    // ---- Delta FEATURE COMPOSITION: every modern feature ON together ------
    // A real production Delta table ships with hive partitioning +
    // liquid clustering + column mapping + row tracking + deletion
    // vectors simultaneously — and the whole DML surface must work on
    // it, not refuse pairwise. Fixture: createComposed (v0, all four
    // creation features), DV DELETE (v1 — logical-name predicate over
    // physical files), CoW UPDATE over the DV-carrying partition (v2 —
    // masks merged into the rewrite, row ids materialized through it),
    // MERGE with updates + a brand-new partition (v3), clustered
    // OPTIMIZE (v4 — z-order WITHIN partitions, ids preserved,
    // dataChange=false), RESTORE to v2 (v5 — re-adds carry their DV
    // descriptors), RENAME COLUMN cents→pennies (v6 — metadata-only).
    // Census: time travel across all six versions plus the final
    // per-partition breakdown under the RENAMED column. The oracle
    // replays every phase from `orders`; row-id stability is pinned in
    // DeltaComposedSpec (not SQL-expressible).
    "q_delta_composed" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_composed")
      val W = graft.sources.DeltaLogWriter
      val o = iceOrders(s, d)
      W.createComposed(s, o.repartition(2), base, "graft-orders-composed",
        partitionBy = Seq("o_orderpriority"),
        clusterCols = Seq("o_orderkey", "cents"),
        columnMapped = true, rowTracked = true,
        statsFor = Seq("o_orderkey"))
      W.deleteWhereDv(s, base, pmod(col("o_orderkey"), lit(10)) === 3)
      W.update(s, base,
        col("o_orderpriority") === "2-HIGH" && pmod(col("o_orderkey"), lit(10)) === 4,
        df => df.withColumn("cents", col("cents") + 11))
      val source = o.filter(pmod(col("o_orderkey"), lit(10)) === 5)
        .withColumn("cents", col("cents") + 7)
        .unionAll(o.filter(col("o_orderpriority") === "5-LOW" &&
            pmod(col("o_orderkey"), lit(7)) === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("9-SYNTH").as("o_orderpriority"), lit(1234L).as("cents")))
      W.merge(s, base, source, "o_orderkey")
      W.optimizeClustered(s, base)
      W.restore(s, base, 2L)
      W.renameColumn(s, base, "cents", "pennies")
      val versions = (0L to 5L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, base, v), "phase" -> v, "pri" -> "*"))
      val renamed = census(graft.sources.DeltaLogReader.read(s, base, 6L)
        .select(col("o_orderpriority").as("pri"), col("pennies").as("cents"))
        .groupBy(col("pri")), "phase" -> 6L)
      // v7/v8: SCHEMA EVOLUTION on the column-mapped table — ADD COLUMN
      // mints a fresh physical id above maxColumnId (metadata-only;
      // every existing file surfaces it as NULL through the
      // physical-schema scan), then TYPE WIDENING re-types it int →
      // bigint with zero bytes moved (the r12 refusals, now served)
      W.addColumn(s, base, "bonus", "INT")
      val postAdd = census(graft.sources.DeltaLogReader.read(s, base, 7L)
        .filter(col("bonus").isNull).select(col("pennies").as("cents")),
        "phase" -> 7L, "pri" -> "*")
      W.widenColumnType(s, base, "bonus", "BIGINT")
      val postWiden = census(graft.sources.DeltaLogReader.read(s, base, 8L)
        .select((col("pennies") + coalesce(col("bonus"), lit(0L))).as("cents")),
        "phase" -> 8L, "pri" -> "*")
      (versions :+ renamed :+ postAdd :+ postWiden)
        .reduce(_ unionAll _).orderBy("phase", "pri")
    }),

    // ---- CATALOG front door (DSv2 TableCatalog over the lake root) --------
    // The last mile for a pure-SQL client: catalog NAMES instead of
    // paths. GraftCatalog maps lakecat.<ns>.<table> to root/<ns>/<table>,
    // sniffs each table's format marker (_delta_log/ | metadata/ |
    // .hoodie/), and serves the matching front-door table — so one
    // catalog reads all three formats, SHOW TABLES lists them, CTAS
    // creates a schema-only Delta v0 then appends through the full log
    // writer, and INSERT INTO is DeltaLogWriter.append with every
    // writer obligation intact. Census: per-format SQL reads + the
    // CTAS+INSERT table + the SHOW TABLES inventory.
    "q_lake_catalog" -> ((s, d) => {
      val lake = fresh(root(d, "deltaw", "lakecat"), "sales")
      val o = iceOrders(s, d)
      def grp(r: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === r)
      graft.sources.DeltaLogWriter.create(s, grp(0).repartition(2),
        s"$lake/sales/orders_delta", "cat-delta")
      graft.sources.IcebergWriter.create(s, grp(1).repartition(2),
        s"$lake/sales/orders_ice")
      graft.sources.HudiWriter.create(s, grp(2), s"$lake/sales/orders_hudi",
        "orders_cat", "o_orderkey", 4)
      val cat = catalog(s, "lakecat", d, lake)
      s.sql(s"DROP TABLE IF EXISTS $cat.sales.high")
      s.sql(s"CREATE TABLE $cat.sales.high USING `graft-delta` AS " +
        s"SELECT * FROM $cat.sales.orders_delta WHERE o_orderpriority = '2-HIGH'")
      s.sql(s"INSERT INTO $cat.sales.high " +
        s"SELECT * FROM $cat.sales.orders_ice WHERE o_orderpriority = '2-HIGH'")
      val ctas = census(s.table(s"$cat.sales.high"), "surface" -> "ctas")
      // pure-SQL ALTER: ADD COLUMN (NULL-backfilled, metadata-only),
      // INSERT with the new column, then WIDEN it int→bigint — the
      // whole schema-evolution loop without a line of Scala
      s.sql(s"ALTER TABLE $cat.sales.high ADD COLUMN bonus INT")
      s.sql(s"INSERT INTO $cat.sales.high " +
        s"SELECT o_orderkey, o_orderpriority, cents, CAST(pmod(cents, 1000) AS INT) " +
        s"FROM $cat.sales.orders_ice WHERE o_orderpriority = '1-URGENT'")
      s.sql(s"ALTER TABLE $cat.sales.high ALTER COLUMN bonus TYPE BIGINT")
      val altered = census(s.table(s"$cat.sales.high")
        .select((col("cents") + coalesce(col("bonus"), lit(0))).as("cents")), "surface" -> "altered")
      // the catalog WRITE side serves Iceberg too: CTAS mints a
      // schema-only snapshot-less table then appends snapshot 1, and a
      // plain INSERT INTO commits snapshot 2 — pure SQL, no Scala
      s.sql(s"DROP TABLE IF EXISTS $cat.sales.high_ice")
      s.sql(s"CREATE TABLE $cat.sales.high_ice USING `graft-iceberg` AS " +
        s"SELECT o_orderkey, o_orderpriority, cents FROM $cat.sales.orders_hudi " +
        s"WHERE o_orderpriority = '2-HIGH'")
      s.sql(s"INSERT INTO $cat.sales.high_ice " +
        s"SELECT o_orderkey, o_orderpriority, cents FROM $cat.sales.orders_delta " +
        s"WHERE o_orderpriority = '2-HIGH'")
      val ctasIce = census(s.table(s"$cat.sales.high_ice"), "surface" -> "ctas_ice")
      val inventory = s.sql(s"SHOW TABLES IN $cat.sales")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("tables").as("surface"), col("n_rows"),
          lit(0L).as("total_cents"))
      Seq(census(s.table(s"$cat.sales.orders_delta"), "surface" -> "delta"),
        census(s.table(s"$cat.sales.orders_ice"), "surface" -> "iceberg"),
        census(s.table(s"$cat.sales.orders_hudi"), "surface" -> "hudi"),
        ctas, ctasIce, altered,
        inventory).reduce(_ unionAll _).orderBy("surface")
    }),

    // ---- Pure-SQL row-level DML through the catalog ------------------------
    // The single most common warehouse verb set, as SQL TEXT against a
    // catalog NAME — zero Scala: DELETE routes metadata-only into the
    // DV writer (SupportsDelete + Spark's OptimizeMetadataOnlyDelete),
    // UPDATE and MERGE rewrite through the delta-based row-level
    // operation (SupportsRowLevelOperations): executors write ONLY the
    // changed rows, deleted positions become per-file DV bitmaps, and
    // each statement is ONE commit carrying DVs + adds + its CDF.
    // Census: content at all four versions plus the CDF of commits 1-3
    // broken down by change type — each clause fired on exactly its
    // rows. The oracle replays every statement from `orders`.
    "q_lake_sql_dml" -> ((s, d) => {
      val hex = LakehouseQueries.hex(d)
      val lake = fresh(root(d, "deltaw", "sqldml"), "sales")
      val base = s"$lake/sales/t"
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), base, "sqldml-t",
        extraConf = Map("delta.enableChangeDataFeed" -> "true"))
      val cat = catalog(s, "sqldmlcat", d, lake)
      s.sql(s"DELETE FROM $cat.sales.t WHERE o_orderpriority = '1-URGENT'")
      s.sql(s"UPDATE $cat.sales.t SET cents = cents + 13 WHERE o_orderkey % 10 = 4")
      o.filter(pmod(col("o_orderkey"), lit(10)) === 7 &&
          col("o_orderpriority") =!= "1-URGENT")
        .withColumn("cents", col("cents") + 7)
        .unionAll(o.filter(col("o_orderpriority") === "5-LOW" &&
            pmod(col("o_orderkey"), lit(9)) === 0)
          .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
            lit("9-INS").as("o_orderpriority"), lit(999L).as("cents")))
        .createOrReplaceTempView(s"sqldml_src_$hex")
      s.sql(
        s"""MERGE INTO $cat.sales.t AS t USING sqldml_src_$hex AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, cents)
           |VALUES (s.o_orderkey, s.o_orderpriority, s.cents)""".stripMargin)
      val versions = (0L to 3L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, base, v), "phase" -> v, "tag" -> "*"))
      val cdf = census(graft.sources.DeltaLogReader.readChanges(s, base, 1L, 3L)
        .groupBy(col("_change_type").as("tag")), "phase" -> 10L)
      // the HIVE-PARTITIONED leg: the executor writers stage one file
      // per touched partition (`o_orderpriority=.../dml-*.parquet`,
      // partition column dropped from the file bytes, partitionValues
      // derived from the staged path) — UPDATE touches one partition's
      // rows in place, MERGE births synthetic rows into another
      val ptBase = s"$lake/sales/pt"
      graft.sources.DeltaLogWriter.createComposed(s, o.repartition(2), ptBase,
        "sqldml-pt", partitionBy = Seq("o_orderpriority"))
      s.sql(s"UPDATE $cat.sales.pt SET cents = cents + 21 " +
        s"WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 5 = 0")
      o.filter(col("o_orderpriority") === "4-NOT SPECIFIED" &&
          pmod(col("o_orderkey"), lit(11)) === 0)
        .select((col("o_orderkey") + 700000000L).as("o_orderkey"),
          col("o_orderpriority"), lit(444L).as("cents"))
        .createOrReplaceTempView(s"sqldml_ptsrc_$hex")
      s.sql(
        s"""MERGE INTO $cat.sales.pt AS t USING sqldml_ptsrc_$hex AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, cents)
           |VALUES (s.o_orderkey, s.o_orderpriority, s.cents)""".stripMargin)
      val pt = census(graft.sources.DeltaLogReader.read(s, ptBase)
        .groupBy(col("o_orderpriority").as("tag")), "phase" -> 20L)
      // the COLUMN-MAPPED leg: the table was RENAMED (cents→pennies)
      // before the DML, so the SQL binds the new logical spelling while
      // the executor writers stage PHYSICAL col-N columns with embedded
      // parquet field ids (the spec's writer rule; the id-bound and
      // physical-name scan paths read the staged file like any other)
      val cmBase = s"$lake/sales/cm"
      graft.sources.DeltaLogWriter.createComposed(s, o.repartition(2), cmBase,
        "sqldml-cm", columnMapped = true)
      graft.sources.DeltaLogWriter.renameColumn(s, cmBase, "cents", "pennies")
      s.sql(s"UPDATE $cat.sales.cm SET pennies = pennies + 9 " +
        s"WHERE o_orderkey % 13 = 0")
      val cm = census(graft.sources.DeltaLogReader.read(s, cmBase)
        .select(col("pennies").as("cents")), "phase" -> 30L, "tag" -> "*")
      // the ROW-TRACKED leg: SQL UPDATE + MERGE preserve stable row
      // ids — each target row's id rides the __rid metadata column
      // into the staged files' materialized column, inserts take fresh
      // ids from the add's baseRowId range above the old high-water
      // mark. Phase 41 grades the id machinery itself: n_rows = rows
      // whose id survived the two DMLs (all pre-existing rows),
      // total_cents = inserted rows whose id collides with NO v0 id
      val rtBase = s"$lake/sales/rt"
      graft.sources.DeltaLogWriter.createComposed(s, o.repartition(2), rtBase,
        "sqldml-rt", rowTracked = true)
      val rt0 = graft.sources.DeltaLogReader.readRowIds(s, rtBase, 0L)
        .select(col("o_orderkey"), col("_row_id").as("rid0"))
      s.sql(s"UPDATE $cat.sales.rt SET cents = cents + 11 " +
        "WHERE o_orderkey % 6 = 2")
      o.filter(pmod(col("o_orderkey"), lit(17)) === 0)
        .select((col("o_orderkey") + 900000000L).as("o_orderkey"),
          lit("8-RT").as("o_orderpriority"), lit(777L).as("cents"))
        .unionAll(o.filter(col("o_orderpriority") === "2-HIGH" &&
            pmod(col("o_orderkey"), lit(8)) === 1)
          .select(col("o_orderkey"), col("o_orderpriority"), lit(123L).as("cents")))
        .createOrReplaceTempView(s"sqldml_rtsrc_$hex")
      s.sql(
        s"""MERGE INTO $cat.sales.rt AS t USING sqldml_rtsrc_$hex AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, cents)
           |VALUES (s.o_orderkey, s.o_orderpriority, s.cents)""".stripMargin)
      val rt = census(graft.sources.DeltaLogReader.read(s, rtBase), "phase" -> 40L, "tag" -> "*")
      val rtAfter = graft.sources.DeltaLogReader.readRowIds(s, rtBase,
        graft.sources.DeltaLogReader.latestVersion(rtBase))
      val rtIds = rtAfter.join(rt0, Seq("o_orderkey"), "left")
        .join(rt0.select(col("rid0").as("_row_id"), lit(1).as("__seen")),
          Seq("_row_id"), "left")
        .agg(
          sum(when(col("_row_id") === col("rid0"), 1L).otherwise(0L)).as("n_rows"),
          sum(when(col("rid0").isNull && col("__seen").isNull, 1L).otherwise(0L))
            .as("total_cents"))
        .select(lit(41L).as("phase"), lit("ids").as("tag"),
          col("n_rows"), col("total_cents"))
      (versions :+ cdf :+ pt :+ cm :+ rt :+ rtIds)
        .reduce(_ unionAll _).orderBy("phase", "tag")
    }),

    // ---- DSv2 front door over MASKED tables --------------------------------
    // The r12 front door REFUSED tables whose snapshot carries row
    // masks — but DVs are the modern Delta default and v3 Iceberg's
    // only DML shape, so the first real 2024+ table a BI tool points
    // format(...) at used to refuse. Now the masked cases scan through
    // the FULL readers' mask-applying plans via the V1-read fallback
    // (pushed filters re-stated on the inner plan, so its parquet
    // scans keep pushdown): Delta + deletion vectors, Iceberg v3 +
    // puffin DVs, Hudi MERGE-ON-READ with log upserts AND deletes, and
    // the zero-Scala SQL view over the masked Delta table.
    "q_lake_dsv2_dv" -> ((s, d) => {
      val lake = root(d, "deltaw", "dsv2dv")
      val o = iceOrders(s, d)
      val dBase = s"$lake/delta"
      graft.sources.DeltaLogWriter.create(s, o.repartition(2), dBase, "dsv2dv-delta")
      graft.sources.DeltaLogWriter.deleteWhereDv(s, dBase,
        pmod(col("o_orderkey"), lit(10)) < 2)
      val iBase = s"$lake/ice"
      graft.sources.IcebergWriter.createV3(s, o.repartition(2), iBase)
      graft.sources.IcebergWriter.deleteWhereV3(s, iBase,
        col("o_orderpriority") === "1-URGENT")
      val hBase = s"$lake/hudi"
      graft.sources.HudiWriter.createMor(s, o, hBase, "dsv2dv-hudi", "o_orderkey", 4)
      graft.sources.HudiWriter.logCommit(s, hBase,
        o.filter(pmod(col("o_orderkey"), lit(10)) === 5)
          .withColumn("cents", col("cents") + 3),
        deleteKeys = Some(o.filter(pmod(col("o_orderkey"), lit(10)) === 6)
          .select(col("o_orderkey"))))
      val delta = census(s.read.format("graft-delta").option("path", dBase).load()
        .filter(col("o_orderpriority") === "2-HIGH"), "surface" -> "delta")
      val ice = census(s.read.format("graft-iceberg").option("path", iBase).load()
        .filter(pmod(col("o_orderkey"), lit(3)) === 0), "surface" -> "iceberg")
      val hudi = census(s.read.format("graft-hudi").option("path", hBase).load()
        .filter(pmod(col("o_orderkey"), lit(3)) === 1), "surface" -> "hudi")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv2dv_delta " +
        s"USING `graft-delta` OPTIONS (path '$dBase')")
      val sql = census(s.sql(
        "SELECT cents FROM dsv2dv_delta WHERE o_orderpriority = '5-LOW'"), "surface" -> "sql")
      Seq(delta, ice, hudi, sql).reduce(_ unionAll _).orderBy("surface")
    }),

    // ---- SQL TIME TRAVEL through the catalog -------------------------------
    // `SELECT ... FROM cat.ns.t VERSION AS OF v` / `TIMESTAMP AS OF ts`
    // as pure SQL text, all three formats: the catalog's loadTable
    // overloads map the coordinate to each format's own axis (Delta log
    // version, Iceberg snapshot id via snapshot timestamp-ms for the
    // wall-clock form, Hudi instant). Time-traveled tables are
    // read-only (a write would fork history). Metadata-only resolution
    // — at 100 TB the historical read plans exactly the old snapshot's
    // file set, no log replay over data.
    "q_lake_travel" -> ((s, d) => {
      val lake = fresh(root(d, "deltaw", "travel"), "db")
      val o = iceOrders(s, d)
      val dBase = s"$lake/db/d"
      graft.sources.DeltaLogWriter.create(s,
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0).repartition(2), dBase, "trav-d")
      graft.sources.DeltaLogWriter.append(s,
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1 &&
          col("o_orderpriority") === "5-LOW"), dBase)
      val iBase = s"$lake/db/i"
      graft.sources.IcebergWriter.create(s, o.repartition(2), iBase)
      graft.sources.IcebergWriter.append(s,
        o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select((col("o_orderkey") + 600000000L).as("o_orderkey"),
            col("o_orderpriority"), lit(321L).as("cents")), iBase)
      val hBase = s"$lake/db/h"
      graft.sources.HudiWriter.create(s, o, hBase, "trav-h", "o_orderkey", 4)
      graft.sources.HudiWriter.upsert(s,
        o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .withColumn("cents", col("cents") + 5), hBase)
      val cat = catalog(s, "travcat", d, lake)
      Seq(
        sqlCensus(s, "delta_v0", s"$cat.db.d VERSION AS OF 0"),
        sqlCensus(s, "delta_now", s"$cat.db.d"),
        sqlCensus(s, "ice_s1", s"$cat.db.i VERSION AS OF 1"),
        // this writer stamps snapshot timestamp-ms = snapshot id, so
        // the wall-clock form resolves real snapshot boundaries
        sqlCensus(s, "ice_t1",
          s"$cat.db.i TIMESTAMP AS OF timestamp'1970-01-01 00:00:00.001+00:00'"),
        sqlCensus(s, "ice_now", s"$cat.db.i"),
        sqlCensus(s, "hudi_i1", s"$cat.db.h VERSION AS OF '001'"),
        sqlCensus(s, "hudi_now", s"$cat.db.h")
      ).reduce(_ unionAll _).orderBy("surface")
    }),

    // ---- pure-SQL DELETE on Iceberg catalog tables -------------------------
    // `DELETE FROM cat.ns.t WHERE p` on an ICEBERG table routes
    // metadata-only into the writer's delete machinery (SupportsDelete):
    // POSITION-DELETE files on v2, puffin DVs on v3 — no data file is
    // rewritten, deletes stack, and already-masked rows never re-match.
    // The historical censuses ride the new VERSION AS OF surface, so
    // this also proves old snapshots do NOT see later delete files.
    "q_lake_sql_dml_ice" -> ((s, d) => {
      val hex = LakehouseQueries.hex(d)
      val lake = fresh(root(d, "iceberg", "sqldelice"), "db")
      val o = iceOrders(s, d)
      graft.sources.IcebergWriter.create(s, o.repartition(2), s"$lake/db/i2")
      graft.sources.IcebergWriter.createV3(s, o.repartition(2), s"$lake/db/i3")
      val cat = catalog(s, "icedelcat", d, lake)
      // simple DELETEs stay FILTER-TRANSLATABLE (SupportsDelete's
      // metadata-only route); UPDATE / MERGE / complex predicates
      // rewrite through the delta-based row-level operation — executors
      // stage only the CHANGED rows, deleted positions land as
      // position-delete files (v2) / puffin-DV unions (v3)
      s.sql(s"DELETE FROM $cat.db.i2 WHERE o_orderpriority = '1-URGENT'")
      s.sql(s"DELETE FROM $cat.db.i2 WHERE cents < 10000 AND o_orderpriority = '3-MEDIUM'")
      s.sql(s"UPDATE $cat.db.i2 SET cents = cents + 9 WHERE o_orderkey % 10 = 4")
      o.filter(col("o_orderpriority") === "2-HIGH" &&
          pmod(col("o_orderkey"), lit(6)) === 1)
        .select(col("o_orderkey"), col("o_orderpriority"), lit(555L).as("cents"))
        .unionAll(o.filter(pmod(col("o_orderkey"), lit(23)) === 0)
          .select((col("o_orderkey") + 650000000L).as("o_orderkey"),
            lit("7-ICE").as("o_orderpriority"), lit(222L).as("cents")))
        .createOrReplaceTempView(s"sqldml_icesrc_$hex")
      s.sql(
        s"""MERGE INTO $cat.db.i2 AS t USING sqldml_icesrc_$hex AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, cents)
           |VALUES (s.o_orderkey, s.o_orderpriority, s.cents)""".stripMargin)
      s.sql(s"DELETE FROM $cat.db.i3 WHERE o_orderpriority IN ('2-HIGH', '5-LOW')")
      s.sql(s"UPDATE $cat.db.i3 SET cents = 1 WHERE o_orderkey % 9 = 2")
      Seq(
        sqlCensus(s, "i2_s1", s"$cat.db.i2 VERSION AS OF 1"),
        sqlCensus(s, "i2_s2", s"$cat.db.i2 VERSION AS OF 2"),
        sqlCensus(s, "i2_now", s"$cat.db.i2"),
        sqlCensus(s, "i3_now", s"$cat.db.i3")
      ).reduce(_ unionAll _).orderBy("surface")
    }),

    // ---- Iceberg v3 DEFAULT VALUES (initial-default) -----------------------
    // ADD COLUMN ... DEFAULT stays metadata-only: rows that PREDATE the
    // column surface the spec's initial-default instead of NULL — zero
    // rewrite at any size. This engine pairs the default with REQUIRED
    // semantics (post-add appends must provide the column non-null —
    // IcebergSpec pins the refusals), which is exactly what keeps the
    // one-merged-scan resolution sound: NULL ⟺ the file predates the
    // column. Fixture: v3 create + append (era 1), add tier DEFAULT
    // 'bronze', append typed rows (era 2), add boost DEFAULT 5, append
    // again (era 3). Census: per-tier totals (old rows are all bronze)
    // + the boost sum (eras 1-2 contribute the default).
    "q_iceberg_default" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_default")
      val IW = graft.sources.IcebergWriter
      val o = iceOrders(s, d).select(col("o_orderkey"), col("cents"))
      def grp(r: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === r)
      IW.createV3(s, grp(0).repartition(2), base)
      IW.append(s, grp(1), base)
      IW.evolveAddColumnDefault(s, base, "tier", "string", "\"bronze\"")
      IW.append(s, grp(2).withColumn("tier",
        when(pmod(col("o_orderkey"), lit(2)) === 0, "gold").otherwise("silver")), base)
      IW.evolveAddColumnDefault(s, base, "boost", "long", "5")
      IW.append(s, o.filter(col("o_orderkey") % 10 === 4)
        .select((col("o_orderkey") + 800000000L).as("o_orderkey"), col("cents"))
        .withColumn("tier", lit("era3"))
        .withColumn("boost", pmod(col("o_orderkey"), lit(9))), base)
      graft.sources.IcebergReader.read(s, base)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
          sum(col("boost")).as("total_boost"))
        .orderBy("tier")
    }),

    // ---- Delta TYPE WIDENING (reader+writer feature `typeWidening`) -------
    // A key outgrowing INT is the classic year-three schema crisis; the
    // feature makes it a METADATA-ONLY commit: the declared type widens
    // (int→long here, int→double too), delta.typeChanges records the
    // audit trail, old files keep their narrow parquet type and every
    // log-schema-enforced scan upcasts them natively — zero rewrite at
    // any size. Fixture: create with two INT columns, widen qty→BIGINT,
    // append values only a LONG can hold (the mixed-file read is the
    // graded point), widen septile→DOUBLE. Census: each version's
    // totals; phase 0 grades the pre-widening ints, phase 2 the mixed
    // int/long files, phase 3 the double re-read of unchanged values.
    "q_delta_type_widening" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_widen")
      val W = graft.sources.DeltaLogWriter
      val o = iceOrders(s, d)
      val narrow = o.select(col("o_orderkey"),
        col("cents").cast("int").as("qty"),
        pmod(col("cents"), lit(97)).cast("int").as("septile"))
      W.create(s, narrow.repartition(2), base, "graft-orders-widen")
      W.widenColumnType(s, base, "qty", "BIGINT")
      val wide = o.filter(pmod(col("o_orderkey"), lit(10)) === 3).select(
        (col("o_orderkey") + 700000000L).as("o_orderkey"),
        (col("cents") + 3000000000L).as("qty"),
        pmod(col("cents"), lit(97)).cast("int").as("septile"))
      W.append(s, wide, base)
      W.widenColumnType(s, base, "septile", "DOUBLE")
      Seq(0L, 2L, 3L).map { v =>
        graft.sources.DeltaLogReader.read(s, base, v).agg(
          count(lit(1)).as("n_rows"),
          sum(col("qty")).cast("long").as("total_qty"),
          sum(col("septile")).cast("long").as("total_septile"))
          .select(lit(v).as("phase"), col("n_rows"),
            col("total_qty"), col("total_septile"))
      }.reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Delta GENERATED columns (writer feature `generatedColumns`) ------
    // The spec's contract is on WRITERS: a generated column absent from
    // a batch is computed from its delta.generationExpression, one
    // provided must satisfy it row-by-row (a divergent batch aborts —
    // DeltaLogSpec pins the refusal). Readers stay oblivious: values
    // are materialized like any other column, so the expression never
    // runs at 100 TB scan scale. Fixture: create computes both
    // generated columns; append 1 provides neither (computed); append 2
    // provides bucket7 explicitly (validated) and omits prio_class.
    // Census: per-version totals + the final per-class breakdown — a
    // writer that skipped computing, mis-computed, or bound the
    // expression to the wrong row hash-fails.
    "q_delta_generated" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_gen")
      val W = graft.sources.DeltaLogWriter
      val o = iceOrders(s, d)
      W.createGenerated(s, o.repartition(2), base, "graft-orders-gen",
        Seq("bucket7" -> "o_orderkey % 7",
          "prio_class" -> "substring(o_orderpriority, 1, 1)"))
      val ins1 = o.filter(pmod(col("o_orderkey"), lit(10)) === 4)
        .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
          col("o_orderpriority"), (col("cents") + 3L).as("cents"))
      W.append(s, ins1, base)
      val ins2 = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
        .select((col("o_orderkey") + 600000000L).as("o_orderkey"),
          col("o_orderpriority"), col("cents"))
        .withColumn("bucket7", expr("o_orderkey % 7"))
      W.append(s, ins2, base)
      val versions = (0L to 2L).map { v =>
        graft.sources.DeltaLogReader.read(s, base, v).agg(
          count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
          sum(col("bucket7")).as("sum_bucket"))
          .select(lit(v).as("phase"), lit("*").as("tag"),
            col("n_rows"), col("total_cents"), col("sum_bucket"))
      }
      val byClass = graft.sources.DeltaLogReader.read(s, base, 2L)
        .groupBy(col("prio_class").as("tag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
          sum(col("bucket7")).as("sum_bucket"))
        .select(lit(10L).as("phase"), col("tag"),
          col("n_rows"), col("total_cents"), col("sum_bucket"))
      (versions :+ byClass).reduce(_ unionAll _).orderBy("phase", "tag")
    }),

    // ---- Delta IDENTITY column (writer feature `identityColumns`) ---------
    // Writer-assigned surrogate keys: ids start at 100 by 3, the
    // high-water mark rides the schemaString field metadata (where the
    // spec keeps it) and each identity append REPLACES the metaData
    // with the bumped mark in the same commit — ids are never reused.
    // allowExplicitInsert=false makes a batch that brings its own ids
    // refuse (DeltaLogSpec). Assignment is distributed via ShardedRank
    // over o_orderkey (deterministic — strictly stronger than real
    // Delta's nondeterministic assignment, and what lets DuckDB replay
    // it with row_number). Census: per-version id range + a bind
    // checksum tying each id to ITS row's key.
    "q_delta_identity" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_sk")
      val W = graft.sources.DeltaLogWriter
      val o = iceOrders(s, d)
      W.createIdentity(s, o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
        base, "graft-orders-sk", "row_sk", 100L, 3L, Seq("o_orderkey"))
      W.appendIdentity(s, o.filter(pmod(col("o_orderkey"), lit(3)) === 0),
        base, Seq("o_orderkey"))
      val versions = (0L to 1L).map { v =>
        graft.sources.DeltaLogReader.read(s, base, v).agg(
          count(lit(1)).as("n_rows"),
          min(col("row_sk")).as("min_sk"), max(col("row_sk")).as("max_sk"),
          sum(col("row_sk")).as("sum_sk"),
          sum(col("row_sk") * pmod(col("o_orderkey"), lit(97))).as("bind_sum"))
          .select(lit(v).as("phase"), col("n_rows"), col("min_sk"),
            col("max_sk"), col("sum_sk"), col("bind_sum"))
      }
      versions.reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- BATCH DSv2 WRITE front door --------------------------------------
    // The other half of q_lake_dsv2: `df.write.format("graft-delta")
    // .mode("append"/"overwrite").save()` and pure-SQL `INSERT INTO
    // <view USING graft-delta>` ride the V1-fallback DSv2 write surface
    // into the FULL log writers — so constraints, generated columns,
    // column mapping and row tracking hold on this path too, and
    // `overwrite` is one remove-all+add commit (time travel keeps every
    // prior version; no _change_data staged — an overwrite must not
    // write its data twice). graft-iceberg appends through the same
    // door. Census: every delta version + the final front-door read +
    // the iceberg state after its format() append.
    "q_lake_dsv2_write" -> ((s, d) => {
      val lake = root(d, "deltaw", "dsv2w")
      val o = iceOrders(s, d)
      val dBase = s"$lake/delta"
      val iBase = s"$lake/ice"
      def grp(r: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === r)
      graft.sources.DeltaLogWriter.create(s, grp(0).repartition(2), dBase,
        "graft-orders-dsv2w")
      grp(1).write.format("graft-delta").option("path", dBase)
        .mode("append").save()
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv2w USING `graft-delta` " +
        s"OPTIONS (path '$dBase')")
      grp(2).createOrReplaceTempView("dsv2w_src")
      s.sql("INSERT INTO dsv2w SELECT * FROM dsv2w_src")
      o.filter(col("o_orderpriority") === "3-MEDIUM")
        .withColumn("cents", col("cents") + 2L)
        .write.format("graft-delta").option("path", dBase)
        .mode("overwrite").save()
      graft.sources.IcebergWriter.create(s, grp(0).repartition(2), iBase)
      grp(1).write.format("graft-iceberg").option("path", iBase)
        .mode("append").save()
      val versions = (0L to 3L).map(v =>
        census(graft.sources.DeltaLogReader.read(s, dBase, v), "phase" -> v))
      val door = census(s.read.format("graft-delta").option("path", dBase).load(), "phase" -> 10L)
      val ice = census(s.read.format("graft-iceberg").option("path", iBase).load(), "phase" -> 20L)
      (versions ++ Seq(door, ice)).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Delta checkpoint write + log expiry -----------------------------
    // The replay-bounding half of the spec: after v0+v1, `checkpoint`
    // emits <v1>.checkpoint.parquet + _last_checkpoint, `expireLog`
    // deletes the now-redundant v0 commit JSON (the metadata half of
    // VACUUM), and v2 appends AFTER the cleanup. The graded censuses
    // read v1 (reconstructable ONLY through the checkpoint — its JSON
    // predecessor is gone) and v2 (checkpoint seed + O(tail) replay of
    // exactly one commit). A checkpoint that missed a live file,
    // mis-sized, or a reader that still demanded commit 0 hash-fails.
    "q_delta_checkpoint" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_ckpt")
      val o = iceOrders(s, d)
      def grp(r: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === r)
      graft.sources.DeltaLogWriter.create(s, grp(0).coalesce(1), base, "graft-orders-ckpt")
      graft.sources.DeltaLogWriter.append(s, grp(1).coalesce(1), base)
      graft.sources.DeltaLogWriter.checkpoint(s, base)
      graft.sources.DeltaLogWriter.expireLog(base)
      graft.sources.DeltaLogWriter.append(s, grp(2).coalesce(1), base)
      Seq(1L, 2L).map(v => census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- Delta V2 CHECKPOINT (checkpointPolicy=v2 + sidecars) -------------
    // Modern writers emit this layout by default on large tables: the
    // top-level `<v>.checkpoint.<uuid>.parquet` holds only NON-FILE
    // actions (checkpointMetadata/protocol/metaData/txn) plus `sidecar`
    // pointer rows, and the add actions live in sidecar parquet under
    // _delta_log/_sidecars/ — a reader that only speaks classic
    // checkpoints cannot reconstruct the snapshot at all once the JSON
    // tail expires. Same discipline as q_delta_checkpoint: v0+v1,
    // checkpointV2 (TWO sidecars — the reader must union them),
    // expireLog (v0's JSON is gone; v1 is reconstructable ONLY through
    // the sidecars), then append v2 and census both readable versions.
    "q_delta_v2checkpoint" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_v2ck")
      val o = iceOrders(s, d)
      def grp(r: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === r)
      graft.sources.DeltaLogWriter.create(s, grp(0).coalesce(1), base, "graft-orders-v2ck")
      graft.sources.DeltaLogWriter.append(s, grp(1).coalesce(1), base)
      graft.sources.DeltaLogWriter.checkpointV2(s, base)
      graft.sources.DeltaLogWriter.expireLog(base)
      graft.sources.DeltaLogWriter.append(s, grp(2).coalesce(1), base)
      Seq(1L, 2L).map(v => census(graft.sources.DeltaLogReader.read(s, base, v), "version" -> v))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- Delta Change Data Feed ------------------------------------------
    // The CDC contract an incremental consumer reads: v0 inserts (two
    // files by o_orderkey%2), v1 cdc-updates f0's '2-HIGH' rows
    // (cents+5) — the commit carries _change_data files with explicit
    // update_preimage/update_postimage rows which must be used INSTEAD
    // of its add/remove (no double counting) — and v2 deletes f1 with
    // no cdc files, so the delete derives from the remove's pre-image.
    // Census per (version, change_type); the oracle replays all three
    // change sets from `orders`, grading the cdc-priority rule, the
    // insert/delete derivations and the dataChange algebra at once.
    "q_delta_cdf" -> ((s, d) => {
      val base = LakehouseQueries.mkDeltaCdfFixture(s, d, "orders_cdf")
      graft.sources.DeltaLogReader.readChanges(s, base, 0L, 2L)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .orderBy("version", "change_type")
    }),

    // ---- PUBLIC-spec Apache Iceberg interop (read-only) -----------------
    // The SECOND foreign table format, structurally opposite to Delta:
    // Iceberg is a metadata TREE walked downward (version-hint →
    // metadata JSON → manifest-list avro → manifest avro → data files),
    // not a log replayed forward. Fixture: a Hadoop-catalog-layout
    // table over `orders` (o_orderkey%4 file groups), two snapshots —
    // snap 1 adds g0..g2; snap 2 deletes g0 (status=2), carries g1/g2
    // as EXISTING, adds g3. graft.sources.IcebergReader walks the tree
    // with the ordinary Spark avro source and hands the live file list
    // to the plain parquet scan. The graded census reads BOTH snapshots
    // (time travel across a foreign tree); the oracle rebuilds each
    // from `orders`, so status filtering, manifest walking and snapshot
    // pinning are all hash-graded.
    "q_iceberg_scan" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergFixture(s, d, "orders_ice")
      Seq(1L, 2L).map(snap =>
        census(graft.sources.IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- SQL-text front door: lakehouse TABLE-VALUED FUNCTIONS -----------
    // Ad-hoc SQL (the RunJob orchestration path) must reach the foreign
    // formats WITHOUT Scala DataFrame construction — the entire graded
    // query below is ONE SQL string over the three injected TVFs
    // (delta_scan / iceberg_scan / hudi_scan), covering explicit
    // version, explicit snapshot, latest-instant, and latest-version
    // forms. The TVF builders run the readers' KB-scale metadata
    // planning at analysis time and contribute their analyzed plans, so
    // Catalyst optimizes through them like views — the census
    // aggregates land on ordinary pushdown-friendly parquet scans
    // (SqlSurfaceSpec pins a WHERE reaching PushedFilters).
    "q_sql_lake_tvf" -> ((s, d) => {
      graft.functions.LakeScanTvf.register(s)
      val dl = LakehouseQueries.mkDeltaFixture(s, d, "orders_dl_tvf")
      val ib = LakehouseQueries.mkIcebergFixture(s, d, "orders_ice_tvf")
      val hu = LakehouseQueries.mkHudiFixture(s, d, "orders_hudi_tvf")
      s.sql(
        s"SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM delta_scan('$dl', 1) " +
        s"UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM iceberg_scan('$ib', 2) " +
        s"UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM hudi_scan('$hu') " +
        s"UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM delta_scan('$dl') " +
        "ORDER BY phase")
    }),

    // ---- Iceberg v2 POSITION deletes ------------------------------------
    // Snapshot 2 layers a position-delete file (content=1, rows of
    // (file_path, pos)) over unchanged data files — the spec's
    // merge-on-read shape. IcebergReader applies it as a broadcast
    // LEFT ANTI join keyed on the scan's own _metadata.file_path /
    // _metadata.row_index (Spark's native parquet row positions ARE
    // the spec's `pos`), so the data scan stays the ordinary
    // pushdown-friendly parquet read. The census reads both snapshots:
    // snapshot 1 must NOT see the delete (its manifest list predates
    // it), snapshot 2 must drop exactly g0's '1-URGENT' rows — which
    // the oracle replays as a plain predicate.
    "q_iceberg_deletes" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergV2Fixture(s, d, "orders_ice2")
      Seq(1L, 2L).map(snap =>
        census(graft.sources.IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg `files` metadata relation -------------------------------
    // The ops-dashboard query: file counts and row counts per snapshot
    // answered from the manifest entries ALONE — record_count rides the
    // manifest, so no data file is ever opened (PlanAuditSpec pins the
    // plan parquet-free). The census must also agree with the data:
    // the oracle derives the same numbers from `orders` itself, so a
    // manifest whose record_count drifted from its file would fail.
    "q_iceberg_files" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergFixture(s, d, "orders_ice")
      val snaps = Seq(1L, 2L).map { snap =>
        graft.sources.IcebergReader.filesTable(s, base, snap).agg(
          count(lit(1)).as("n_files"),
          sum(col("record_count")).as("n_rows"))
          .select(lit(snap).as("snapshot_id"), col("n_files"), col("n_rows"))
      }
      snaps.reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg incremental append scan --------------------------------
    // The consumer-loop diff between consecutive snapshots: only the
    // rows each snapshot itself ADDED (status=1 entries of its
    // manifest list — snapshot 2 carries g1/g2 as EXISTING and must
    // NOT re-emit them, the exactly-once property an incremental
    // consumer depends on). readAppended rejects snapshots that add
    // delete files; metadata stays KB-scale, the data read is the
    // plain parquet scan over just the new files.
    "q_iceberg_incr" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergFixture(s, d, "orders_ice")
      val increments = Seq(1L, 2L).map { snap =>
        graft.sources.IcebergReader.readAppended(s, base, snap).agg(
          count(lit(1)).as("n_new_rows"),
          sum(col("cents")).as("new_cents"))
          .select(lit(snap).as("snapshot_id"), col("n_new_rows"), col("new_cents"))
      }
      increments.reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg manifest partition pruning -----------------------------
    // An identity-partitioned table (one file per o_orderpriority)
    // whose manifest entries carry the typed data_file.partition
    // struct; readWhere filters entries on it driver-side (KB of
    // avro), so 3 of 5 data files are never handed to the parquet
    // source — Iceberg's scan planning, the foreign twin of
    // q_txn_prune. IcebergSpec pins the planned-file count; the
    // residual row filter keeps the engine honest if a file ever
    // held mixed partitions.
    "q_iceberg_prune" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergPartFixture(s, d, "orders_icep")
      val keep = Seq("1-URGENT", "2-HIGH")
      census(graft.sources.IcebergReader.readWhere(s, base, 1L,
          col("data_file.partition.o_orderpriority").isin(keep: _*))
        .filter(col("o_orderpriority").isin(keep: _*))
        .groupBy(col("o_orderpriority")))
        .orderBy("o_orderpriority")
    }),

    // ---- Iceberg column-stats (min/max) file skipping --------------------
    // The OTHER half of Iceberg's scan planning: manifest entries carry
    // lower_bounds/upper_bounds per field id (spec single-value
    // serialization — 8-byte little-endian longs) and a range predicate
    // prunes files whose bounds don't overlap BEFORE any data is
    // opened. Fixture: one data file per order-year with exact o_year
    // bounds; a 1997-98 read plans 2 of 7 files (IcebergSpec pins it).
    // boundsOverlap decodes the spec's little-endian binary with a
    // hex byte-swap + conv over the KB-scale entry rows; files without
    // bounds are kept, per spec. The residual row filter keeps the
    // engine honest; the oracle replays the predicate over `orders`.
    "q_iceberg_stats_prune" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergStatsFixture(s, d, "orders_ices")
      census(graft.sources.IcebergReader.readWhere(s, base, 1L,
          graft.sources.IcebergReader.boundsOverlap(3, 1997L, 1998L))
        .filter(col("o_year").between(1997, 1998))
        .groupBy(col("o_year")))
        .orderBy("o_year")
    }),

    // ---- PUBLIC-spec Apache Hudi CoW interop (read-only) ----------------
    // The THIRD foreign format, a third distinct shape: a TIMELINE
    // (.hoodie/<instant>.commit markers) joined against file NAMES
    // (<fileId>_<token>_<instant>.parquet). Fixture: three file groups
    // at instant 001; instant 002 copy-on-write-rewrites g0 without
    // its '1-URGENT' rows; instant 003 rewrites g1 but stays INFLIGHT.
    // The census reads as-of 001 (time travel) and latest-committed —
    // a reader that globbed *.parquet or trusted max-instant-anywhere
    // would surface 003's orphan file and hash-fail; slice resolution
    // (latest committed instant per file group) and timeline filtering
    // are both graded. The oracle replays the upsert as a predicate.
    "q_hudi_scan" -> ((s, d) => {
      val base = LakehouseQueries.mkHudiFixture(s, d, "orders_hudi")
      val at001 = graft.sources.HudiReader.readAsOf(s, base, "001")
      val latest = graft.sources.HudiReader.read(s, base)
      census(at001, "snapshot" -> 1L).unionAll(census(latest, "snapshot" -> 2L))
        .orderBy("snapshot")
    }),

    // ---- PUBLIC-spec Apache Hudi EXPORT (the write path) ----------------
    // The THIRD export format, with the third write discipline: no
    // manifest at all — HudiWriter commits through the timeline
    // (inflight marker → bucket data files → .commit LAST) and routes
    // rows to file groups by the bucket index recorded in
    // hoodie.properties. The upsert rewrites every touched bucket
    // copy-on-write, carrying unchanged rows with their ORIGINAL
    // _hoodie_commit_time. Graded through the already-graded reader
    // three ways: snapshot as-of create (phase 1), latest snapshot
    // after the '2-HIGH' cents+9 upsert (phase 2), and the incremental
    // read of just the upsert batch (phase 3) — which hash-fails if
    // the writer stamped carried rows with the new instant.
    "q_hudi_roundtrip" -> ((s, d) => {
      val base = root(d, "hudi", "orders_rt")
      val o = iceOrders(s, d)
      val c1 = graft.sources.HudiWriter.create(s, o, base, "orders_rt", "o_orderkey", 3)
      val upd = o.filter(col("o_orderpriority") === "2-HIGH")
        .withColumn("cents", col("cents") + 9)
      val c2 = graft.sources.HudiWriter.upsert(s, upd, base)
      Seq(census(graft.sources.HudiReader.readAsOf(s, base, c1), "phase" -> 1L),
        census(graft.sources.HudiReader.read(s, base), "phase" -> 2L),
        census(graft.sources.HudiReader.readIncremental(s, base, c1, c2), "phase" -> 3L))
        .reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Hudi incremental query (CDC poll) -------------------------------
    // The consumer loop over a CoW table: rows written by commits in
    // (from, to], via the _hoodie_commit_time meta column every real
    // Hudi writer stamps. The rewrite copies unchanged rows forward
    // with their ORIGINAL commit time, so batch 2 surfaces ONLY the
    // updated '2-HIGH' rows (cents+7) — carried rows stay silent and
    // deletes surface as absence. incrementalFiles prunes untouched
    // file groups from the scan before any row is read. Batch 1 is the
    // initial load (everything ≤ 001).
    // ---- Delta schema evolution (ADD COLUMN, mergeSchema write) ----------
    // The other metadata-only table change (q_delta_colmap grades
    // RENAME): an evolving append commits a new metaData whose
    // schemaString is the union schema — no old file is rewritten, and
    // the LOG-enforced read surfaces the new column as NULL on
    // pre-evolution rows (footer-sampled scans would instead pick
    // whichever schema Spark sampled first). Fixture: v0 = '1-URGENT'
    // slice WITHOUT the priority column; v1 appends the rest WITH it.
    // Census per priority, old rows grouped under the NULL bucket;
    // time travel to v0 answers with the narrow schema. Oracle replays
    // both versions from orders.
    "q_delta_evolve" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_evo")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey", "cents"),
        base, "graft-orders-evo")
      graft.sources.DeltaLogWriter.appendEvolved(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_orderkey"), col("cents"), col("o_orderpriority").as("pri")), base)
      val v0cols = graft.sources.DeltaLogReader.read(s, base, 0L).columns.length.toLong
      graft.sources.DeltaLogReader.read(s, base, 1L)
        .groupBy(coalesce(col("pri"), lit("(pre-evolution)")).as("pri"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(col("pri"), lit(v0cols).as("v0_cols"), col("n_rows"), col("total_cents"))
        .orderBy("pri")
    }),

    // ---- Delta TIMESTAMP AS OF ---------------------------------------------
    // The other half of time travel (VERSION AS OF is graded all over
    // this file): resolve a wall-clock timestamp to the latest commit
    // at or before it via the commitInfo `timestamp` field — IN-COMMIT
    // provenance, never file mtimes (not reproducible; a reader using
    // them silently time-travels differently after any copy). Fixture:
    // three commits stamped 1000/2000/3000 ms adding one o_orderkey%3
    // group each; probes at 1500/2500/3500 must resolve v0/v1/v2, and
    // a probe BEFORE the first commit must fail, not clamp. Oracle
    // replays the cumulative residue censuses.
    "q_delta_ts_travel" -> ((s, d) => {
      val base = LakehouseQueries.mkDeltaTsFixture(s, d, "orders_ts")
      val probes = Seq(1500L, 2500L, 3500L).map { ts =>
        val v = graft.sources.DeltaLogReader.versionAtTimestamp(base, ts)
        census(graft.sources.DeltaLogReader.read(s, base, v), "probe_ts" -> ts, "version" -> v)
      }
      val early =
        try { graft.sources.DeltaLogReader.versionAtTimestamp(base, 500L); 0L }
        catch { case _: IllegalArgumentException => 1L }
      probes.reduce(_ unionAll _)
        .withColumn("early_probe_fails", lit(early))
        .orderBy("probe_ts")
    }),

    // ---- Delta CHECK constraints -------------------------------------------
    // The quality gate at the TABLE boundary (q_txn_constraint grades
    // the native log's flavor; this is the open-format one): ADD
    // CONSTRAINT is a metaData-only commit carrying
    // delta.constraints.<name> and bumping minWriterVersion to 3, and
    // every later append validates BEFORE staging any data — a
    // violating batch aborts with nothing on disk. Fixture: create the
    // urgent slice, add CHECK (cents >= 0), append the valid rest,
    // then attempt a negated-cents batch which must abort whole. The
    // graded output pins the version count (3 — the failed append
    // committed NOTHING), the rejected-batch count, and the census
    // (only valid rows present).
    "q_delta_constraint" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_chk")
      val o = iceOrders(s, d)
      graft.sources.DeltaLogWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT"), base, "graft-orders-chk")
      graft.sources.DeltaLogWriter.addConstraint(s, base, "cents_nonneg", "cents >= 0")
      graft.sources.DeltaLogWriter.append(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT"), base)
      val rejected =
        try {
          graft.sources.DeltaLogWriter.append(s,
            o.withColumn("cents", -col("cents") - 1), base)
          0L
        } catch { case _: IllegalArgumentException => 1L }
      val nVersions = graft.sources.DeltaLogReader.versions(base).size.toLong
      census(graft.sources.DeltaLogReader.read(s, base),
        "n_versions" -> nVersions, "rejected_batches" -> rejected)
    }),

    // ---- Iceberg refs: tags + branches -------------------------------------
    // The audit/compliance surface: a TAG pins a snapshot by name
    // (and shields it from expiry — the writer refuses to expire a
    // ref'd snapshot), a BRANCH is a movable head; both live in the
    // metadata's `refs` map and cost one metadata version to set.
    // Fixture: snap 1 = urgent slice, snap 2 = everything; tag
    // 'audit' → 1, branch 'dev' → 2; then an APPEND (snap 3) must
    // carry the refs forward untouched. Census reads BY REF NAME —
    // 'audit' still answers snapshot 1 after two later commits. The
    // oracle replays both slices.
    "q_iceberg_refs" -> ((s, d) => {
      val base = root(d, "iceberg", "orders_refs")
      val o = iceOrders(s, d)
      graft.sources.IcebergWriter.create(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(2), base)
      graft.sources.IcebergWriter.append(s,
        o.filter(col("o_orderpriority") =!= "1-URGENT").repartition(2), base)
      graft.sources.IcebergWriter.setRef(s, base, "audit", 1L, "tag")
      graft.sources.IcebergWriter.setRef(s, base, "dev", 2L, "branch")
      graft.sources.IcebergWriter.append(s,
        o.filter(col("o_orderpriority") === "1-URGENT").repartition(1), base)
      Seq("audit" -> 1L, "dev" -> 2L).map { case (ref, ord) =>
        census(graft.sources.IcebergReader.readRef(s, base, ref), "ord" -> ord, "ref" -> ref)
      }.reduce(_ unionAll _).orderBy("ord")
    }),

    // ---- Delta VACUUM (the data half) -------------------------------------
    // q_delta_checkpoint graded the log half (expireLog); this grades
    // the storage-reclaim half: after create(3 files) + OPTIMIZE(1
    // packed file) + checkpoint + expireLog, the 3 originals are
    // referenced by NO readable version — vacuum deletes exactly them,
    // the packed file and the log survive, and the census is
    // byte-identical across the cleanup. Disk file counts ride the
    // output, so a vacuum that deleted a live file (content drift) or
    // missed a dead one (count drift) hash-fails.
    "q_delta_vacuum" -> ((s, d) => {
      val base = root(d, "deltaw", "orders_vac")
      val o = iceOrders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      graft.sources.DeltaLogWriter.create(s, o.repartition(3), base, "graft-orders-vac")
      graft.sources.DeltaLogWriter.optimize(s, base)
      graft.sources.DeltaLogWriter.checkpoint(s, base)
      graft.sources.DeltaLogWriter.expireLog(base)
      def diskFiles(): Long = {
        import scala.jdk.CollectionConverters._
        graft.sources.Fs.walk(java.nio.file.Paths.get(base)).iterator
          .count(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet") &&
            !p.toString.contains("_delta_log")).toLong
      }
      def live(phase: Long) = census(graft.sources.DeltaLogReader.read(s, base),
        "phase" -> phase, "n_files" -> diskFiles())
      val pre = live(1L)
      graft.sources.DeltaLogWriter.vacuum(s, base)
      val post = live(2L)
      pre.unionAll(post).orderBy("phase")
    }),

    // ---- Iceberg remove_orphan_files ---------------------------------------
    // The crash-debris cleaner: a failed write stages data files the
    // commit never claimed — they cost storage forever and break naive
    // directory listings, but NO snapshot references them. The fixture
    // plants one orphan next to the two claimed group files;
    // removeOrphans detects it with a KB-scale manifest-vs-listing set
    // difference (no data file opened) and deletes exactly it. The
    // census pins content equality across the cleanup and the disk
    // file counts (3 → 2).
    "q_iceberg_orphans" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergOrphanFixture(s, d, "orders_orph")
      def diskFiles(): Long = {
        import scala.jdk.CollectionConverters._
        graft.sources.Fs.list(java.nio.file.Paths.get(base, "data"))
          .size.toLong
      }
      def live(phase: Long) = census(graft.sources.IcebergReader.read(s, base),
        "phase" -> phase, "n_files" -> diskFiles())
      val pre = live(1L)
      graft.sources.IcebergWriter.removeOrphans(s, base)
      val post = live(2L)
      pre.unionAll(post).orderBy("phase")
    }),

    // ---- Hudi CLEANER (keep-latest-file-versions) --------------------------
    // The storage-reclaim half of copy-on-write: every upsert leaves
    // the whole previous file slice behind, so two upserts over all
    // three buckets leave 9 base files serving 3 groups. clean(keep=1)
    // deletes the 6 superseded slices; the snapshot census is
    // byte-identical across the cleanup (reads only ever open the
    // latest slice) and the disk counts 9 → 3 pin that the reclaim
    // actually happened and took nothing live.
    "q_hudi_clean" -> ((s, d) => {
      val base = root(d, "hudi", "orders_clean")
      val o = iceOrders(s, d)
      graft.sources.HudiWriter.create(s, o, base, "orders_clean", "o_orderkey", 3)
      graft.sources.HudiWriter.upsert(s,
        o.filter(col("o_orderpriority") === "2-HIGH")
          .withColumn("cents", col("cents") + 5), base)
      graft.sources.HudiWriter.upsert(s,
        o.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("cents", col("cents") + 9), base)
      def diskFiles(): Long = graft.sources.HudiReader.baseFiles(base).size.toLong
      def live(phase: Long) = census(graft.sources.HudiReader.read(s, base),
        "phase" -> phase, "n_files" -> diskFiles())
      val pre = live(1L)
      graft.sources.HudiWriter.clean(s, base)
      val post = live(2L)
      pre.unionAll(post).orderBy("phase")
    }),

    // ---- Hudi TIMELINE LIFECYCLE: savepoint + rollback ----------------------
    // The two timeline ops that close the crash/retention story: a
    // CRASHED writer leaves an `.inflight` marker plus orphan data the
    // timeline already hides (phase 2's census equals phase 1's — the
    // debris is INVISIBLE, which is the timeline's whole point) but
    // whose bytes cost storage until ROLLBACK reclaims them (phase 3's
    // disk census drops, snapshot unchanged); a SAVEPOINT pins the
    // table's state at an instant against the CLEANER — phase 4 cleans
    // with the savepoint held and time travel to it still serves the
    // ORIGINAL content; releasing it lets the next clean reclaim the
    // shielded slices (phase 5's disk census drops to live-only,
    // snapshot intact). Disk counts are value-derived (touched buckets
    // = the upsert keys' distinct residues), so the oracle reconstructs
    // every phase from `orders`.
    "q_hudi_lifecycle" -> ((s, d) => {
      import graft.sources.{HudiReader, HudiWriter}
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val base = root(d, "hudi", "orders_life")
      val o = iceOrders(s, d)
      val t1 = HudiWriter.create(s, o, base, "orders_life", "o_orderkey", 3)
      HudiWriter.savepoint(s, base, t1)
      HudiWriter.upsert(s,
        o.filter(col("o_orderpriority") === "2-HIGH")
          .withColumn("cents", col("cents") + 9), base)
      def disk(): Long = HudiReader.baseFiles(base).size.toLong
      def phase(p: Long, df: DataFrame) = census(df, "phase" -> p, "n_disk_files" -> disk())
      val p1 = phase(1L, HudiReader.read(s, base))
      // a CRASHED write: data staged under a fresh instant whose
      // inflight marker never completed
      val committed = HudiReader.baseFiles(base).head.path
      JFiles.copy(JPaths.get(committed), JPaths.get(base, "zcrash_0-0-0_099.parquet"))
      JFiles.writeString(JPaths.get(base, ".hoodie", "099.inflight"), "")
      val p2 = phase(2L, HudiReader.read(s, base))
      HudiWriter.rollback(s, base)
      val p3 = phase(3L, HudiReader.read(s, base))
      HudiWriter.clean(s, base) // savepoint held: shielded slices survive
      // EAGER: this census reads the savepoint-shielded slices the
      // phase-5 clean deletes — a lazy plan would evaluate after them
      val p4 = phase(4L, HudiReader.readAsOf(s, base, t1)).localCheckpoint(true)
      HudiWriter.releaseSavepoint(s, base, t1)
      HudiWriter.clean(s, base)
      val p5 = phase(5L, HudiReader.read(s, base))
      Seq(p1, p2, p3, p4, p5).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Iceberg v2 EQUALITY deletes (the Flink-CDC shape) ---------------
    // CDC writers delete by VALUE, not position: the delete file's
    // columns are the equality tuple (here o_orderpriority =
    // '1-URGENT'), and the spec's sequence-number window makes it
    // erase matching rows ONLY from data files with a strictly
    // smaller sequence — the same commit re-inserts the urgent rows
    // at cents+11 in a sequence-2 data file, and those must survive.
    // Census both snapshots: snapshot 1 (pre-delete) is untouched;
    // snapshot 2 = everything minus old urgent plus re-inserted
    // urgent. The apply is one broadcast anti-join per delete file,
    // null-safe on the tuple, scoped to older files by the scan's own
    // _metadata.file_path; the oracle replays delete+reinsert.
    "q_iceberg_eq_deletes" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergEqDelFixture(s, d, "orders_eqd")
      Seq(1L, 2L).map(snap =>
        census(graft.sources.IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg partition TRANSFORMS (bucket / truncate / month) --------
    // The prod layouts identity pruning can't touch: the manifest
    // stores the TRANSFORM RESULT (bucket id, truncated value, months
    // from epoch), so a planner must re-apply the transform to the
    // predicate's literals to prune — which works precisely because
    // the transforms are deterministic public functions (murmur3
    // bucket per the spec's appendix, from scratch). Three fixtures
    // from `orders`, one per transform family: bucket(8, o_orderkey)
    // probed at the min+max keys, truncate(2, o_year) probed at
    // 1997-98, month(o_orderdate) probed at 1997-03..04. Each read
    // prunes at the manifest (IcebergSpec pins planned-file counts:
    // ≤2 of 8, 2 of 4, 2 of ~80) and keeps the exact residual row
    // filter; the oracle replays the three predicates.
    "q_iceberg_transform_prune" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergTransforms, IcebergWriter}
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderdate"),
        cents("o_totalprice").as("cents"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      // bucket(8) on the key column, probed at the min and max keys
      val b1 = root(d, "iceberg", "orders_tb")
      IcebergWriter.createTransformPartitioned(s, o.select("o_orderkey", "cents"),
        b1, "okey_bucket", IcebergTransforms.bucketCol(8, col("o_orderkey")),
        "bucket[8]", sourceId = 1)
      val mm = o.agg(min("o_orderkey"), max("o_orderkey")).head()
      val keys = Seq(mm.getLong(0), mm.getLong(1))
      val buckets = keys.map(k => IcebergTransforms.bucket(8)(k).toLong).distinct
      val p1 = census(IcebergReader.readWhere(s, b1, 1L,
          col("data_file.partition.okey_bucket").isin(buckets: _*))
        .filter(col("o_orderkey").isin(keys: _*)), "phase" -> 1L)
      // truncate(2) on the year column, probed at 1997-98
      val b2 = root(d, "iceberg", "orders_tt")
      IcebergWriter.createTransformPartitioned(s, o.select("o_year", "cents"),
        b2, "year_trunc", IcebergTransforms.truncateCol(2L, col("o_year")),
        "truncate[2]", sourceId = 1)
      val truncs = Seq(1997L, 1998L).map(IcebergTransforms.truncate(2L)).distinct
      val p2 = census(IcebergReader.readWhere(s, b2, 1L,
          col("data_file.partition.year_trunc").isin(truncs: _*))
        .filter(col("o_year").between(1997, 1998)), "phase" -> 2L)
      // month() on the date column, probed at 1997-03..1997-04 — the
      // fixture holds the 1996-98 slice (3 years ≈ 33 monthly files;
      // the probe predicate sits inside it, so the graded output and
      // oracle are unchanged while the fixture build writes a third of
      // the files a full-history month layout would)
      val b3 = root(d, "iceberg", "orders_tm")
      IcebergWriter.createTransformPartitioned(s,
        o.filter(col("o_year").between(1996, 1998)).select("o_orderdate", "cents"),
        b3, "odate_month", IcebergTransforms.monthCol(col("o_orderdate")),
        "month", sourceId = 1)
      val months = Seq(IcebergTransforms.monthOf("1997-03-01"),
        IcebergTransforms.monthOf("1997-04-01"))
      val p3 = census(IcebergReader.readWhere(s, b3, 1L,
          col("data_file.partition.odate_month").isin(months: _*))
        .filter(col("o_orderdate") >= "1997-03-01" && col("o_orderdate") < "1997-05-01"),
        "phase" -> 3L)
      Seq(p1, p2, p3).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Iceberg v2 DML: the position-delete WRITER ------------------------
    // The merge-on-read write shape v2 exists for (a CDC ingest cannot
    // afford CoW rewrites): DELETE commits ONE position-delete file
    // (content=1, the spec's (file_path, pos) schema) plus a v2
    // manifest carrying every previous live entry as EXISTING — no data
    // file is rewritten, data files keep their original sequence
    // numbers, the delete file commits at the new snapshot's sequence.
    // Fixture: create (snap 1), position-delete '1-URGENT' (snap 2),
    // a SECOND stacking delete of '2-HIGH' (snap 3 — already-masked
    // rows never re-match). Census all three snapshots; IcebergSpec
    // pins that the live data-file set is byte-identical across them.
    "q_iceberg_dml" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergWriter}
      val base = root(d, "iceberg", "orders_dml")
      IcebergWriter.create(s, iceOrders(s, d), base)
      IcebergWriter.deleteWhere(s, base, col("o_orderpriority") === "1-URGENT")
      IcebergWriter.deleteWhere(s, base, col("o_orderpriority") === "2-HIGH")
      Seq(1L, 2L, 3L).map(snap => census(IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg FORMAT-VERSION 3: deletion vectors in Puffin --------------
    // v3 FORBIDS new position-delete files: a DELETE commits one
    // roaring bitmap per touched data file, all blobs in ONE Puffin
    // sidecar, located by the manifest's content_offset/size (the scan
    // path never reads the puffin footer). A data file has AT MOST ONE
    // DV — the second DELETE REPLACES each touched file's DV with the
    // union (old entry dropped, spec's monotone-growth rule), and the
    // bitmaps are built EXECUTOR-side (driver sees KB blobs only).
    // Snap 4 is a plain append: the carried DVs must survive it (the
    // silent-resurrection class). Census all four snapshots via time
    // travel; the read applies DVs as one executor-decoded broadcast
    // anti-join on native row positions.
    "q_iceberg_v3_dv" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergWriter}
      val base = root(d, "iceberg", "orders_v3dv")
      val o = iceOrders(s, d)
      IcebergWriter.createV3(s, o.repartition(2), base)
      IcebergWriter.deleteWhereV3(s, base, col("o_orderpriority") === "1-URGENT")
      IcebergWriter.deleteWhereV3(s, base, col("o_orderpriority") === "2-HIGH")
      IcebergWriter.append(s,
        o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .withColumn("cents", col("cents") + 3), base)
      (1L to 4L).map(snap => census(IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg TABLE STATISTICS (Puffin NDV sketches) --------------------
    // The spec's `statistics` metadata list — what external CBOs
    // (Trino, Spark's own estimator) read for cardinalities without
    // touching data. ONE distributed pass computes a REAL
    // apache-datasketches-theta-v1 sketch + the exact NDV per column;
    // both land in a Puffin stats file registered for the snapshot,
    // and the list is CARRIED through later commits (the append here —
    // a commit that dropped it would silently sever table stats). The
    // graded read is METADATA-ONLY: the puffin FOOTER serves ndv, and
    // the sketch's own estimate must agree with the stored exact NDV
    // within 5% (a corrupted/mis-serialized sketch flips the boolean
    // and hash-fails). Oracle recomputes the exact NDVs from `orders`.
    "q_iceberg_ndv_stats" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergWriter, Puffin}
      val base = root(d, "iceberg", "orders_stats")
      val o = iceOrders(s, d)
      IcebergWriter.create(s, o.repartition(2), base)
      IcebergWriter.writeStats(s, base,
        Seq(("o_orderkey", 1), ("o_orderpriority", 2), ("cents", 3)))
      IcebergWriter.append(s,
        o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("cents", col("cents") + 1), base)
      val v = IcebergReader.currentMetadataVersion(base)
      val ndv = IcebergReader.statsNdv(base, 1L)
      val statsPath = IcebergReader.statisticsEntries(base, v)
        .collectFirst { case (1L, p) => s"$base/$p" }
        .getOrElse(throw new IllegalStateException("stats entry lost by append"))
      val (blobs, _) = Puffin.readFooter(statsPath)
      val names = Map(1 -> "o_orderkey", 2 -> "o_orderpriority", 3 -> "cents")
      val rows = blobs.map { b =>
        val fid = b.fields.head
        val est = math.round(org.apache.datasketches.theta.Sketches.wrapCompactSketch(
          org.apache.datasketches.memory.Memory.wrap(
            Puffin.readBlob(statsPath, b.offset, b.length))).getEstimate)
        val exact = ndv(fid)
        (names(fid), exact, math.abs(est - exact) <= 0.05 * exact)
      }
      s.createDataFrame(rows).toDF("col_name", "ndv", "sketch_ok")
        .orderBy("col_name")
    }),

    // ---- Iceberg v3 ROW LINEAGE ---------------------------------------------
    // The other v3 pillar: every row gets a stable `_row_id` at first
    // commit (file's manifest first_row_id + position) and a
    // `_last_updated_sequence_number`. Fixture: two single-file sorted
    // appends (ids 0..N-1 then N..2N-1 — deterministic because the
    // batches are sorted and written as one file each; at scale the
    // SAME mechanism assigns per-file contiguous ranges in manifest
    // order), a DV delete of every key ≡ 0 (mod 5), then COMPACTION —
    // which must PRESERVE ids by materializing the two columns into
    // the rewritten parquet (entries carry first_row_id = null). The
    // final lineage read proves survivors kept their birth ids and
    // sequences across delete + rewrite; the oracle reconstructs the
    // id assignment with row_number over the sorted batches.
    "q_iceberg_v3_lineage" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergWriter}
      val base = root(d, "iceberg", "nation_v3rl")
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
      IcebergWriter.createV3(s,
        n.repartition(1).sortWithinPartitions("n_nationkey"), base)
      IcebergWriter.append(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"), col("n_regionkey"))
          .repartition(1).sortWithinPartitions("n_nationkey"), base)
      IcebergWriter.deleteWhereV3(s, base, pmod(col("n_nationkey"), lit(5)) === 0)
      IcebergWriter.rewrite(s, base)
      IcebergReader.readLineage(s, base, 4L)
        .select(col("n_nationkey"), col("_row_id").as("row_id"),
          col("_last_updated_sequence_number").as("last_seq"))
        .orderBy("n_nationkey")
    }),

    // ---- Iceberg v2 DML: the EQUALITY-delete WRITER (streaming upsert) ----
    // The Flink-CDC commit shape: one snapshot carries an eq-delete
    // file (the source's distinct keys, content=2) AND the source rows
    // as a data append, both at the new snapshot's sequence — the
    // spec's strictly-smaller-sequence window performs the merge, so
    // the re-inserted rows survive their own delete with NO data file
    // rewritten and no key index. Fixture: create (snap 1), upsertEq
    // '2-HIGH' at cents+9 (snap 2), a STACKING upsertEq of the even
    // '2-HIGH' keys at cents+20 (snap 3 — its delete must erase snap
    // 2's re-inserts for those keys but keep the odd ones), then a
    // plain append of a synthetic slice (snap 4 — the carried delete
    // files must survive an append, the silent-resurrection class
    // ADVICE r10 flagged). Census reads every snapshot via time travel.
    // ---- Iceberg PARTITION-SPEC EVOLUTION ----------------------------------
    // Real tables change layout mid-life (identity → time transform as
    // they grow); the spec's `partition-specs` list + per-manifest
    // `partition_spec_id` make both eras scannable: era-1 manifests
    // keep the identity struct, era-2 manifests carry the month
    // ordinal, and the planner prunes EACH era under ITS spec (a
    // filter that can't bind an era keeps that era's files — the
    // residual row filter stays exact). Census: an identity-dimension
    // probe (prunes era 1 to one priority file), a time-dimension
    // probe (prunes era 2 to the overlapping months), and the full
    // read; each phase hash-gates its PLANNED FILE COUNT, which the
    // oracle reconstructs from the value distribution.
    "q_iceberg_spec_evolution" -> ((s, d) => {
      val base = root(d, "iceberg", "specevo")
      val W = graft.sources.IcebergWriter
      val R = graft.sources.IcebergReader
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate"), cents("o_totalprice").as("cents"))
      W.createPartitioned(s, o.filter(col("o_orderdate") < "1998-01-01"),
        base, "o_orderpriority")
      W.evolveSpec(s, base, "o_month", "month", 3)
      W.appendSpec(s, o.filter(col("o_orderdate") >= "1998-01-01"),
        base, "o_orderdate")
      val snap = R.currentSnapshotId(base, R.currentMetadataVersion(base))
      def probe(phase: Long, scan: R.SnapshotScan, residual: org.apache.spark.sql.Column) =
        census(s.read.parquet(scan.dataFiles.map(_._1): _*).filter(residual),
          "phase" -> phase, "n_files_planned" -> scan.dataFiles.size.toLong)
      val p1 = probe(1L, R.planSnapshotBySpec(s, base, snap, {
        case 0 => col("data_file.partition.o_orderpriority") === "2-HIGH"
        case _ => lit(true)
      }), col("o_orderpriority") === "2-HIGH")
      val mLo = graft.sources.IcebergTransforms.monthOf("1999-03-01")
      val mHi = graft.sources.IcebergTransforms.monthOf("1999-06-30")
      val p2 = probe(2L, R.planSnapshotBySpec(s, base, snap, {
        case 1 => col("data_file.partition.o_month").between(mLo, mHi)
        case _ => lit(true)
      }), col("o_orderdate").between("1999-03-01", "1999-06-30"))
      val p3 = probe(3L, R.planSnapshot(s, base, snap), lit(true))
      Seq(p1, p2, p3).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Iceberg SCHEMA EVOLUTION (field-id projection) --------------------
    // Columns are FIELD IDS; names are per-schema labels — so RENAME is
    // a metadata-only commit (zero data bytes move; a name-bound reader
    // would mis-read every old file), ADD COLUMN surfaces as typed NULL
    // in files that predate it, and DROP retires the id without a
    // rewrite. Fixture: create (schema-0 bootstrapped from footers,
    // snapshot 1), RENAME cents→pennies, append batch A under the new
    // name (snapshot 2), ADD COLUMN tier, append batch B carrying it
    // (snapshot 3), census every era — time travel reads old snapshots
    // through the CURRENT schema (Spark's own time-travel semantics) —
    // then DROP tier and census again (the column vanishes, nothing
    // rewritten). Phase plans are captured EAGERLY between ops, so each
    // phase grades the schema in force when it was built.
    "q_iceberg_schema_evolution" -> ((s, d) => {
      val base = root(d, "iceberg", "evolve")
      val W = graft.sources.IcebergWriter
      val R = graft.sources.IcebergReader
      val o = iceOrders(s, d)
      W.create(s, o.repartition(2), base)
      W.evolveRenameColumn(s, base, "cents", "pennies")
      W.append(s, o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          col("o_orderpriority"), (col("cents") + 5).as("pennies")).coalesce(1), base)
      W.evolveAddColumn(s, base, "tier", "string")
      W.append(s, o.filter(pmod(col("o_orderkey"), lit(10)) === 1)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
          col("o_orderpriority"), (col("cents") + 9).as("pennies"),
          lit("gold").as("tier")).coalesce(1), base)
      def era(phase: Long, snap: Long, tierCol: Option[String]) =
        R.read(s, base, snap).agg(
          count(lit(1)).as("n_rows"), sum(col("pennies")).as("total_pennies"),
          tierCol.map(t => count(col(t)).cast("long")).getOrElse(lit(-1L)).as("n_tier"))
          .select(lit(phase).as("phase"), col("n_rows"),
            col("total_pennies"), col("n_tier"))
      // eras through the post-add schema (tier visible, NULL before B)
      val p1 = era(1L, 1L, Some("tier"))
      val p2 = era(2L, 2L, Some("tier"))
      val p3 = era(3L, 3L, Some("tier"))
      // DROP COLUMN: metadata-only; the final census no longer sees it
      W.evolveDropColumn(s, base, "tier")
      val p4 = era(4L, 3L, None)
      Seq(p1, p2, p3, p4).reduce(_ unionAll _).orderBy("phase")
    }),

    "q_iceberg_eq_dml" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergWriter}
      val base = root(d, "iceberg", "orders_eqdml")
      val o = iceOrders(s, d)
      IcebergWriter.create(s, o.repartition(2), base)
      IcebergWriter.upsertEq(s,
        o.filter(col("o_orderpriority") === "2-HIGH")
          .withColumn("cents", col("cents") + 9),
        base, Seq("o_orderkey"))
      IcebergWriter.upsertEq(s,
        o.filter(col("o_orderpriority") === "2-HIGH" &&
            pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("cents", col("cents") + 20),
        base, Seq("o_orderkey"))
      IcebergWriter.append(s,
        o.filter(col("o_orderpriority") === "5-LOW" &&
            pmod(col("o_orderkey"), lit(7)) === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("9-SYNTH").as("o_orderpriority"), lit(1234L).as("cents")),
        base)
      (1L to 4L).map(snap => census(IcebergReader.read(s, base, snap), "snapshot_id" -> snap))
        .reduce(_ unionAll _).orderBy("snapshot_id")
    }),

    // ---- Iceberg TIMESTAMP transforms (day / hour / year) -----------------
    // `days(event_ts)` is the dominant production Iceberg layout; the
    // manifest stores the transform RESULT (an epoch-granule ordinal),
    // so the planner re-applies the spec transform to the predicate's
    // TIMESTAMP literals and prunes manifest entries before any footer
    // opens. Three fixtures: day over a month of events (30 daily
    // files, probe 3 days), hour over one day (24 hourly files, probe
    // 3 hours), year over 7 years of order timestamps (probe 2). The
    // source ts column stays in the data files, so residual row
    // filters are exact. IcebergSpec pins the planned-file counts.
    "q_iceberg_ts_transform" -> ((s, d) => {
      import graft.sources.{IcebergReader, IcebergTransforms => T, IcebergWriter}
      val ev = graft.Tables.events(s, d).select(col("ts"), col("event_id"))
      // day(ts): one file per day of January 2024, probed at Jan 10-12
      val b1 = root(d, "iceberg", "events_td")
      IcebergWriter.createTransformPartitioned(s, ev, b1, "ts_day",
        T.dayColTs(col("ts")), "day", sourceId = 1)
      val days = (10 to 12).map(i => T.dayOf(f"2024-01-$i%02d 00:00:00"))
      val p1 = IcebergReader.readWhere(s, b1, 1L,
          col("data_file.partition.ts_day").isin(days: _*))
        .filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-13")
      // hour(ts) over Jan 5: 24 hourly files, probed at 09:00-11:59
      val b2 = root(d, "iceberg", "events_th")
      IcebergWriter.createTransformPartitioned(s,
        ev.filter(col("ts") >= "2024-01-05" && col("ts") < "2024-01-06"),
        b2, "ts_hour", T.hourColTs(col("ts")), "hour", sourceId = 1)
      val hours = (9 to 11).map(h => T.hourOf(f"2024-01-05 $h%02d:00:00"))
      val p2 = IcebergReader.readWhere(s, b2, 1L,
          col("data_file.partition.ts_hour").isin(hours: _*))
        .filter(col("ts") >= "2024-01-05 09:00:00" && col("ts") < "2024-01-05 12:00:00")
      // year(o_ts): orders dates as midnight timestamps, probed 1995-96
      val b3 = root(d, "iceberg", "orders_ty")
      val o = Tables.orders(s, d).select(
        col("o_orderdate").cast("timestamp").as("o_ts"),
        cents("o_totalprice").as("cents"))
      IcebergWriter.createTransformPartitioned(s, o, b3, "ts_year",
        T.yearColTs(col("o_ts")), "year", sourceId = 1)
      val years = Seq("1995-01-01", "1996-01-01").map(T.yearOfTs)
      val p3 = IcebergReader.readWhere(s, b3, 1L,
          col("data_file.partition.ts_year").isin(years: _*))
        .filter(col("o_ts") >= "1995-01-01" && col("o_ts") < "1997-01-01")
        .select(col("cents").as("event_id"))
      Seq(p1, p2, p3).zipWithIndex.map { case (df, i) =>
        df.agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_ids"))
          .select(lit(i + 1L).as("phase"), col("n_rows"), col("sum_ids"))
      }.reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Hudi MERGE_ON_READ (snapshot + read-optimized + compaction) ----
    // The streaming-ingest Hudi shape the CoW reader rejected: writes
    // land as avro LOG files against a base file (one `.deltacommit`
    // instant each), so ingest never rewrites data — the read pays the
    // merge instead. Fixture: createMor over orders (3 key buckets,
    // commit 001), deltacommit 002 logs an upsert (cents+7 on
    // '2-HIGH') AND tombstones ('1-URGENT' keys, _hoodie_is_deleted),
    // then compactMor folds the dirty slices into fresh bases (commit
    // 003). Census three phases: (1) read-optimized BEFORE compaction
    // — logs invisible, original content (the bounded-staleness view);
    // (2) snapshot — per-key last-writer-wins merge of base ⊎ logs,
    // one shuffle keyed by _hoodie_record_key; (3) read-optimized
    // AFTER compaction — base-only now equals the snapshot, proving
    // the fold was lossless. Oracle replays upsert+delete from orders.
    "q_hudi_mor" -> ((s, d) => {
      val base = root(d, "hudi", "orders_mor")
      val o = iceOrders(s, d)
      graft.sources.HudiWriter.createMor(s, o, base, "orders_mor", "o_orderkey", 3)
      val ups = o.filter(col("o_orderpriority") === "2-HIGH")
        .withColumn("cents", col("cents") + 7)
      val dels = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      graft.sources.HudiWriter.logCommit(s, base, ups, Some(dels))
      val ro = census(graft.sources.HudiReader.readOptimized(s, base, "002"), "phase" -> 1L)
      val snap = census(graft.sources.HudiReader.readMor(s, base), "phase" -> 2L)
      graft.sources.HudiWriter.compactMor(s, base)
      val post = census(graft.sources.HudiReader.readOptimized(s, base, "003"), "phase" -> 3L)
      Seq(ro, snap, post).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- Hudi CLUSTERING (the replacecommit) ------------------------------
    // The read-layout rewrite real estates run nightly: live bucket
    // groups are rewritten into key-range-sorted NEW file groups and the
    // instant completes as `.replacecommit` listing the groups it
    // retires — a reader that does not honor it double-reads or
    // mis-slices (which is why unknown instant types are fast-rejected).
    // Fixture: create (001, 3 bucket groups), upsert +5 on '1-URGENT'
    // (002), cluster into 2 sorted groups (003). Census: (1) pre-cluster
    // snapshot, (2) post-cluster snapshot — byte-identical content,
    // clustering moves bytes not data, (3) time travel to 002 — the old
    // groups still serve history, (4) incremental (001..003] — carried
    // rows keep their ORIGINAL commit times, so only the 002 upserts
    // surface even though every live file was written at 003.
    "q_hudi_cluster" -> ((s, d) => {
      val base = root(d, "hudi", "orders_cluster")
      val o = iceOrders(s, d)
      graft.sources.HudiWriter.create(s, o, base, "orders_cluster", "o_orderkey", 3)
      val ups = o.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("cents", col("cents") + 5)
      graft.sources.HudiWriter.upsert(s, ups, base)
      val pre = census(graft.sources.HudiReader.read(s, base), "phase" -> 1L)
      graft.sources.HudiWriter.cluster(s, base, 2)
      val post = census(graft.sources.HudiReader.read(s, base), "phase" -> 2L)
      val tt = census(graft.sources.HudiReader.readAsOf(s, base, "002"), "phase" -> 3L)
      val incr = census(
        graft.sources.HudiReader.readIncremental(s, base, "001", "003"), "phase" -> 4L)
      // ingest AFTER clustering (nightly clustering + continuous ingest,
      // the normal lifecycle): keys route through the rebuilt key-range
      // index; then clean — retired bucket groups are dead wholesale,
      // content untouched. clean DELETES the files the earlier phases'
      // lazy plans reference, so those censuses materialize EAGERLY
      // first (1-row aggregates — KB-scale checkpoints).
      graft.sources.HudiWriter.upsert(s,
        o.filter(col("o_orderpriority") === "3-MEDIUM")
          .withColumn("cents", col("cents") + 9), base)
      val postUp = census(graft.sources.HudiReader.read(s, base), "phase" -> 5L)
      val early = Seq(pre, post, tt, incr, postUp)
        .map(_.localCheckpoint(true))
      graft.sources.HudiWriter.clean(s, base)
      val postClean = census(graft.sources.HudiReader.read(s, base), "phase" -> 6L)
      (early :+ postClean).reduce(_ unionAll _).orderBy("phase")
    }),

    "q_hudi_incr" -> ((s, d) => {
      val base = LakehouseQueries.mkHudiIncrFixture(s, d, "orders_hudi_i")
      Seq(("000", "001"), ("001", "002")).zipWithIndex.map { case ((lo, hi), i) =>
        census(graft.sources.HudiReader.readIncremental(s, base, lo, hi), "batch" -> (i + 1L))
      }.reduce(_ unionAll _).orderBy("batch")
    }),

    // ---- hive-partitioned Hudi: the layout real tables almost always have
    // Partition-path dimension on top of the bucket index: one file
    // group per (partition value, key bucket), dirs `partCol=value/`
    // (hive_style_partitioning; '4-NOT SPECIFIED' exercises the %20
    // escaping). The upsert updates one partition in place AND BIRTHS a
    // new partition ('9-SYNTH'); the graded census hash-gates the
    // PLANNED FILE COUNT of every partition-pruned read (phase 1, one
    // pruned read per partition — a count only a reader that prunes at
    // the dir level and routes buckets correctly can produce), the full
    // snapshot (phase 2), and the incremental read of the upsert commit
    // (phase 3, file count = touched cells only — untouched groups are
    // pruned from CDC polls entirely). At 100 TB partition pruning is
    // the planning-time half of scan cost; the oracle reconstructs each
    // file count from the key/partition distribution.
    "q_hudi_partitioned" -> ((s, d) => {
      import graft.sources.{HudiReader, HudiWriter}
      val base = root(d, "hudi", "orders_part")
      val o = iceOrders(s, d)
      HudiWriter.createPartitioned(s, o, base, "orders_part",
        "o_orderkey", 2, "o_orderpriority")
      val ups = o.filter(col("o_orderpriority") === "2-HIGH" &&
          pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("cents", col("cents") + 5)
        .unionAll(o.filter(col("o_orderpriority") === "5-LOW" &&
            pmod(col("o_orderkey"), lit(7)) === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("9-SYNTH").as("o_orderpriority"), lit(777L).as("cents")))
      HudiWriter.upsert(s, ups, base)
      val last = HudiReader.completedCommits(base).last
      val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW", "9-SYNTH")
      val perPart = pris.map { p =>
        census(HudiReader.readWhere(s, base, "o_orderpriority", p), "phase" -> 1L, "pri" -> p,
          "n_files" -> HudiReader.sliceFilesWhere(base, last, "o_orderpriority", p).size.toLong)
      }
      val full = census(HudiReader.read(s, base), "phase" -> 2L, "pri" -> "*",
        "n_files" -> HudiReader.sliceFiles(base, last).size.toLong)
      val incr = census(HudiReader.readIncremental(s, base, "001", "002"), "phase" -> 3L,
        "pri" -> "*", "n_files" -> HudiReader.incrementalFiles(base, "001", "002").size.toLong)
      (perPart :+ full :+ incr).reduce(_ unionAll _).orderBy("phase", "pri")
    }),

    // ---- hive-partitioned MERGE-ON-READ: the streaming-ingest shape -------
    // Real streaming-ingest Hudi tables are MOR (log-append write
    // economics) AND partitioned (pruned dimension reads) — the r12
    // gap where createMor had no partition dimension. File groups are
    // (partition value, key bucket) cells; the bucket index is
    // PARTITION-LOCAL (non-global), so logs route, tombstones
    // identify, and the snapshot merge keys by (partition, record
    // key). Census: snapshot after two delta commits (upserts +
    // cross-partition tombstones), the read-optimized view (bases
    // only — log changes invisible, the bounded-staleness contract), a
    // PARTITION-PRUNED snapshot merge (only '2-HIGH' slices and their
    // logs enter the scan), then compaction folds exactly the dirty
    // cells into fresh bases — after which the read-optimized view
    // converges to the snapshot. The oracle replays the log algebra
    // from `orders`.
    "q_hudi_part_mor" -> ((s, d) => {
      import graft.sources.{HudiReader, HudiWriter}
      val base = root(d, "hudi", "orders_pmor")
      val o = iceOrders(s, d)
      HudiWriter.createMorPartitioned(s, o, base, "orders_pmor",
        "o_orderkey", 4, "o_orderpriority")
      HudiWriter.logCommit(s, base,
        o.filter(pmod(col("o_orderkey"), lit(10)) === 2)
          .withColumn("cents", col("cents") + 5),
        deleteKeys = Some(o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .select(col("o_orderkey"), col("o_orderpriority"))))
      HudiWriter.logCommit(s, base,
        o.filter(col("o_orderpriority") === "2-HIGH" &&
            pmod(col("o_orderkey"), lit(10)) === 8)
          .withColumn("cents", col("cents") + 11))
      val snap = census(HudiReader.readMor(s, base), "phase" -> 0L)
      val ro = census(HudiReader.readOptimized(s, base,
        HudiReader.completedCommits(base).last), "phase" -> 1L)
      val pruned = census(
        HudiReader.readMorWhere(s, base, "o_orderpriority", "2-HIGH"), "phase" -> 2L)
      // censuses above reference files compaction supersedes — they
      // stay correct (old slices remain on disk), but materialize the
      // pre-compaction state eagerly for determinism of the fixture.
      // ONE action materializes all three (their subtrees run as one
      // job's parallel stages) — three serial eager checkpoints paid
      // three driver-blocking materializations (§1.2)
      val early = snap.unionAll(ro).unionAll(pruned).localCheckpoint(true)
      HudiWriter.compactMor(s, base)
      val post = census(HudiReader.readMor(s, base), "phase" -> 3L)
      val postRo = census(HudiReader.readOptimized(s, base,
        HudiReader.completedCommits(base).last), "phase" -> 4L)
      // pure-SQL DELETE through the catalog: tombstones by (key,
      // partition) in one delta commit, no base file rewritten
      val cat = catalog(s, "hpmorcat", d, Paths.get(base).getParent.toString)
      s.sql(s"DELETE FROM $cat.orders_pmor WHERE o_orderpriority = '5-LOW'")
      val sqlDel = census(HudiReader.readMor(s, base), "phase" -> 5L)
      Seq(early, post, postRo, sqlDel).reduce(_ unionAll _).orderBy("phase")
    }),

    // ---- manifest-level file skipping ------------------------------------
    // One commit per order-year with min/max year stats riding the
    // manifest; a 1997-98 read plans ONLY the two overlapping file
    // groups — file skipping decided from ~bytes of metadata BEFORE any
    // parquet footer is opened (the across-files analogue of row-group
    // pruning; at 100 TB this is the difference between opening 2 files
    // and 7 years of them). TxnLogSpec pins inputFiles.length == 2; the
    // oracle proves pruning lossless (superset guarantee + row filter).
    "q_txn_prune" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_py"))
      val o = txnOrders(s, d)
        .localCheckpoint(eager = false) // 7 appends share one materialization
      (1995 to 2001).foreach { y =>
        log.append(o.filter(col("o_year") === y).coalesce(1))
      }
      log.readPruned(log.latestVersion(), 1997L, 1998L)
        .filter(col("o_year").between(1997, 1998))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // ---- CDC from the commit log: metadata-only change accounting --------
    // The incremental-consumer contract: each commit's change set (added
    // file groups, removed file groups, with row counts) is fully
    // determined by the manifests — a downstream job learns WHAT changed
    // without scanning ANY data file, then reads only the added groups.
    // At 100 TB this is the difference between reprocessing the table and
    // reprocessing the day's delta. Same 4-commit history as
    // q_txn_timetravel; per commit step: rows entering, rows leaving
    // (COW-delete shows the rewrite — all touched rows leave, survivors
    // re-enter), and the net. The oracle recomputes every step's row
    // algebra from `orders` declaratively.
    "q_txn_cdc" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_cdc"))
      val o = txnOrders(s, d)
      log.append(o.filter(col("o_year") <= 1996).repartition(4))
      log.append(o.filter(col("o_year").between(1997, 1998)).repartition(4))
      log.deleteWhere(col("o_orderstatus") === "F")
      log.append(o.filter(col("o_year") >= 1999).repartition(4))
      val steps = (1 to 3).map { v =>
        val (adds, removes) = log.changes(v)
        (v.toLong, adds.map(_.rows).sum, removes.map(_.rows).sum)
      }
      import s.implicits._
      steps.toDF("step", "rows_added", "rows_removed")
        .withColumn("net_rows", col("rows_added") - col("rows_removed"))
        .orderBy("step")
    }),

    // ---- compaction (OPTIMIZE) commit ------------------------------------
    // The maintenance half of the lifecycle: yearly commits except 1997,
    // which lands as 12 monthly commits — the small-file accretion
    // pattern of fine-grained appends. One compaction commit then folds
    // every group under 5% of the table (exactly the twelve ~1.3%
    // months, at every sf — the year groups, 8-16%, survive with their
    // tighter stats ranges). The post-compaction census must equal the
    // plain table (oracle): equality proves the rewrite lossless;
    // TxnLogSpec pins the group counts (18 -> 7) and that pre-compaction
    // time travel still sees the fine-grained layout.
    "q_txn_compact" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_oc"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        cents("o_totalprice").as("cents"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).as("o_month"))
        // 18 fine-grained appends would each re-scan the parquet source;
        // cache the projected rows once (lazy: materialized by the first
        // append) — the shape of a writer that stages its batch in memory
        .localCheckpoint(eager = false)
      // the 18 appends are INDEPENDENT writers — run them concurrently,
      // exactly what the optimistic hard-link commit exists for (the
      // graded path now exercises real publish races every run); the
      // final live set is order-independent, only version numbers differ
      val batches: Seq[DataFrame] =
        (1 to 12).map(m => o.filter(col("o_year") === 1997 && col("o_month") === m)
          .drop("o_month").coalesce(1)) ++
        Seq(1995, 1996, 1998, 1999, 2000, 2001)
          .map(y => o.filter(col("o_year") === y).drop("o_month").coalesce(1))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val commits = batches.map(b => scala.concurrent.Future(log.append(b)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(commits),
          scala.concurrent.duration.Duration(600, "s"))
      } finally pool.shutdown()
      val nTotal = log.snapshotFiles(log.latestVersion()).map(_.rows).sum
      log.compact(maxRows = nTotal / 20)
      log.read()
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_year")
    }),

    // ---- log-native MERGE (upsert) commit --------------------------------
    // MERGE against the commit log itself (q_merge_upsert is the
    // format-free materialization of the same semantics): the table
    // holds orders <= 1998, then one delta arrives carrying UPDATES
    // (1997-98 rows repriced +10%) and INSERTS (everything from 1999
    // on), and one upsert commit applies both faces atomically —
    // matched keys overwritten, unmatched appended, untouched rows
    // carried by the COW rewrite. The delta's keys travel as two
    // broadcasts (semi probe, anti survivors): two jobs + one write no
    // matter the table size. The census proves both faces: 1997-98
    // cents exactly +10%, 1999+ present, earlier years untouched.
    "q_txn_upsert" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_up"))
      val o = txnOrders(s, d)
      log.append(o.filter(col("o_year") <= 1998).repartition(4))
      val delta = o.filter(col("o_year").between(1997, 1998))
        .withColumn("cents", col("cents") + expr("cents div 10"))
        .unionByName(o.filter(col("o_year") >= 1999))
      log.upsert(delta, "o_orderkey")
      log.read()
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_year")
    }),

    // ---- incremental materialized-aggregate maintenance ------------------
    // The incremental-pipeline contract the CDC face exists FOR: a
    // per-year (rows, cents) materialization is built ONCE at v0, then
    // maintained through three later commits (append, COW delete,
    // append) by reading ONLY each commit's changed file groups —
    // adds contribute +1-signed partials, removes −1-signed ones (their
    // files are immutable and still on disk, so the retraction aggregate
    // needs no pre-image bookkeeping). At 100 TB the refresh cost is
    // O(changed files), not O(table); the oracle recomputes the final
    // state declaratively from `orders`, so hash equality proves the
    // delta algebra (including the delete's remove+rewrite pair)
    // converges to exactly the full recompute.
    "q_txn_incr_agg" -> ((s, d) => {
      val base = root(d, "txn", "orders_incr")
      val log = txnLog(s, base)
      val o = txnOrders(s, d)
      log.append(o.filter(col("o_year") <= 1997).repartition(4))             // v0
      log.append(o.filter(col("o_year").between(1998, 1999)).repartition(4)) // v1
      log.deleteWhere(col("o_orderstatus") === "F")                          // v2
      log.append(o.filter(col("o_year") >= 2000).repartition(4))             // v3
      def partial(fs: Seq[graft.sources.TxnLog.AddFile], sign: Int): Option[DataFrame] =
        if (fs.isEmpty) None
        else Some(s.read.parquet(fs.map(f => s"$base/${f.path}"): _*)
          .groupBy("o_year")
          .agg((count(lit(1)) * sign).as("dn"), (sum(col("cents")) * sign).as("dc")))
      val view0 = log.read(0).groupBy("o_year")
        .agg(count(lit(1)).as("dn"), sum(col("cents")).as("dc"))
      val deltas = (1 to log.latestVersion()).flatMap { v =>
        val (adds, removes) = log.changes(v)
        partial(adds, 1).toSeq ++ partial(removes, -1).toSeq
      }
      (view0 +: deltas).reduce(_ unionAll _)
        .groupBy("o_year")
        .agg(sum(col("dn")).as("n_rows"), sum(col("dc")).as("total_cents"))
        .filter(col("n_rows") > 0)
        .orderBy("o_year")
    }),

    // ---- CHECK-constraint-gated writes with atomic quarantine ------------
    // The data-quality gate at the TABLE boundary: a corrupted extract
    // (every 97th order key gets a negated amount — the planted-violation
    // recipe q_source_csv_corrupt uses at the CSV parse layer) is
    // appended in three commits through a `cents > 0` CHECK. Violating
    // rows never enter a snapshot; each commit diverts them to a
    // quarantine group referenced by a `qrn` action in the SAME atomic
    // manifest, so accept/divert is one publish and the audit trail is
    // replayable per commit. The report reconciles all three
    // populations — live census, quarantine census, and their sum
    // against the source — and the oracle recomputes each from `orders`
    // with the same %97 rule: hash equality proves the gate diverted
    // exactly the violations, atomically, with nothing lost.
    "q_txn_constraint" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_chk"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, -cents("o_totalprice"))
          .otherwise(cents("o_totalprice")).as("cents"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      val check = col("cents") > 0L
      log.appendChecked(o.filter(col("o_year") <= 1997), check)
      log.appendChecked(o.filter(col("o_year").between(1998, 1999)), check)
      log.appendChecked(o.filter(col("o_year") >= 2000), check)
      val v = log.latestVersion()
      val live = log.read(v)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit("live").as("population"), col("n"), col("sum_cents"))
      val quar = log.readQuarantine(v).get
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit("quarantine").as("population"), col("n"), col("sum_cents"))
      live.unionAll(quar).orderBy("population")
    }),

    // ---- metadata-only branching (git model on the commit log) ----------
    // The what-if primitive a 100 TB lake needs: fork an 'experiment'
    // branch at v1, then DIVERGE — main appends 2000+ orders while the
    // branch copy-on-write-deletes status 'F' — and read THREE heads
    // from one store: the shared ancestor v1 (immutable under both
    // tips), the advanced main, and the branch. Branching costs zero
    // data movement (shared immutable groups + a fork-point meta
    // published by the same fails-if-exists hard link as a commit), and
    // the oracle recomputes each head declaratively: equality proves
    // the two tips are fully isolated and the ancestor unchanged.
    "q_txn_branch" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_br"))
      val o = txnOrders(s, d)
      log.append(o.filter(col("o_year") <= 1997).repartition(4))             // v0
      log.append(o.filter(col("o_year").between(1998, 1999)).repartition(4)) // v1
      val exp = log.branch("experiment", fromVersion = 1)
      log.append(o.filter(col("o_year") >= 2000).repartition(4))             // main v2
      exp.deleteWhere(col("o_orderstatus") === "F")                          // branch v2
      Seq("ancestor_v1" -> log.read(1), "main" -> log.read(), "experiment" -> exp.read())
        .map { case (head, df) =>
          df.agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
            .select(lit(head).as("head"), col("n"), col("total_cents"))
        }.reduce(_ unionAll _).orderBy("head")
    }),

    // ---- additive schema evolution on the commit log ---------------------
    // The years-old-lake contract at the TABLE level (q_source_merge_schema
    // is the raw-source face): generation 1 commits without a priority
    // column, generation 2 commits WITH it, and `readEvolved` surfaces
    // the union schema — pre-schema rows as NULL priority — with ZERO
    // rewrite of the old groups. The census proves old and new
    // generations keep their exact row/cents masses through the merge.
    "q_txn_evolve" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_ev"))
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), cents("o_totalprice").as("cents"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderpriority"))
      log.append(o.filter(col("o_year") <= 1998)
        .drop("o_orderpriority").repartition(4))                 // gen-1 schema
      log.append(o.filter(col("o_year") >= 1999).repartition(4)) // gen-2 schema
      log.readEvolved(log.latestVersion())
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("prio"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("prio")
    }),

    // ---- RESTORE: metadata-only rollback of a bad commit -----------------
    // The ops primitive the immutable log exists for: v0 good append, v1
    // good append, v2 a BAD copy-on-write delete (fat-fingered predicate
    // wiping status 'O'), then restore(1) — one manifest commit (v3) that
    // re-adds v1's removed groups and drops v2's rewrite, touching zero
    // data bytes at any table size. History stays append-only: all four
    // versions remain readable (the census proves v2's damage is both
    // REAL — mass drops — and fully undone at v3 == v1), and the bad
    // interval stays auditable instead of being scrubbed. Oracle
    // recomputes each version's expected mass declaratively from orders.
    "q_txn_restore" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_rs"))
      val o = txnOrders(s, d)
      log.append(o.filter(col("o_year") <= 1997).repartition(4))   // v0
      log.append(o.filter(col("o_year") >= 1998).repartition(4))   // v1
      log.deleteWhere(col("o_orderstatus") === "O")                // v2 (bad)
      val v3 = log.restore(1)                                      // undo
      require(v3 == 3, s"restore committed unexpected version $v3")
      (0 to 3).map(v => census(log.read(v), "version" -> v.toLong))
        .reduce(_ unionAll _).orderBy("version")
    }),

    // ---- bloom-index point lookup: file skipping beyond min/max ----------
    // (ORACLE) Min/max stats (q_txn_prune) only skip on the layout
    // order; a point lookup on a high-cardinality key UNCORRELATED with
    // that order (o_orderkey inside year-partitioned commits) gets
    // useless ranges and must open every file — unless each group
    // carries a bloom sidecar, referenced from the manifest (`blm`
    // action, the Delta bloom-index / Iceberg puffin pattern). The
    // lookup key is data-derived (min orderkey of 1998), so exactly one
    // year-group's bloom answers "maybe" and ~(1−fpp) of the other six
    // are skipped at PLANNING time from KB of sidecar — at 100 TB this
    // is a single-file read instead of a table scan. The bloom is only
    // a candidate generator: the exact filter confirms, so fpp can
    // never corrupt the answer (TxnLogSpec pins the planned-file count
    // and the degrade-to-scan path for unindexed groups).
    "q_txn_bloom_skip" -> ((s, d) => {
      val log = txnLog(s, root(d, "txn", "orders_bf"), bloomCol = Some("o_orderkey"))
      val o = txnOrders(s, d)
        .localCheckpoint(eager = false)
      (1995 to 2001).foreach { y =>
        log.append(o.filter(col("o_year") === y).coalesce(1))
      }
      val key = o.filter(col("o_year") === 1998)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      log.readPointLookup(log.latestVersion(), key)
        .filter(col("o_orderkey") === key)
        .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
          col("o_year"))
        .orderBy("o_orderkey")
    }),
  )

  /** Write ONE parquet file per distinct value of `groupCol` in a
    * SINGLE Spark job: the rows funnel through one task (fixture-scale
    * data) and `partitionBy` on a COPY column splits them into
    * per-group files, moved to `relFor(value)` under `base`. Returns
    * value → (rel, rowCount); the counts come from one metadata-cheap
    * read-back. Replaces the one-job-per-group staging loops that
    * dominated the lakehouse fixtures' bench cost (a 7-group fixture
    * was 14 sequential jobs; this is 2). */
  private def writeGroups(s: SparkSession, base: String,
                          df: org.apache.spark.sql.DataFrame,
                          groupCol: org.apache.spark.sql.Column,
                          relFor: String => String): Map[String, (String, Long)] = {
    val moved = Stage(base)(df.withColumn("__g", groupCol.cast("string"))
      .repartition(1).write.partitionBy("__g").parquet(_)) { leaves =>
      Stage.cells(leaves).map { l =>
        val v = l.value("__g")
        v -> Stage.move(l, base, relFor(v))
      }.toMap
    }
    val counts = s.read.parquet(moved.values.map(r => s"$base/$r").toSeq: _*)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    moved.map { case (v, rel) =>
      v -> (rel, counts.getOrElse(rel.split('/').last, 0L))
    }
  }

  /** The hand-composed Delta log of the spec fixtures under `base`. */
  private final class DeltaHandLog(base: String) {
    /** Write commit `v`: one JSON action per line. */
    def commit(v: Long, lines: Seq[String]): Unit =
      Files.write(Paths.get(base, "_delta_log", f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))

    /** The `add` action of a staged group file `(rel path, rows)`, with
      * the spec's `numRecords` stats unless `stats` is off. */
    def add(g: (String, Long), stats: Boolean = true): String = {
      val sz = Files.size(Paths.get(base, g._1))
      val st = if (stats) s""","stats":"{\\"numRecords\\":${g._2}}"""" else ""
      s"""{"add":{"path":"${g._1}","partitionValues":{},"size":$sz,"modificationTime":0,"dataChange":true$st}}"""
    }
  }

  /** [[writeGroups]] by `o_orderkey % n`: one file per residue at
    * `rel(residue)` under `base`, returned in residue order. */
  private def keyGroups(s: SparkSession, base: String, df: DataFrame, n: Int)(
      rel: String => String): Seq[(String, Long)] = {
    val g = writeGroups(s, base, df, pmod(col("o_orderkey"), lit(n)), rel)
    (0 until n).map(i => g(i.toString))
  }

  /** Build the shared 3-commit public-spec Delta fixture from `orders`:
    * one parquet file per o_orderkey%3 residue, v0 adds g0+g1 (with
    * protocol+metaData), v1 appends g2, v2 removes g0. Add actions
    * carry delta-style `stats` with exact numRecords, so both the
    * snapshot reader and the action stream are oracle-reconstructable
    * from `orders`. Idempotent per (corpus, suffix) — rebuilt from
    * scratch each call, TxnLog-fixture discipline. */
  private[queries] def mkDeltaFixture(s: SparkSession, d: String, suffix: String): String = {
    val base = fresh(root(d, "delta", suffix), "_delta_log")
    // one parquet FILE per group, spec-style relative add paths —
    // all three groups in a single staged job
    val Seq(g0, g1, g2) = keyGroups(s, base, iceOrders(s, d), 3)(v => s"part-g$v.parquet")
    val log = new DeltaHandLog(base)
    import log.{add, commit}
    commit(0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"graft-orders-dl","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      add(g0), add(g1)))
    commit(1, Seq("""{"commitInfo":{"operation":"WRITE"}}""", add(g2)))
    commit(2, Seq("""{"commitInfo":{"operation":"DELETE"}}""",
      s"""{"remove":{"path":"${g0._1}","deletionTimestamp":0,"dataChange":true}}"""))
    base
  }

  /** Build the timestamp-travel fixture: three timestamped commits
    * (in-commit `commitInfo.timestamp` provenance at 1000/2000/3000 ms)
    * adding the o_orderkey%3 residue groups one per commit. */
  private[queries] def mkDeltaTsFixture(s: SparkSession, d: String, suffix: String): String = {
    val base = fresh(root(d, "delta", suffix), "_delta_log")
    val Seq(g0, g1, g2) = keyGroups(s, base, iceOrders(s, d), 3)(v => s"part-g$v.parquet")
    val log = new DeltaHandLog(base)
    import log.commit
    def add(p: (String, Long)) = log.add(p, stats = false)
    commit(0, Seq(
      """{"commitInfo":{"operation":"WRITE","timestamp":1000}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"graft-orders-ts","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      add(g0)))
    commit(1, Seq("""{"commitInfo":{"operation":"WRITE","timestamp":2000}}""", add(g1)))
    commit(2, Seq("""{"commitInfo":{"operation":"WRITE","timestamp":3000}}""", add(g2)))
    base
  }

  /** Build the public-spec Delta CDF fixture from `orders`: v0 inserts
    * two files (o_orderkey%2), v1 updates f0's '2-HIGH' rows (cents+5)
    * carrying explicit `_change_data/` cdc files (preimage+postimage,
    * dataChange=false per spec) ALONGSIDE its remove+add rewrite, and
    * v2 deletes f1 with no cdc files — the remove-pre-image derivation
    * path. */
  private[queries] def mkDeltaCdfFixture(s: SparkSession, d: String, suffix: String): String = {
    val base = fresh(root(d, "delta", suffix), "_delta_log", "_change_data")
    val o = iceOrders(s, d)
    def writeOne(df: DataFrame, rel: String): (String, Long) = {
      Stage.file(df, base, rel)
      (rel, df.count())
    }
    val log = new DeltaHandLog(base)
    import log.{add, commit}
    val Seq(f0, f1) = keyGroups(s, base, o, 2)(v => s"f$v.parquet")
    commit(0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"graft-orders-cdf","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      add(f0), add(f1)))
    // v1: update '2-HIGH' in f0 — rewrite + explicit cdc change files
    val g0 = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
    val hit = g0.filter(col("o_orderpriority") === "2-HIGH")
    val f0v2 = writeOne(
      g0.withColumn("cents", when(col("o_orderpriority") === "2-HIGH",
        col("cents") + 5).otherwise(col("cents"))), "f0v2.parquet")
    val cdc = writeOne(
      hit.withColumn("_change_type", lit("update_preimage")) unionAll
        hit.withColumn("cents", col("cents") + 5)
          .withColumn("_change_type", lit("update_postimage")),
      "_change_data/cdc-1.parquet")
    commit(1, Seq(
      """{"commitInfo":{"operation":"UPDATE","timestamp":0}}""",
      s"""{"cdc":{"path":"${cdc._1}","partitionValues":{},"size":${Files.size(Paths.get(base, cdc._1))},"dataChange":false}}""",
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}""",
      add(f0v2)))
    // v2: delete f1 wholesale, no cdc files — pre-image derivation
    commit(2, Seq(
      """{"commitInfo":{"operation":"DELETE","timestamp":0}}""",
      """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}"""))
    base
  }

  /** One Iceberg manifest entry: `status` 0 EXISTING / 1 ADDED /
    * 2 DELETED; `content` 0 data / 1 position deletes; `part` the
    * identity-partition value when the table is partitioned. */
  private[queries] final case class IceEntry(
      status: Int, path: String, records: Long,
      content: Int = 0, part: Option[String] = None,
      bounds: Option[(Int, Long, Long)] = None, seq: Long = 0L)

  /** Plumbing for the public-spec Iceberg fixtures (Hadoop-catalog
    * layout): single-file stage-and-rename writes so every tree node
    * has a deterministic name, avro manifests / manifest lists via the
    * ordinary Spark avro source, and the metadata JSON + version hint. */
  private[queries] final class IceTable(s: SparkSession, val base: String) {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
    fresh(base, "metadata", "data")

    /** Write `df` as exactly ONE file at `rel` under the table base. */
    def writeOne(df: DataFrame, rel: String, avro: Boolean = false): Unit =
      Stage.file(df, base, rel, if (avro) avroFmt else "parquet")

    private def sizeOf(rel: String): Long = Files.size(Paths.get(base, rel))

    /** One manifest at `rel`. The avro schema mirrors what the entries
      * need: `content` only for a v2 manifest, the typed
      * `data_file.partition` struct only for a partitioned table. */
    def manifest(rel: String, entries: Seq[IceEntry],
                 withContent: Boolean = false, partCol: Option[String] = None,
                 withSeq: Boolean = false): Unit = {
      val withBounds = entries.exists(_.bounds.isDefined)
      // spec single-value serialization: long bounds are 8 bytes
      // little-endian, keyed by field id in map<int, binary>
      def le(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array
      val dataFields = Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("file_size_in_bytes", LongType, nullable = false)) ++
        (if (withContent) Seq(StructField("content", IntegerType, nullable = false)) else Nil) ++
        partCol.map(c => StructField("partition",
          StructType(Seq(StructField(c, StringType, nullable = false))))) ++
        (if (withBounds) {
          // avro has no int-keyed maps: the iceberg spec encodes
          // map<int, binary> as an array of {key, value} records
          val kv = ArrayType(StructType(Seq(
            StructField("key", IntegerType, nullable = false),
            StructField("value", BinaryType, nullable = false))))
          Seq(StructField("lower_bounds", kv), StructField("upper_bounds", kv))
        } else Nil)
      val schema = StructType(Seq(
        StructField("status", IntegerType, nullable = false)) ++
        (if (withSeq) Seq(StructField("sequence_number", LongType, nullable = false)) else Nil) ++
        Seq(StructField("data_file", StructType(dataFields))))
      val rows = entries.map { e =>
        val core = Seq[Any](e.path, "PARQUET", e.records, sizeOf(e.path)) ++
          (if (withContent) Seq(e.content) else Nil) ++
          (if (partCol.isDefined) Seq(Row(e.part.get)) else Nil) ++
          (if (withBounds) Seq(
            e.bounds.map { case (fid, lo, _) => Seq(Row(fid, le(lo))) }.orNull,
            e.bounds.map { case (fid, _, hi) => Seq(Row(fid, le(hi))) }.orNull) else Nil)
        if (withSeq) Row(e.status, e.seq, Row(core: _*))
        else Row(e.status, Row(core: _*))
      }
      writeOne(s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema), rel, avro = true)
    }

    /** Commit snapshot `id` over `manifests`: its manifest list at
      * metadata/snap-`id`.avro, then metadata/v`id`.metadata.json
      * listing snapshots 1..`id` with `id` current, then the version
      * hint (last call wins). */
    def snapshot(id: Long, manifests: Seq[String], formatVersion: Int = 1): Unit = {
      val schema = StructType(Seq(
        StructField("manifest_path", StringType, nullable = false),
        StructField("manifest_length", LongType, nullable = false)))
      val rows = manifests.map(m => Row(m, sizeOf(m)))
      writeOne(s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema),
        s"metadata/snap-$id.avro", avro = true)
      val ss = (1L to id).map(i =>
        s"""{"snapshot-id":$i,"timestamp-ms":0,"manifest-list":"metadata/snap-$i.avro"}""")
      Files.writeString(Paths.get(base, "metadata", s"v$id.metadata.json"),
        s"""{"format-version":$formatVersion,"table-uuid":"graft-orders-ice","location":"$base",""" +
          s""""current-snapshot-id":$id,"snapshots":[${ss.mkString(",")}]}""")
      Files.writeString(Paths.get(base, "metadata", "version-hint.text"), id.toString)
    }
  }

  /** Build the shared 2-snapshot public-spec Iceberg fixture from
    * `orders` (v1 layout): four data files by o_orderkey%4;
    * snapshot 1 = {g0,g1,g2} (all ADDED), snapshot 2 = g0 DELETED,
    * g1,g2 EXISTING, g3 ADDED. */
  private[queries] def mkIcebergFixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = iceOrders(s, d)
    val groups = keyGroups(s, t.base, o, 4)(v => s"data/part-g$v.parquet")
    // snapshot 1: first three groups ADDED; snapshot 2: g0 DELETED,
    // g1/g2 carried as EXISTING, g3 ADDED
    t.manifest("metadata/m1.avro",
      groups.take(3).map { case (p, n) => IceEntry(1, p, n) })
    t.manifest("metadata/m2.avro", Seq(
      IceEntry(2, groups(0)._1, groups(0)._2), IceEntry(0, groups(1)._1, groups(1)._2),
      IceEntry(0, groups(2)._1, groups(2)._2), IceEntry(1, groups(3)._1, groups(3)._2)))
    t.snapshot(1L, Seq("metadata/m1.avro"))
    t.snapshot(2L, Seq("metadata/m2.avro"))
    t.base
  }

  /** Build the column-stats fixture from `orders`: one data file per
    * order-year (the clustered-write layout stats skipping assumes),
    * each manifest entry carrying the spec's `lower_bounds` /
    * `upper_bounds` for field id 3 (`o_year`) in single-value
    * serialization (8-byte little-endian longs keyed by field id). */
  private[queries] def mkIcebergStatsFixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = txnOrders(s, d).drop("o_orderstatus")
    val g = writeGroups(s, t.base, o, col("o_year"), v => s"data/part-y$v.parquet")
    val entries = g.keys.toSeq.sortBy(_.toLong).map { v =>
      val (rel, n) = g(v)
      IceEntry(1, rel, n, bounds = Some((3, v.toLong, v.toLong)))
    }
    t.manifest("metadata/m1.avro", entries)
    t.snapshot(1L, Seq("metadata/m1.avro"))
    t.base
  }

  /** Build the v2 position-delete fixture from `orders`: two data
    * files by o_orderkey%2; snapshot 1 adds both; snapshot 2 carries
    * them EXISTING and adds one POSITION-delete file (content=1)
    * covering g0's '1-URGENT' rows. The delete rows are produced by
    * reading the written g0 back with Spark's `_metadata` columns, so
    * (file_path, pos) is exact regardless of parquet row order —
    * which is also why the oracle can replay the delete as a plain
    * predicate. */
  private[queries] def mkIcebergV2Fixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = iceOrders(s, d)
    val groups = keyGroups(s, t.base, o, 2)(v => s"data/part-g$v.parquet")
    val delRows = s.read.parquet(s"${t.base}/${groups(0)._1}")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))
    val delRel = "data/del-1.parquet"
    t.writeOne(delRows, delRel)
    val nDel = delRows.count()
    t.manifest("metadata/m1.avro",
      groups.map { case (p, n) => IceEntry(1, p, n) }, withContent = true)
    t.manifest("metadata/m2.avro",
      groups.map { case (p, n) => IceEntry(0, p, n) }, withContent = true)
    t.manifest("metadata/md2.avro",
      Seq(IceEntry(1, delRel, nDel, content = 1)), withContent = true)
    t.snapshot(1L, Seq("metadata/m1.avro"), formatVersion = 2)
    t.snapshot(2L, Seq("metadata/m2.avro", "metadata/md2.avro"), formatVersion = 2)
    t.base
  }

  /** Build the v2 EQUALITY-delete fixture (the Flink-CDC table shape)
    * from `orders`: snapshot 1 (sequence 1) = two data files by
    * o_orderkey%2; snapshot 2 (sequence 2) carries them EXISTING, adds
    * an equality-delete file (content=2, one row: o_orderpriority =
    * '1-URGENT') AND a new data file of re-inserted '1-URGENT' rows at
    * cents+11 — which must SURVIVE, because the delete only erases
    * rows from files with a strictly smaller sequence number. */
  private[queries] def mkIcebergEqDelFixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = iceOrders(s, d)
    val groups = keyGroups(s, t.base, o, 2)(v => s"data/part-g$v.parquet")
    val eqRel = "data/eqdel-1.parquet"
    t.writeOne(s.createDataFrame(Seq(Tuple1("1-URGENT"))).toDF("o_orderpriority"), eqRel)
    val reins = o.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("cents", col("cents") + 11)
    val reinsRel = "data/part-g2.parquet"
    t.writeOne(reins, reinsRel)
    val nReins = reins.count()
    t.manifest("metadata/m1.avro",
      groups.map { case (p, n) => IceEntry(1, p, n, seq = 1L) },
      withContent = true, withSeq = true)
    t.manifest("metadata/m2.avro",
      groups.map { case (p, n) => IceEntry(0, p, n, seq = 1L) } ++ Seq(
        IceEntry(1, eqRel, 1L, content = 2, seq = 2L),
        IceEntry(1, reinsRel, nReins, seq = 2L)),
      withContent = true, withSeq = true)
    t.snapshot(1L, Seq("metadata/m1.avro"), formatVersion = 2)
    t.snapshot(2L, Seq("metadata/m2.avro"), formatVersion = 2)
    t.base
  }

  /** Build the orphan-file fixture: one snapshot over two o_orderkey%2
    * group files, plus ONE unclaimed parquet planted in data/ — the
    * debris a failed write leaves behind. */
  private[queries] def mkIcebergOrphanFixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = iceOrders(s, d)
    val groups = keyGroups(s, t.base, o, 2)(v => s"data/part-g$v.parquet")
    t.writeOne(o.limit(5), "data/orphan-debris.parquet")
    t.manifest("metadata/m1.avro", groups.map { case (p, n) => IceEntry(1, p, n) })
    t.snapshot(1L, Seq("metadata/m1.avro"))
    t.base
  }

  /** Test hook (IcebergSpec pins the planned-file counts of the
    * partitioned fixture without reaching the private builder). */
  def icebergPartFixtureForTest(s: SparkSession, d: String): String =
    mkIcebergPartFixture(s, d, "orders_icep_test")

  def icebergStatsFixtureForTest(s: SparkSession, d: String): String =
    mkIcebergStatsFixture(s, d, "orders_ices_test")

  def icebergEqDelFixtureForTest(s: SparkSession, d: String): String =
    mkIcebergEqDelFixture(s, d, "orders_eqd_test")

  /** Build the Hudi copy-on-write fixture from `orders`: three file
    * groups by o_orderkey%3, all written at instant 001; instant 002
    * rewrites group g0 WITHOUT its '1-URGENT' rows (the CoW upsert);
    * instant 003 rewrites g1 but is left INFLIGHT — its base file sits
    * in the same directory and must stay invisible to every read. */
  private[queries] def mkHudiFixture(s: SparkSession, d: String, suffix: String): String = {
    val base = fresh(root(d, "hudi", suffix), ".hoodie")
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=orders_hudi\nhoodie.table.type=COPY_ON_WRITE\n")
    val o = iceOrders(s, d)
    writeGroups(s, base, o, pmod(col("o_orderkey"), lit(3)),
      v => s"g${v}_0-0-0_001.parquet")
    Files.writeString(Paths.get(base, ".hoodie", "001.commit"), "{}")
    Stage.file(o.filter(pmod(col("o_orderkey"), lit(3)) === 0 &&
      col("o_orderpriority") =!= "1-URGENT"), base, "g0_0-0-0_002.parquet")
    Files.writeString(Paths.get(base, ".hoodie", "002.commit"), "{}")
    // instant 003 started rewriting g1 but never completed
    Stage.file(o.filter(pmod(col("o_orderkey"), lit(3)) === 1).limit(1), base,
      "g1_0-0-0_003.parquet")
    Files.writeString(Paths.get(base, ".hoodie", "003.inflight"), "")
    base
  }

  /** Build the Hudi incremental fixture: like [[mkHudiFixture]] but
    * every row carries the `_hoodie_commit_time` meta column a real
    * Hudi writer stamps. Instant 001 writes all three groups; instant
    * 002 CoW-rewrites g0 — '1-URGENT' rows deleted, '2-HIGH' rows
    * UPDATED (cents+7, commit time 002), the rest copied forward with
    * their ORIGINAL commit time, which is exactly what makes
    * incremental reads surface only the changed rows. */
  private[queries] def mkHudiIncrFixture(s: SparkSession, d: String, suffix: String): String = {
    val base = fresh(root(d, "hudi", suffix), ".hoodie")
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=orders_hudi_incr\nhoodie.table.type=COPY_ON_WRITE\n")
    val o = iceOrders(s, d).withColumn("_hoodie_commit_time", lit("001"))
    writeGroups(s, base, o, pmod(col("o_orderkey"), lit(3)),
      v => s"g${v}_0-0-0_001.parquet")
    Files.writeString(Paths.get(base, ".hoodie", "001.commit"), "{}")
    val g0v2 = o.filter(pmod(col("o_orderkey"), lit(3)) === 0 &&
        col("o_orderpriority") =!= "1-URGENT")
      .withColumn("cents", when(col("o_orderpriority") === "2-HIGH",
        col("cents") + 7).otherwise(col("cents")))
      .withColumn("_hoodie_commit_time", when(col("o_orderpriority") === "2-HIGH",
        lit("002")).otherwise(col("_hoodie_commit_time")))
    Stage.file(g0v2, base, "g0_0-0-0_002.parquet")
    Files.writeString(Paths.get(base, ".hoodie", "002.commit"), "{}")
    base
  }

  /** Build the identity-partitioned fixture from `orders`: one data
    * file per o_orderpriority, each manifest entry carrying the typed
    * `data_file.partition` struct that [[graft.sources.IcebergReader.readWhere]]
    * prunes on. One snapshot. */
  private[queries] def mkIcebergPartFixture(s: SparkSession, d: String, suffix: String): String = {
    val t = new IceTable(s, root(d, "iceberg", suffix))
    val o = iceOrders(s, d)
    val pris = o.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // group on an index surrogate: priority values contain spaces,
    // which hive-style partition dirs escape
    val idx = pris.zipWithIndex.foldLeft(lit(-1)) { case (acc, (p, i)) =>
      when(col("o_orderpriority") === p, i).otherwise(acc)
    }
    val g = writeGroups(s, t.base, o, idx, v => s"data/part-p$v.parquet")
    val entries = pris.zipWithIndex.map { case (pri, i) =>
      val (rel, n) = g(i.toString)
      IceEntry(1, rel, n, part = Some(pri))
    }
    t.manifest("metadata/m1.avro", entries, partCol = Some("o_orderpriority"))
    t.snapshot(1L, Seq("metadata/m1.avro"))
    t.base
  }

  def oracleSql: Map[String, String] = Map(
    "q_delta_evolve" ->
      ("WITH o AS (SELECT o_orderpriority AS opri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CASE WHEN opri = '1-URGENT' THEN '(pre-evolution)' ELSE opri END AS pri, CAST(2 AS BIGINT) AS v0_cols, " +
        "count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o GROUP BY 1 ORDER BY pri"),
    "q_delta_ts_travel" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1500 AS BIGINT) AS probe_ts, CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents, CAST(1 AS BIGINT) AS early_probe_fails FROM o WHERE g = 0 " +
        "UNION ALL SELECT 2500, 1, count(*), CAST(sum(cents) AS BIGINT), 1 FROM o WHERE g IN (0, 1) " +
        "UNION ALL SELECT 3500, 2, count(*), CAST(sum(cents) AS BIGINT), 1 FROM o " +
        "ORDER BY probe_ts"),
    "q_delta_constraint" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(3 AS BIGINT) AS n_versions, CAST(1 AS BIGINT) AS rejected_batches, " +
        "count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o"),
    "q_iceberg_refs" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS ord, 'audit' AS ref, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 2, 'dev', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY ord"),
    "q_delta_vacuum" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT CAST(1 AS BIGINT) AS phase, CAST(4 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY phase"),
    "q_iceberg_orphans" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, CAST(3 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY phase"),
    "q_hudi_clean" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, CAST(9 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 5 WHEN pri = '1-URGENT' THEN 9 ELSE 0 END) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, 3, count(*), CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 5 WHEN pri = '1-URGENT' THEN 9 ELSE 0 END) AS BIGINT) FROM o " +
        "ORDER BY phase"),
    "q_delta_colmap" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, pri AS priority, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o GROUP BY pri " +
        "UNION ALL SELECT 1, pri, count(*), CAST(sum(cents) AS BIGINT) FROM o GROUP BY pri " +
        "ORDER BY version, priority"),
    "q_delta_colmap_id" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v3 AS (SELECT pri, CASE WHEN k % 10 = 7 THEN cents + 3 ELSE cents END AS cents FROM o WHERE k % 10 <> 6) " +
        "SELECT CAST(0 AS BIGINT) AS version, pri AS priority, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o GROUP BY pri " +
        "UNION ALL SELECT 3, pri, count(*), CAST(sum(cents) AS BIGINT) FROM v3 GROUP BY pri " +
        "ORDER BY version, priority"),
    "q_delta_dv" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri NOT IN ('1-URGENT', '2-HIGH') " +
        "ORDER BY version"),
    "q_delta_part_dml" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v1 AS (SELECT * FROM o WHERE NOT (pri = '1-URGENT' AND k % 2 = 0)), " +
        "v2 AS (SELECT k, pri, CASE WHEN pri = '2-HIGH' AND k % 3 = 0 THEN cents + 11 ELSE cents END AS cents FROM v1), " +
        "src AS (SELECT k, pri, cents + 7 AS cents FROM o WHERE pri = '3-MEDIUM' AND k % 5 = 0 " +
        "UNION ALL SELECT k + 100000000, '9-SYNTH', 1234 FROM o WHERE pri = '5-LOW' AND k % 7 = 0), " +
        "v3 AS (SELECT * FROM v2 WHERE k NOT IN (SELECT k FROM src) UNION ALL SELECT * FROM src) " +
        "SELECT CAST(0 AS BIGINT) AS phase, '*' AS pri, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v1 " +
        "UNION ALL SELECT 2, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 3, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 4, pri, count(*), CAST(sum(cents) AS BIGINT) FROM v3 GROUP BY pri " +
        "ORDER BY phase, pri"),
    "q_lake_dsv2" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT 'delta' AS surface, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE pri = '2-HIGH' " +
        "UNION ALL SELECT 'hudi', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 1 " +
        "UNION ALL SELECT 'iceberg', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 0 " +
        "UNION ALL SELECT 'mapped', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 'sql', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '5-LOW' " +
        "ORDER BY surface"),
    "q_lake_sql_dml" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v1 AS (SELECT k, pri, cents FROM o WHERE pri <> '1-URGENT'), " +
        "v2 AS (SELECT k, pri, cents + CASE WHEN k % 10 = 4 THEN 13 ELSE 0 END AS cents FROM v1), " +
        "m AS (SELECT k, cents + 7 AS cents FROM o WHERE k % 10 = 7 AND pri <> '1-URGENT'), " +
        "ins AS (SELECT k + 500000000 AS k, '9-INS' AS pri, 999 AS cents FROM o WHERE pri = '5-LOW' AND k % 9 = 0), " +
        "v3 AS (SELECT v2.k, v2.pri, coalesce(m.cents, v2.cents) AS cents FROM v2 LEFT JOIN m ON v2.k = m.k " +
        "UNION ALL SELECT k, pri, cents FROM ins) " +
        "SELECT CAST(0 AS BIGINT) AS phase, '*' AS tag, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v1 " +
        "UNION ALL SELECT 2, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 3, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 10, 'delete', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 10, 'insert', count(*), CAST(sum(cents) AS BIGINT) FROM ins " +
        "UNION ALL SELECT 10, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT) FROM " +
        "(SELECT cents FROM v1 WHERE k % 10 = 4 UNION ALL SELECT cents FROM v2 WHERE k % 10 = 7) " +
        "UNION ALL SELECT 10, 'update_postimage', count(*), CAST(sum(cents) AS BIGINT) FROM " +
        "(SELECT cents + 13 AS cents FROM v1 WHERE k % 10 = 4 UNION ALL SELECT cents FROM m) " +
        "UNION ALL SELECT 20, pri, count(*), CAST(sum(cents) AS BIGINT) FROM " +
        "(SELECT pri, cents + CASE WHEN pri = '3-MEDIUM' AND k % 5 = 0 THEN 21 ELSE 0 END AS cents FROM o " +
        "UNION ALL SELECT pri, 444 FROM o WHERE pri = '4-NOT SPECIFIED' AND k % 11 = 0) GROUP BY pri " +
        "UNION ALL SELECT 30, '*', count(*), CAST(sum(cents + CASE WHEN k % 13 = 0 THEN 9 ELSE 0 END) AS BIGINT) FROM o " +
        "UNION ALL SELECT 40, '*', count(*) + (SELECT count(*) FROM o WHERE k % 17 = 0), " +
        "CAST(sum(CASE WHEN pri = '2-HIGH' AND k % 8 = 1 THEN 123 " +
        "WHEN k % 6 = 2 THEN cents + 11 ELSE cents END) " +
        "+ 777 * (SELECT count(*) FROM o WHERE k % 17 = 0) AS BIGINT) FROM o " +
        "UNION ALL SELECT 41, 'ids', (SELECT count(*) FROM o), (SELECT count(*) FROM o WHERE k % 17 = 0) " +
        "ORDER BY phase, tag"),
    "q_lake_dsv2_dv" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "h AS (SELECT k, cents + CASE WHEN k % 10 = 5 THEN 3 ELSE 0 END AS cents FROM o WHERE k % 10 <> 6) " +
        "SELECT 'delta' AS surface, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k % 10 >= 2 AND pri = '2-HIGH' " +
        "UNION ALL SELECT 'hudi', count(*), CAST(sum(cents) AS BIGINT) FROM h WHERE k % 3 = 1 " +
        "UNION ALL SELECT 'iceberg', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' AND k % 3 = 0 " +
        "UNION ALL SELECT 'sql', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 10 >= 2 AND pri = '5-LOW' " +
        "ORDER BY surface"),
    "q_lake_travel" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "ins AS (SELECT 321 AS cents FROM o WHERE k % 10 = 0), " +
        "hup AS (SELECT cents + CASE WHEN k % 10 = 3 THEN 5 ELSE 0 END AS cents FROM o) " +
        "SELECT 'delta_now' AS surface, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k % 2 = 0 OR pri = '5-LOW' " +
        "UNION ALL SELECT 'delta_v0', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 2 = 0 " +
        "UNION ALL SELECT 'hudi_i1', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 'hudi_now', count(*), CAST(sum(cents) AS BIGINT) FROM hup " +
        "UNION ALL SELECT 'ice_now', (SELECT count(*) FROM o) + (SELECT count(*) FROM ins), CAST((SELECT sum(cents) FROM o) + (SELECT sum(cents) FROM ins) AS BIGINT) " +
        "UNION ALL SELECT 'ice_s1', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 'ice_t1', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY surface"),
    "q_lake_sql_dml_ice" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT 'i2_now' AS surface, " +
        "count(*) + (SELECT count(*) FROM o WHERE k % 23 = 0) AS n_rows, " +
        "CAST(sum(CASE WHEN pri = '2-HIGH' AND k % 6 = 1 THEN 555 WHEN k % 10 = 4 THEN cents + 9 ELSE cents END) " +
        "+ 222 * (SELECT count(*) FROM o WHERE k % 23 = 0) AS BIGINT) AS total_cents " +
        "FROM o WHERE pri <> '1-URGENT' AND NOT (cents < 10000 AND pri = '3-MEDIUM') " +
        "UNION ALL SELECT 'i2_s1', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 'i2_s2', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 'i3_now', count(*), CAST(sum(CASE WHEN k % 9 = 2 THEN 1 ELSE cents END) AS BIGINT) FROM o WHERE pri NOT IN ('2-HIGH', '5-LOW') " +
        "ORDER BY surface"),
    "q_lake_catalog" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "hi AS (SELECT cents FROM o WHERE pri = '2-HIGH' AND k % 3 IN (0, 1)), " +
        "ui AS (SELECT cents, cents % 1000 AS bonus FROM o WHERE pri = '1-URGENT' AND k % 3 = 1) " +
        "SELECT 'altered' AS surface, (SELECT count(*) FROM hi) + (SELECT count(*) FROM ui) AS n_rows, " +
        "CAST((SELECT sum(cents) FROM hi) + (SELECT sum(cents + bonus) FROM ui) AS BIGINT) AS total_cents " +
        "UNION ALL SELECT 'ctas', count(*), CAST(sum(cents) AS BIGINT) FROM hi " +
        "UNION ALL SELECT 'ctas_ice', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '2-HIGH' AND k % 3 IN (0, 2) " +
        "UNION ALL SELECT 'delta', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 0 " +
        "UNION ALL SELECT 'hudi', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 2 " +
        "UNION ALL SELECT 'iceberg', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 1 " +
        "UNION ALL SELECT 'tables', 5, 0 " +
        "ORDER BY surface"),
    "q_lake_dsv2_write" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v3 AS (SELECT cents + 2 AS cents FROM o WHERE pri = '3-MEDIUM') " +
        "SELECT CAST(0 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k % 3 = 0 " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 IN (0, 1) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 10, count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 20, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 IN (0, 1) " +
        "ORDER BY phase"),
    "q_iceberg_default" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT 'bronze' AS tier, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents, CAST(5 * count(*) AS BIGINT) AS total_boost FROM o WHERE k % 3 IN (0, 1) " +
        "UNION ALL SELECT 'era3', count(*), CAST(sum(cents) AS BIGINT), CAST(sum((k + 800000000) % 9) AS BIGINT) FROM o WHERE k % 10 = 4 " +
        "UNION ALL SELECT 'gold', count(*), CAST(sum(cents) AS BIGINT), CAST(5 * count(*) AS BIGINT) FROM o WHERE k % 3 = 2 AND k % 2 = 0 " +
        "UNION ALL SELECT 'silver', count(*), CAST(sum(cents) AS BIGINT), CAST(5 * count(*) AS BIGINT) FROM o WHERE k % 3 = 2 AND k % 2 = 1 " +
        "ORDER BY tier"),
    "q_delta_type_widening" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "n AS (SELECT k, cents AS qty, cents % 97 AS sep FROM o), " +
        "w AS (SELECT k + 700000000 AS k, cents + 3000000000 AS qty, cents % 97 AS sep FROM o WHERE k % 10 = 3), " +
        "v2 AS (SELECT * FROM n UNION ALL SELECT * FROM w) " +
        "SELECT CAST(0 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS total_qty, CAST(sum(sep) AS BIGINT) AS total_septile FROM n " +
        "UNION ALL SELECT 2, count(*), CAST(sum(qty) AS BIGINT), CAST(sum(sep) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 3, count(*), CAST(sum(qty) AS BIGINT), CAST(sum(sep) AS BIGINT) FROM v2 " +
        "ORDER BY phase"),
    "q_delta_generated" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "g0 AS (SELECT k, pri, cents FROM o), " +
        "g1 AS (SELECT k + 500000000 AS k, pri, cents + 3 AS cents FROM o WHERE k % 10 = 4), " +
        "g2 AS (SELECT k + 600000000 AS k, pri, cents FROM o WHERE k % 10 = 7), " +
        "v0 AS (SELECT *, k % 7 AS bucket7, substring(pri, 1, 1) AS prio_class FROM g0), " +
        "v1 AS (SELECT * FROM v0 UNION ALL SELECT *, k % 7, substring(pri, 1, 1) FROM g1), " +
        "v2 AS (SELECT * FROM v1 UNION ALL SELECT *, k % 7, substring(pri, 1, 1) FROM g2) " +
        "SELECT CAST(0 AS BIGINT) AS phase, '*' AS tag, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents, CAST(sum(bucket7) AS BIGINT) AS sum_bucket FROM v0 " +
        "UNION ALL SELECT 1, '*', count(*), CAST(sum(cents) AS BIGINT), CAST(sum(bucket7) AS BIGINT) FROM v1 " +
        "UNION ALL SELECT 2, '*', count(*), CAST(sum(cents) AS BIGINT), CAST(sum(bucket7) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 10, prio_class, count(*), CAST(sum(cents) AS BIGINT), CAST(sum(bucket7) AS BIGINT) FROM v2 GROUP BY prio_class " +
        "ORDER BY phase, tag"),
    "q_delta_identity" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "a AS (SELECT k, 100 + 3 * (row_number() OVER (ORDER BY k) - 1) AS sk FROM o WHERE k % 3 <> 0), " +
        "h AS (SELECT 100 + 3 * (count(*) - 1) AS hwm FROM a), " +
        "b AS (SELECT k, (SELECT hwm FROM h) + 3 * row_number() OVER (ORDER BY k) AS sk FROM o WHERE k % 3 = 0), " +
        "v1 AS (SELECT * FROM a UNION ALL SELECT * FROM b) " +
        "SELECT CAST(0 AS BIGINT) AS phase, count(*) AS n_rows, CAST(min(sk) AS BIGINT) AS min_sk, CAST(max(sk) AS BIGINT) AS max_sk, CAST(sum(sk) AS BIGINT) AS sum_sk, CAST(sum(sk * (k % 97)) AS BIGINT) AS bind_sum FROM a " +
        "UNION ALL SELECT 1, count(*), CAST(min(sk) AS BIGINT), CAST(max(sk) AS BIGINT), CAST(sum(sk) AS BIGINT), CAST(sum(sk * (k % 97)) AS BIGINT) FROM v1 " +
        "ORDER BY phase"),
    "q_delta_merge_multi" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "mdel AS (SELECT * FROM o WHERE k % 10 = 2 AND pri = '1-URGENT'), " +
        "mupd AS (SELECT * FROM o WHERE k % 10 = 2 AND pri <> '1-URGENT'), " +
        "bdel AS (SELECT * FROM o WHERE pri = '5-LOW' AND k % 10 = 9), " +
        "ins AS (SELECT k + 400000000 AS k, '8-INS' AS pri, CAST(777 AS BIGINT) AS cents FROM o WHERE k % 10 = 8), " +
        "v1 AS (SELECT k, pri, CASE WHEN k % 10 = 2 THEN cents + 13 ELSE cents END AS cents FROM o " +
        "WHERE NOT (k % 10 = 2 AND pri = '1-URGENT') AND NOT (pri = '5-LOW' AND k % 10 = 9) " +
        "UNION ALL SELECT * FROM ins) " +
        "SELECT CAST(0 AS BIGINT) AS phase, '*' AS tag, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v1 " +
        "UNION ALL SELECT 10, 'delete', count(*), CAST(sum(cents) AS BIGINT) FROM (SELECT cents FROM mdel UNION ALL SELECT cents FROM bdel) " +
        "UNION ALL SELECT 10, 'insert', count(*), CAST(sum(cents) AS BIGINT) FROM ins " +
        "UNION ALL SELECT 10, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT) FROM mupd " +
        "UNION ALL SELECT 10, 'update_postimage', count(*), CAST(sum(cents + 13) AS BIGINT) FROM mupd " +
        "ORDER BY phase, tag"),
    "q_iceberg_spec_evolution" ->
      ("WITH o AS (SELECT o_orderdate AS dt, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "era2m AS (SELECT count(DISTINCT date_trunc('month', dt)) AS n FROM o WHERE dt >= DATE '1998-01-01'), " +
        "rng AS (SELECT count(DISTINCT date_trunc('month', dt)) AS n FROM o WHERE dt >= DATE '1999-03-01' AND dt <= DATE '1999-06-30') " +
        "SELECT CAST(1 AS BIGINT) AS phase, CAST(1 + (SELECT n FROM era2m) AS BIGINT) AS n_files_planned, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE pri = '2-HIGH' " +
        "UNION ALL SELECT 2, CAST(5 + (SELECT n FROM rng) AS BIGINT), count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE dt >= DATE '1999-03-01' AND dt <= DATE '1999-06-30' " +
        "UNION ALL SELECT 3, CAST(5 + (SELECT n FROM era2m) AS BIGINT), count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY phase"),
    "q_iceberg_schema_evolution" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "a AS (SELECT k + 200000000 AS k, cents + 5 AS cents FROM o WHERE k % 10 = 0), " +
        "b AS (SELECT k + 300000000 AS k, cents + 9 AS cents FROM o WHERE k % 10 = 1) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_pennies, CAST(0 AS BIGINT) AS n_tier FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT), 0 FROM (SELECT * FROM o UNION ALL SELECT * FROM a) " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT), (SELECT count(*) FROM b) FROM (SELECT * FROM o UNION ALL SELECT * FROM a UNION ALL SELECT * FROM b) " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT), -1 FROM (SELECT * FROM o UNION ALL SELECT * FROM a UNION ALL SELECT * FROM b) " +
        "ORDER BY phase"),
    "q_delta_composed" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v1 AS (SELECT * FROM o WHERE k % 10 <> 3), " +
        "v2 AS (SELECT k, pri, CASE WHEN pri = '2-HIGH' AND k % 10 = 4 THEN cents + 11 ELSE cents END AS cents FROM v1), " +
        "src AS (SELECT k, pri, cents + 7 AS cents FROM o WHERE k % 10 = 5 " +
        "UNION ALL SELECT k + 100000000, '9-SYNTH', 1234 FROM o WHERE pri = '5-LOW' AND k % 7 = 0), " +
        "v3 AS (SELECT * FROM v2 WHERE k NOT IN (SELECT k FROM src) UNION ALL SELECT * FROM src) " +
        "SELECT CAST(0 AS BIGINT) AS phase, '*' AS pri, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v1 " +
        "UNION ALL SELECT 2, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 3, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 4, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 5, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 6, pri, count(*), CAST(sum(cents) AS BIGINT) FROM v2 GROUP BY pri " +
        "UNION ALL SELECT 7, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT 8, '*', count(*), CAST(sum(cents) AS BIGINT) FROM v2 " +
        "ORDER BY phase, pri"),
    "q_iceberg_eq_dml" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "v3 AS (SELECT k, CASE WHEN pri = '2-HIGH' AND k % 2 = 0 THEN cents + 20 WHEN pri = '2-HIGH' THEN cents + 9 ELSE cents END AS cents FROM o), " +
        "v4 AS (SELECT cents FROM v3 UNION ALL SELECT 1234 FROM o WHERE pri = '5-LOW' AND k % 7 = 0) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(CASE WHEN pri = '2-HIGH' THEN cents + 9 ELSE cents END) AS BIGINT) FROM o " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3 " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v4 " +
        "ORDER BY snapshot_id"),
    "q_delta_reorg" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "base AS (SELECT cents FROM o WHERE pri NOT IN ('1-URGENT', '2-HIGH')), " +
        "v4 AS (SELECT cents FROM base UNION ALL SELECT cents + 1 FROM o WHERE pri = '1-URGENT') " +
        "SELECT CAST(0 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM base " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM base " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v4 " +
        "UNION ALL SELECT 5, count(*), CAST(sum(cents) AS BIGINT) FROM v4 " +
        "UNION ALL SELECT 10, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 11, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 12, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '2-HIGH' " +
        "UNION ALL SELECT 14, count(*), CAST(sum(cents + 1) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "ORDER BY phase"),
    "q_iceberg_eq_deletes" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(CASE WHEN pri = '1-URGENT' THEN cents + 11 ELSE cents END) AS BIGINT) FROM o " +
        "ORDER BY snapshot_id"),
    "q_iceberg_transform_prune" ->
      ("WITH o AS (SELECT o_orderkey, o_orderdate, year(o_orderdate) AS y, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders) OR o_orderkey = (SELECT max(o_orderkey) FROM orders) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE y BETWEEN 1997 AND 1998 " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE o_orderdate >= DATE '1997-03-01' AND o_orderdate < DATE '1997-05-01' " +
        "ORDER BY phase"),
    "q_hudi_part_mor" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "live AS (SELECT k, pri, cents + CASE WHEN k % 10 = 2 THEN 5 WHEN pri = '2-HIGH' AND k % 10 = 8 THEN 11 ELSE 0 END AS cents " +
        "FROM o WHERE k % 10 <> 3) " +
        "SELECT CAST(0 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM live " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM live WHERE pri = '2-HIGH' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM live " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM live " +
        "UNION ALL SELECT 5, count(*), CAST(sum(cents) AS BIGINT) FROM live WHERE pri <> '5-LOW' " +
        "ORDER BY phase"),
    "q_hudi_mor" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 7 ELSE 0 END) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 7 ELSE 0 END) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "ORDER BY phase"),
    "q_iceberg_scan" ->
      ("WITH o AS (SELECT o_orderkey % 4 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE g IN (0, 1, 2) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g IN (1, 2, 3) " +
        "ORDER BY snapshot_id"),
    "q_iceberg_deletes" ->
      ("WITH o AS (SELECT o_orderkey % 2 AS g, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE NOT (g = 0 AND pri = '1-URGENT') " +
        "ORDER BY snapshot_id"),
    "q_delta_roundtrip" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_hudi_roundtrip" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 9 ELSE 0 END) AS BIGINT) FROM o " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents + 9) AS BIGINT) FROM o WHERE pri = '2-HIGH' " +
        "ORDER BY phase"),
    "q_iceberg_dml" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri NOT IN ('1-URGENT', '2-HIGH') " +
        "ORDER BY snapshot_id"),
    "q_iceberg_v3_dv" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri <> '1-URGENT' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri NOT IN ('1-URGENT', '2-HIGH') " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM (" +
        "  SELECT cents FROM o WHERE pri NOT IN ('1-URGENT', '2-HIGH') " +
        "  UNION ALL SELECT cents + 3 FROM o WHERE k % 5 = 0) " +
        "ORDER BY snapshot_id"),
    "q_delta_clustered" ->
      ("WITH ob AS (SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS pb FROM orders), " +
        "mm AS (SELECT min(o_year) lo1, max(o_year) hi1, min(pb) lo2, max(pb) hi2 FROM ob), " +
        "zz AS (SELECT ob.*, " +
        "  ((o_year - lo1) * 8) // (hi1 - lo1 + 1) AS bx, " +
        "  ((pb - lo2) * 8) // (hi2 - lo2 + 1) AS byy FROM ob, mm), " +
        "zv AS (SELECT zz.*, ((bx & 1) | ((byy & 1) << 1) | (((bx >> 1) & 1) << 2) | " +
        "  (((byy >> 1) & 1) << 3) | (((bx >> 2) & 1) << 4) | (((byy >> 2) & 1) << 5)) // 4 AS zb FROM zz), " +
        "bstats AS (SELECT zb, min(o_year) mny, max(o_year) mxy, min(pb) mnp, max(pb) mxp FROM zv GROUP BY 1), " +
        "pre AS (SELECT o_orderkey % 4 AS g, min(o_year) a, max(o_year) b FROM ob GROUP BY 1) " +
        "SELECT CAST(1 AS BIGINT) AS phase, (SELECT count(*) FROM pre WHERE b >= 1996 AND a <= 1997) AS n_files_planned, " +
        "  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM ob WHERE o_year BETWEEN 1996 AND 1997 " +
        "UNION ALL SELECT 2, (SELECT count(*) FROM bstats WHERE mxy >= 1996 AND mny <= 1997), " +
        "  count(*), CAST(sum(cents) AS BIGINT) FROM ob WHERE o_year BETWEEN 1996 AND 1997 " +
        "UNION ALL SELECT 3, (SELECT count(*) FROM bstats WHERE mxp >= 0 AND mnp <= 9), " +
        "  count(*), CAST(sum(cents) AS BIGINT) FROM ob WHERE pb BETWEEN 0 AND 9 " +
        "UNION ALL SELECT 4, (SELECT count(DISTINCT zb) FROM zv), count(*), CAST(sum(cents) AS BIGINT) FROM ob " +
        "ORDER BY phase"),
    "q_delta_row_tracking" ->
      ("WITH n1 AS (SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey) - 1 AS rid, 0 AS ver FROM nation), " +
        "n2 AS (SELECT n_nationkey + 100 AS n_nationkey, (SELECT count(*) FROM nation) + row_number() OVER (ORDER BY n_nationkey) - 1 AS rid, 1 AS ver FROM nation), " +
        "allr AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2) " +
        "SELECT n_nationkey, CAST(rid AS BIGINT) AS row_id, CAST(ver AS BIGINT) AS commit_ver " +
        "FROM allr WHERE n_nationkey % 5 <> 0 ORDER BY n_nationkey"),
    "q_hudi_lifecycle" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "t AS (SELECT count(DISTINCT k % 3) AS nt FROM o WHERE pri = '2-HIGH'), " +
        "snap AS (SELECT count(*) AS n, CAST(sum(cents + CASE WHEN pri = '2-HIGH' THEN 9 ELSE 0 END) AS BIGINT) AS c FROM o), " +
        "orig AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS c FROM o) " +
        "SELECT CAST(1 AS BIGINT) AS phase, CAST(3 + (SELECT nt FROM t) AS BIGINT) AS n_disk_files, n AS n_rows, c AS total_cents FROM snap " +
        "UNION ALL SELECT 2, 4 + (SELECT nt FROM t), n, c FROM snap " +
        "UNION ALL SELECT 3, 3 + (SELECT nt FROM t), n, c FROM snap " +
        "UNION ALL SELECT 4, 3 + (SELECT nt FROM t), n, c FROM orig " +
        "UNION ALL SELECT 5, 3, n, c FROM snap " +
        "ORDER BY phase"),
    "q_iceberg_ndv_stats" ->
      ("WITH o AS (SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT 'cents' AS col_name, count(DISTINCT cents) AS ndv, true AS sketch_ok FROM o " +
        "UNION ALL SELECT 'o_orderkey', count(DISTINCT o_orderkey), true FROM o " +
        "UNION ALL SELECT 'o_orderpriority', count(DISTINCT o_orderpriority), true FROM o " +
        "ORDER BY col_name"),
    "q_iceberg_v3_lineage" ->
      ("WITH n1 AS (SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey) - 1 AS rid, 1 AS seq FROM nation), " +
        "n2 AS (SELECT n_nationkey + 100 AS n_nationkey, (SELECT count(*) FROM nation) + row_number() OVER (ORDER BY n_nationkey) - 1 AS rid, 2 AS seq FROM nation), " +
        "allr AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2) " +
        "SELECT n_nationkey, CAST(rid AS BIGINT) AS row_id, CAST(seq AS BIGINT) AS last_seq " +
        "FROM allr WHERE n_nationkey % 5 <> 0 ORDER BY n_nationkey"),
    "q_iceberg_ts_transform" ->
      ("WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_id FROM events) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_ids FROM e " +
        "WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13' " +
        "UNION ALL SELECT 2, count(*), CAST(sum(event_id) AS BIGINT) FROM e " +
        "WHERE ts >= TIMESTAMP '2024-01-05 09:00:00' AND ts < TIMESTAMP '2024-01-05 12:00:00' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM orders " +
        "WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01' " +
        "ORDER BY phase"),
    "q_hudi_cluster" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) + CASE WHEN o_orderpriority = '1-URGENT' THEN 5 ELSE 0 END AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 5, count(*), CAST(sum(cents + CASE WHEN pri = '3-MEDIUM' THEN 9 ELSE 0 END) AS BIGINT) FROM o " +
        "UNION ALL SELECT 6, count(*), CAST(sum(cents + CASE WHEN pri = '3-MEDIUM' THEN 9 ELSE 0 END) AS BIGINT) FROM o " +
        "ORDER BY phase"),
    "q_hudi_incr" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents + 7) AS BIGINT) FROM o WHERE g = 0 AND pri = '2-HIGH' " +
        "ORDER BY batch"),
    "q_hudi_partitioned" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "ups AS (SELECT k, pri, cents + 5 AS cents FROM o WHERE pri = '2-HIGH' AND k % 3 = 0 " +
        "UNION ALL SELECT k + 200000000, '9-SYNTH', CAST(777 AS BIGINT) FROM o WHERE pri = '5-LOW' AND k % 7 = 0), " +
        "fin AS (SELECT k, pri, CASE WHEN pri = '2-HIGH' AND k % 3 = 0 THEN cents + 5 ELSE cents END AS cents FROM o " +
        "UNION ALL SELECT k + 200000000, '9-SYNTH', CAST(777 AS BIGINT) FROM o WHERE pri = '5-LOW' AND k % 7 = 0), " +
        "perp AS (SELECT pri, CAST(count(DISTINCT k % 2) AS BIGINT) AS nf, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s FROM fin GROUP BY pri) " +
        "SELECT CAST(1 AS BIGINT) AS phase, pri, nf AS n_files, n AS n_rows, s AS total_cents FROM perp " +
        "UNION ALL SELECT 2, '*', (SELECT CAST(sum(nf) AS BIGINT) FROM perp), count(*), CAST(sum(cents) AS BIGINT) FROM fin " +
        "UNION ALL SELECT 3, '*', (SELECT CAST(count(DISTINCT pri || '|' || CAST(k % 2 AS VARCHAR)) AS BIGINT) FROM ups), count(*), CAST(sum(cents) AS BIGINT) FROM ups " +
        "ORDER BY phase, pri"),
    "q_iceberg_files" ->
      ("WITH o AS (SELECT o_orderkey % 4 AS g FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(count(DISTINCT g) AS BIGINT) AS n_files, count(*) AS n_rows FROM o WHERE g IN (0, 1, 2) " +
        "UNION ALL SELECT 2, count(DISTINCT g), count(*) FROM o WHERE g IN (1, 2, 3) " +
        "ORDER BY snapshot_id"),
    "q_iceberg_incr" ->
      ("WITH o AS (SELECT o_orderkey % 4 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_new_rows, CAST(sum(cents) AS BIGINT) AS new_cents FROM o WHERE g IN (0, 1, 2) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g = 3 " +
        "ORDER BY snapshot_id"),
    "q_iceberg_prune" ->
      ("SELECT o_orderpriority, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_hudi_scan" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE NOT (g = 0 AND pri = '1-URGENT') " +
        "ORDER BY snapshot"),
    "q_delta_scan" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE g IN (0, 1) " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g IN (1, 2) " +
        "ORDER BY version"),
    "q_sql_lake_tvf" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS phase, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 4 IN (1, 2, 3) " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE NOT (k % 3 = 0 AND pri = '1-URGENT') " +
        "UNION ALL SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 IN (1, 2) " +
        "ORDER BY phase"),
    "q_iceberg_roundtrip" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY snapshot_id"),
    "q_lake_migrate" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)) " +
        "SELECT 'migrated' AS side, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 'source', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY side"),
    "q_iceberg_part_write" ->
      ("SELECT o_orderpriority, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_iceberg_compact" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders " +
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) " +
        "SELECT CAST(2 AS BIGINT) AS snapshot_id, CAST(5 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 3, 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY snapshot_id"),
    "q_iceberg_expire" ->
      ("SELECT CAST(5 AS BIGINT) AS n_orphans, CAST(1 AS BIGINT) AS n_snapshots, " +
        "count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    "q_iceberg_stats_prune" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE year(o_orderdate) BETWEEN 1997 AND 1998 " +
        "GROUP BY 1 ORDER BY o_year"),
    "q_delta_optimize" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS version, CAST(7 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 2, 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_delta_merge" ->
      ("WITH o AS (SELECT o_orderkey % 2 AS g, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_sum FROM o WHERE g = 0 " +
        "UNION ALL SELECT 1, 'insert', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g = 1 " +
        "UNION ALL SELECT 1, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g = 0 AND pri = '2-HIGH' " +
        "UNION ALL SELECT 1, 'update_postimage', count(*), CAST(sum(cents + 3) AS BIGINT) FROM o WHERE g = 0 AND pri = '2-HIGH' " +
        "ORDER BY version, change_type"),
    "q_delta_dml" ->
      ("WITH o AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_sum FROM o " +
        "UNION ALL SELECT 1, 'delete', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '1-URGENT' " +
        "UNION ALL SELECT 2, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE pri = '2-HIGH' " +
        "UNION ALL SELECT 2, 'update_postimage', count(*), CAST(sum(cents + 7) AS BIGINT) FROM o WHERE pri = '2-HIGH' " +
        "ORDER BY version, change_type"),
    "q_delta_stats_skip" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE year(o_orderdate) BETWEEN 1997 AND 1998 " +
        "GROUP BY 1 ORDER BY o_year"),
    "q_delta_restore" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT CAST(0 AS BIGINT) AS version, CAST(3 AS BIGINT) AS n_files, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o " +
        "UNION ALL SELECT 1, 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 2, 3, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_delta_part_write" ->
      ("SELECT o_orderpriority, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderpriority IN ('2-HIGH', '4-NOT SPECIFIED') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_delta_checkpoint" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE g IN (0, 1) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_delta_v2checkpoint" ->
      ("WITH o AS (SELECT o_orderkey % 3 AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE g IN (0, 1) " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_delta_cdf" ->
      ("WITH o AS (SELECT o_orderkey % 2 AS g, o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents_sum FROM o " +
        "UNION ALL SELECT 1, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g = 0 AND pri = '2-HIGH' " +
        "UNION ALL SELECT 1, 'update_postimage', count(*), CAST(sum(cents + 5) AS BIGINT) FROM o WHERE g = 0 AND pri = '2-HIGH' " +
        "UNION ALL SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE g = 1 " +
        "ORDER BY version, change_type"),
    "q_txn_timetravel" ->
      ("WITH o AS (SELECT o_orderstatus AS st, year(o_orderdate) AS yr, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE yr <= 1996 " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE yr <= 1998 " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE yr <= 1998 AND st <> 'F' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "WHERE (yr <= 1998 AND st <> 'F') OR yr >= 1999 " +
        "ORDER BY version"),
    "q_txn_restore" ->
      ("WITH o AS (SELECT o_orderstatus AS st, year(o_orderdate) AS yr, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE yr <= 1997 " +
        "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE st <> 'O' " +
        "UNION ALL SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY version"),
    "q_txn_bloom_skip" ->
      ("SELECT o_orderkey, o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
        "CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders " +
        "WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders WHERE year(o_orderdate) = 1998) " +
        "ORDER BY o_orderkey"),
    "q_txn_prune" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE year(o_orderdate) BETWEEN 1997 AND 1998 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // step 2 is the COW delete: every 1995-98 file group holds 'F' rows
    // (status is ~uniform thirds over round-robin files), so all their
    // rows leave and the non-F survivors re-enter as the rewrite group
    "q_txn_cdc" ->
      ("WITH o AS (SELECT o_orderstatus AS st, year(o_orderdate) AS yr FROM orders) " +
        "SELECT CAST(1 AS BIGINT) AS step, " +
        "(SELECT count(*) FROM o WHERE yr BETWEEN 1997 AND 1998) AS rows_added, " +
        "CAST(0 AS BIGINT) AS rows_removed, " +
        "(SELECT count(*) FROM o WHERE yr BETWEEN 1997 AND 1998) AS net_rows " +
        "UNION ALL SELECT 2, " +
        "(SELECT count(*) FROM o WHERE yr <= 1998 AND st <> 'F'), " +
        "(SELECT count(*) FROM o WHERE yr <= 1998), " +
        "(SELECT count(*) FROM o WHERE yr <= 1998 AND st <> 'F') - (SELECT count(*) FROM o WHERE yr <= 1998) " +
        "UNION ALL SELECT 3, " +
        "(SELECT count(*) FROM o WHERE yr >= 1999), CAST(0 AS BIGINT), " +
        "(SELECT count(*) FROM o WHERE yr >= 1999) " +
        "ORDER BY step"),
    "q_txn_compact" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders GROUP BY 1 ORDER BY o_year"),
    // 1997-98 repriced +10% by the upsert (integer cents + cents//10 —
    // both engines truncate on positive values), all other years as-is
    "q_txn_upsert" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n, " +
        "CAST(sum(CASE WHEN year(o_orderdate) BETWEEN 1997 AND 1998 " +
        "THEN cents + cents // 10 ELSE cents END) AS BIGINT) AS total_cents " +
        "FROM (SELECT o_orderdate, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) t " +
        "GROUP BY 1 ORDER BY o_year"),
    // final maintained state: the v2 COW delete dropped 'F' rows present
    // then (years <= 1999); the v3 append re-added years >= 2000 intact
    "q_txn_incr_agg" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE (year(o_orderdate) <= 1999 AND o_orderstatus <> 'F') " +
        "OR year(o_orderdate) >= 2000 " +
        "GROUP BY 1 ORDER BY o_year"),
    "q_txn_constraint" ->
      ("WITH o AS (SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 " +
        "THEN -CAST(round(o_totalprice * 100) AS BIGINT) " +
        "ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents FROM orders) " +
        "SELECT 'live' AS population, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents FROM o WHERE cents > 0 " +
        "UNION ALL SELECT 'quarantine', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE NOT (cents > 0) " +
        "ORDER BY population"),
    // ancestor v1 = all years <= 1999; main tip adds >= 2000; the branch
    // tip is the ancestor minus status 'F' (its COW delete) — and NOT
    // main's 2000+ rows, which is exactly the isolation being proven
    "q_txn_branch" ->
      ("WITH o AS (SELECT o_orderstatus AS st, year(o_orderdate) AS yr, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT 'ancestor_v1' AS head, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE yr <= 1999 " +
        "UNION ALL SELECT 'experiment', count(*), CAST(sum(cents) AS BIGINT) FROM o WHERE yr <= 1999 AND st <> 'F' " +
        "UNION ALL SELECT 'main', count(*), CAST(sum(cents) AS BIGINT) FROM o " +
        "ORDER BY head"),
    "q_txn_evolve" ->
      ("SELECT coalesce(prio, '<pre-schema>') AS prio, count(*) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM (" +
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
        "CASE WHEN year(o_orderdate) >= 1999 THEN o_orderpriority END AS prio " +
        "FROM orders) t GROUP BY 1 ORDER BY prio"),
  )
}
