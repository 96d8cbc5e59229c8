package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.sum

import graft.sources.HudiReader

/** The public-spec Hudi CoW reader: timeline filtering, file-slice
  * resolution, time travel, and the fail-fast guards. */
class HudiSpec extends SparkSpec {

  private def mkTable(name: String, tableType: String = "COPY_ON_WRITE"): String = {
    val base = s"/tmp/graft_hudi_test/$name"
    graft.sources.TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, ".hoodie"))
    Files.writeString(Paths.get(base, ".hoodie", "hoodie.properties"),
      s"# test table\nhoodie.table.name=$name\nhoodie.table.type=$tableType\n")
    base
  }

  private def writeFile(base: String, name: String, ids: Seq[Long]): Unit =
    graft.sources.Stage.file(spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), base, name)

  private def commit(base: String, instant: String): Unit =
    Files.writeString(Paths.get(base, ".hoodie", s"$instant.commit"), "{}")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("slice resolution: an upsert rewrite shadows the group's older file") {
    val base = mkTable("slices")
    writeFile(base, "a_0-0-0_001.parquet", Seq(1L, 2L))
    writeFile(base, "b_0-0-0_001.parquet", Seq(10L))
    commit(base, "001")
    writeFile(base, "a_0-1-0_002.parquet", Seq(1L, 3L)) // retried token differs
    commit(base, "002")
    assert(ids(HudiReader.read(spark, base)) == Seq(1L, 3L, 10L))
    assert(ids(HudiReader.readAsOf(spark, base, "001")) == Seq(1L, 2L, 10L))
  }

  test("inflight instants are invisible even though their files exist") {
    val base = mkTable("inflight")
    writeFile(base, "a_0-0-0_001.parquet", Seq(1L))
    commit(base, "001")
    writeFile(base, "a_0-0-0_002.parquet", Seq(99L))
    Files.writeString(Paths.get(base, ".hoodie", "002.inflight"), "")
    assert(HudiReader.completedCommits(base) == Seq("001"))
    assert(ids(HudiReader.read(spark, base)) == Seq(1L))
  }

  test("groups born after the as-of instant drop out of time travel") {
    val base = mkTable("born")
    writeFile(base, "a_0-0-0_001.parquet", Seq(1L))
    commit(base, "001")
    writeFile(base, "b_0-0-0_002.parquet", Seq(2L))
    commit(base, "002")
    assert(ids(HudiReader.readAsOf(spark, base, "001")) == Seq(1L))
    assert(ids(HudiReader.read(spark, base)) == Seq(1L, 2L))
  }

  private def writeFileWithTime(base: String, name: String,
                                rows: Seq[(Long, String)]): Unit =
    graft.sources.Stage.file(spark.createDataFrame(rows).toDF("id", "_hoodie_commit_time"),
      base, name)

  test("incremental read surfaces only the range's rows and prunes untouched groups") {
    val base = mkTable("incr")
    writeFileWithTime(base, "a_0-0-0_001.parquet", Seq(1L -> "001", 2L -> "001"))
    writeFileWithTime(base, "b_0-0-0_001.parquet", Seq(10L -> "001"))
    commit(base, "001")
    // rewrite of a: id 1 carried (original commit time), id 3 upserted
    writeFileWithTime(base, "a_0-0-0_002.parquet", Seq(1L -> "001", 3L -> "002"))
    commit(base, "002")
    // untouched group b is pruned from the incremental scan entirely
    assert(HudiReader.incrementalFiles(base, "001", "002")
      .map(_.split('/').last) == Seq("a_0-0-0_002.parquet"))
    assert(ids(HudiReader.readIncremental(spark, base, "001", "002")) == Seq(3L))
    // initial load: everything as of 001
    assert(ids(HudiReader.readIncremental(spark, base, "000", "001")) == Seq(1L, 2L, 10L))
  }

  test("incremental read rejects tables without the meta column") {
    val base = mkTable("incrmeta")
    writeFile(base, "a_0-0-0_001.parquet", Seq(1L))
    commit(base, "001")
    val e = intercept[IllegalArgumentException](
      HudiReader.readIncremental(spark, base, "000", "001"))
    assert(e.getMessage.contains("_hoodie_commit_time"))
  }

  test("writer round-trip: create + upsert commit through the timeline, carried rows keep their instant") {
    val base = "/tmp/graft_hudi_test/writer"
    val W = graft.sources.HudiWriter
    val df = spark.createDataFrame(Seq(
      (0L, 10L), (1L, 11L), (2L, 12L), (3L, 13L))).toDF("id", "v")
    val c1 = W.create(spark, df, base, "t-w", "id", 2)
    assert(c1 == "001")
    assert(HudiReader.read(spark, base).agg(sum("v")).collect().head.getLong(0) == 46L)
    // upsert id=2 (bucket 0) only: bucket 1's file must NOT be rewritten
    val before = HudiReader.baseFiles(base).map(_.path).toSet
    val c2 = W.upsert(spark, spark.createDataFrame(Seq((2L, 100L))).toDF("id", "v"), base)
    assert(c2 == "002")
    assert(HudiReader.read(spark, base).agg(sum("v")).collect().head.getLong(0) == 134L)
    val added = HudiReader.baseFiles(base).map(_.path).toSet -- before
    assert(added.map(_.split('/').last) == Set("g0_0-0-0_002.parquet"),
      s"untouched buckets were rewritten: $added")
    // carried row id=0 keeps commit time 001 ⇒ incremental sees ONLY id=2
    val incr = HudiReader.readIncremental(spark, base, c1, c2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(incr == Seq(2L))
    // time travel to the create instant still sees the original value
    assert(HudiReader.readAsOf(spark, base, c1)
      .agg(sum("v")).collect().head.getLong(0) == 46L)
    // the upsert batch must carry the record key
    intercept[IllegalArgumentException](
      W.upsert(spark, spark.createDataFrame(Seq(Tuple1(1L))).toDF("x"), base))
  }

  test("merge-on-read tables and empty timelines are rejected fast") {
    val mor = mkTable("mor", tableType = "MERGE_ON_READ")
    writeFile(mor, "a_0-0-0_001.parquet", Seq(1L))
    commit(mor, "001")
    val e = intercept[IllegalArgumentException](HudiReader.read(spark, mor))
    assert(e.getMessage.contains("COPY_ON_WRITE"))
    val empty = mkTable("empty")
    writeFile(empty, "a_0-0-0_001.parquet", Seq(1L))
    intercept[IllegalArgumentException](HudiReader.read(spark, empty))
  }

  test("MOR: log merge, tombstones, slice algebra across compaction") {
    import org.apache.spark.sql.functions.col
    val base = "/tmp/graft_hudi_test/mor"
    val df = spark.createDataFrame((1L to 9L).map(i => (i, i * 10L))).toDF("k", "v")
    graft.sources.HudiWriter.createMor(spark, df, base, "t-mor", "k", 3)
    assert(HudiReader.tableType(base) == "MERGE_ON_READ")
    // the CoW path refuses a MOR table
    intercept[IllegalArgumentException](HudiReader.read(spark, base))
    // deltacommit 002: upsert k=1 (v=111) + tombstone k=2; only their
    // buckets (1, 2) get log files — bucket 0 stays log-free
    val ups = spark.createDataFrame(Seq((1L, 111L))).toDF("k", "v")
    val dels = spark.createDataFrame(Seq(Tuple1(2L))).toDF("k")
    graft.sources.HudiWriter.logCommit(spark, base, ups, Some(dels))
    val slices = HudiReader.morSlices(base, "002")
    assert(slices.count(_._2.nonEmpty) == 2, s"wrong dirty-slice count: $slices")
    // read-optimized ignores logs; snapshot merges them
    assert(HudiReader.readOptimized(spark, base, "002").count() == 9L)
    val snap = HudiReader.readMor(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(snap == ((1L, 111L) +: (3L to 9L).map(i => (i, i * 10L))), s"merge wrong: $snap")
    // second log on the same slice: later version wins
    graft.sources.HudiWriter.logCommit(spark, base,
      spark.createDataFrame(Seq((1L, 222L))).toDF("k", "v"))
    assert(HudiReader.readMor(spark, base).filter(col("k") === 1L)
      .select("v").head().getLong(0) == 222L)
    // compaction folds dirty slices only; snapshot content unchanged
    val before = HudiReader.readMor(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (n, instant) = graft.sources.HudiWriter.compactMor(spark, base)
    assert(n == 2, s"compacted $n groups, expected the 2 dirty ones")
    val after = HudiReader.readMor(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(after == before, "compaction changed content")
    assert(HudiReader.readOptimized(spark, base, instant).count() == before.size.toLong)
    // old logs attach to the superseded base: pre-compaction time
    // travel still merges them
    val tt = HudiReader.readMor(spark, base, "002").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(tt == ((1L, 111L) +: (3L to 9L).map(i => (i, i * 10L))), s"time travel wrong: $tt")
    // and the fresh slices are log-free
    val all = (HudiReader.completedCommits(base) ++
      HudiReader.completedDeltaCommits(base)).sorted
    assert(HudiReader.morSlices(base, all.last).forall(_._2.isEmpty))
  }

  test("unknown instant types are rejected, never silently mis-sliced") {
    val base = mkTable("weird_timeline")
    writeFile(base, "a_0-0-0_001.parquet", Seq(1L, 2L))
    commit(base, "001")
    assert(ids(HudiReader.read(spark, base)) == Seq(1L, 2L))
    // a restorepoint (or any instant this reader does not implement)
    // must fail the read outright — ignoring it risks wrong live-slice
    // math (savepoint/rollback graduated to KNOWN types in round 11)
    Files.writeString(Paths.get(base, ".hoodie", "002.restore"), "{}")
    val e = intercept[IllegalArgumentException](HudiReader.read(spark, base))
    assert(e.getMessage.contains("restore"), e.getMessage)
    Files.delete(Paths.get(base, ".hoodie", "002.restore"))
    // real-Hudi compound suffixes are unknown too (two-phase markers
    // this minimal timeline does not model)
    Files.writeString(Paths.get(base, ".hoodie", "002.commit.requested"), "")
    intercept[IllegalArgumentException](HudiReader.read(spark, base))
  }

  test("clustering: replacecommit retires groups, preserves content, history, and incrementals") {
    import org.apache.spark.sql.functions.col
    val base = "/tmp/graft_hudi_test/cluster"
    val df = spark.createDataFrame((1L to 9L).map(i => (i, i * 10L))).toDF("k", "v")
    graft.sources.HudiWriter.create(spark, df, base, "t-cl", "k", 3)       // 001
    graft.sources.HudiWriter.upsert(spark,
      spark.createDataFrame(Seq((4L, 444L))).toDF("k", "v"), base)         // 002
    val pre = HudiReader.read(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (nReplaced, instant) = graft.sources.HudiWriter.cluster(spark, base, 2)
    assert(nReplaced == 3 && instant == "003", s"($nReplaced, $instant)")
    // content identical; live files are exactly the 2 new c-groups
    val post = HudiReader.read(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(post == pre, "clustering changed content")
    val live = HudiReader.sliceFiles(base, instant)
    assert(live.size == 2 && live.forall(_.contains("/c")), s"live: $live")
    // key-sorted: the two groups hold disjoint contiguous key ranges
    def ks(p: String) =
      spark.read.parquet(p).select("k").collect().map(_.getLong(0)).sorted.toSeq
    val r0 = ks(live.head)
    val r1 = ks(live.last)
    assert((r0.max < r1.min) || (r1.max < r0.min),
      s"clustered groups overlap in key space: $r0 vs $r1")
    // time travel BEFORE the replace still serves the bucket groups
    val tt = HudiReader.readAsOf(spark, base, "002").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(tt == pre, "pre-cluster time travel broken")
    assert(HudiReader.sliceFiles(base, "002").forall(_.contains("/g")))
    // incremental across the re-layout: carried rows keep original
    // commit times, so only the 002 upsert surfaces
    val incr = HudiReader.readIncremental(spark, base, "001", instant)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(incr == Seq((4L, 444L)), s"incremental over cluster wrong: $incr")
    // ingest AFTER clustering (the normal nightly lifecycle): keys
    // route through the rebuilt key-range index — update k=2 (low
    // range) and insert k=99 (beyond every range → last group)
    graft.sources.HudiWriter.upsert(spark,
      spark.createDataFrame(Seq((2L, 222L), (99L, 990L))).toDF("k", "v"), base) // 004
    def snap() = HudiReader.read(spark, base).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = (pre.toMap + (2L -> 222L) + (99L -> 990L)).toSeq.sortBy(_._1)
    assert(snap() == want, s"post-cluster upsert wrong: ${snap()}")
    // only the touched range groups were rewritten at 004
    val live4 = HudiReader.sliceFiles(base, "004")
    assert(live4.size == 2 && live4.forall(_.contains("x")), s"live4: $live4")
    assert(live4.count(_.endsWith("_004.parquet")) == 2,
      s"both ranges held an upserted key, both rewritten: $live4")
    // clean on the clustered table: retired bucket slices (g*) are dead
    // wholesale, superseded c-slices drop to keep=1, content untouched
    val cleaned = graft.sources.HudiWriter.clean(spark, base)
    assert(cleaned >= 3, s"expected the 3+ retired g-slices reclaimed, got $cleaned")
    assert(snap() == want, "clean changed content")
    // RE-clustering composes too (instant-scoped ids cannot collide)
    val (nRep2, instant2) = graft.sources.HudiWriter.cluster(spark, base, 3)
    assert(nRep2 == 2 && instant2 == "005", s"($nRep2, $instant2)")
    assert(snap() == want, "re-clustering changed content")
    assert(HudiReader.sliceFiles(base, instant2).size == 3)
  }

  test("rollback reclaims crashed-instant debris; snapshot reads never saw it") {
    import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
    val base = "/tmp/graft_hudi_test/rollback"
    val df = spark.createDataFrame((1L to 12L).map(i => (i, i * 10L))).toDF("k", "v")
    graft.sources.HudiWriter.create(spark, df, base, "t-rb", "k", 3)
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    val want = ks(HudiReader.read(spark, base))
    // a crashed writer: staged base file + inflight marker, no completion
    val victim = HudiReader.baseFiles(base).head.path
    Files.copy(Paths.get(victim), Paths.get(base, "zzz_0-0-0_077.parquet"))
    Files.writeString(Paths.get(base, ".hoodie", "077.inflight"), "")
    assert(ks(HudiReader.read(spark, base)) == want, "debris leaked into a snapshot")
    assert(HudiReader.failedInstants(base) == Seq("077"))
    val (nInstants, nFiles) = graft.sources.HudiWriter.rollback(spark, base)
    assert(nInstants == 1 && nFiles == 1)
    assert(!Files.exists(Paths.get(base, "zzz_0-0-0_077.parquet")))
    assert(!Files.exists(Paths.get(base, ".hoodie", "077.inflight")))
    // the cleanup is auditable and the timeline stays readable
    assert(Files.exists(Paths.get(base, ".hoodie", "077.rollback")))
    assert(ks(HudiReader.read(spark, base)) == want)
    // idempotent: nothing left to roll back
    assert(graft.sources.HudiWriter.rollback(spark, base) == ((0, 0)))
  }

  test("savepoint shields slices from clean; release reclaims them") {
    val base = "/tmp/graft_hudi_test/savepoint"
    val df = spark.createDataFrame((1L to 12L).map(i => (i, i * 10L))).toDF("k", "v")
    val t1 = graft.sources.HudiWriter.create(spark, df, base, "t-sp", "k", 3)
    graft.sources.HudiWriter.savepoint(spark, base, t1)
    val ups = spark.createDataFrame(Seq((1L, 111L), (2L, 222L), (3L, 333L))).toDF("k", "v")
    graft.sources.HudiWriter.upsert(spark, ups, base)
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    val origIds = ks(HudiReader.readAsOf(spark, base, t1))
    // clean with the savepoint held: the t1 slices of rewritten groups
    // are superseded but PINNED — nothing reclaimed
    assert(graft.sources.HudiWriter.clean(spark, base) == 0)
    assert(ks(HudiReader.readAsOf(spark, base, t1)) == origIds)
    // release: the next clean reclaims exactly the shielded slices
    graft.sources.HudiWriter.releaseSavepoint(spark, base, t1)
    val reclaimed = graft.sources.HudiWriter.clean(spark, base)
    assert(reclaimed == 3, s"expected the 3 superseded t1 slices, got $reclaimed")
    // snapshot reads are untouched throughout
    assert(HudiReader.read(spark, base).count() == 12)
    // guard: savepoints target completed commits only
    intercept[IllegalArgumentException](
      graft.sources.HudiWriter.savepoint(spark, base, "042"))
  }

  test("logCommit rejects same-key collisions within one deltacommit") {
    val base = "/tmp/graft_hudi_test/mor_clash"
    val df = spark.createDataFrame((1L to 6L).map(i => (i, i * 10L))).toDF("k", "v")
    graft.sources.HudiWriter.createMor(spark, df, base, "t-clash", "k", 2)
    // upsert AND tombstone for k=3 in one commit → nondeterministic
    // survivor under equal precedence — refused
    val ups = spark.createDataFrame(Seq((3L, 333L))).toDF("k", "v")
    val dels = spark.createDataFrame(Seq(Tuple1(3L))).toDF("k")
    val e = intercept[IllegalArgumentException](
      graft.sources.HudiWriter.logCommit(spark, base, ups, Some(dels)))
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
    // duplicate upsert keys are refused for the same reason
    val dups = spark.createDataFrame(Seq((5L, 1L), (5L, 2L))).toDF("k", "v")
    intercept[IllegalArgumentException](
      graft.sources.HudiWriter.logCommit(spark, base, dups))
    // nothing was committed by either attempt
    assert(HudiReader.completedDeltaCommits(base).isEmpty)
  }

  // ---- hive-partitioned layout ------------------------------------------

  private def mkPartitioned(name: String): String = {
    val base = s"/tmp/graft_hudi_test/$name"
    val df = spark.createDataFrame(Seq(
      (0L, "A", 10L), (1L, "A", 11L), (2L, "A", 12L),
      (1L, "B:2", 20L), (4L, "B:2", 21L))).toDF("k", "p", "v")
    graft.sources.HudiWriter.createPartitioned(spark, df, base, name, "k", 2, "p")
    base
  }

  test("partitioned upsert: pruned reads, partition birth, non-global keys") {
    val base = mkPartitioned("part_upsert")
    // the colon in 'B:2' must be hive-escaped on disk (%3A; spaces
    // stay verbatim — Spark/Hive's escape set, probed empirically) …
    assert(Files.isDirectory(Paths.get(base, "p=B%3A2")),
      "partition dir spelling must be hive-escaped")
    // … and invisible to the pruned read (matched on the REAL value)
    assert(ids(HudiReader.readWhere(spark, base, "p", "B:2")
      .selectExpr("k AS id")) == Seq(1L, 4L))
    val ups = spark.createDataFrame(Seq(
      (1L, "A", 111L),   // in-place update of A's bucket-1 group
      (9L, "C", 90L)     // PARTITION BIRTH
    )).toDF("k", "p", "v")
    graft.sources.HudiWriter.upsert(spark, ups, base)
    val all = HudiReader.read(spark, base)
    assert(all.count() == 6L)
    // non-global index: k=1 exists in A (updated) AND in B:2 (untouched)
    val k1 = all.filter("k = 1").select("p", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(k1 == Map("A" -> 111L, "B:2" -> 20L))
    assert(ids(HudiReader.readWhere(spark, base, "p", "C")
      .selectExpr("v AS id")) == Seq(90L))
    // untouched partition's files were NOT rewritten
    val bFiles = HudiReader.baseFiles(base).filter(_.fileId.startsWith("p=B%3A2/"))
    assert(bFiles.nonEmpty && bFiles.forall(_.instant == "001"))
    // incremental read of the upsert = exactly the batch, from exactly
    // the touched cells
    assert(HudiReader.incrementalFiles(base, "001", "002").size == 2)
    assert(ids(HudiReader.readIncremental(spark, base, "001", "002")
      .selectExpr("v AS id")) == Seq(90L, 111L))
    // pruned listing never leaves the partition dir
    val aFiles = HudiReader.sliceFilesWhere(base,
      HudiReader.completedCommits(base).last, "p", "A")
    assert(aFiles.size == 2 && aFiles.forall(_.contains("/p=A/")))
  }

  test("cleaner reclaims superseded slices per (partition, group)") {
    val base = mkPartitioned("part_clean")
    val ups = spark.createDataFrame(Seq((0L, "A", 100L))).toDF("k", "p", "v")
    graft.sources.HudiWriter.upsert(spark, ups, base) // rewrites A/g0 only
    val deleted = graft.sources.HudiWriter.clean(spark, base)
    assert(deleted == 1, s"exactly A/g0's superseded slice, got $deleted")
    assert(HudiReader.read(spark, base).count() == 5L)
    assert(ids(HudiReader.readWhere(spark, base, "p", "A")
      .filter("k = 0").selectExpr("v AS id")) == Seq(100L))
  }

  test("clustering a partitioned table is refused loudly") {
    val base = mkPartitioned("part_cluster")
    val e = intercept[IllegalArgumentException](
      graft.sources.HudiWriter.cluster(spark, base, 2))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
  }

  test("partitioned MOR: per-cell logs, (partition,key) merge, pruned read, compaction") {
    val W = graft.sources.HudiWriter
    val base = s"/tmp/graft_hudi_test/part_mor"
    // the SAME key in two partitions — the non-global index must keep
    // them independent through logs, merges, and tombstones
    val df = spark.createDataFrame(Seq(
      (0L, "A", 10L), (1L, "A", 11L), (2L, "A", 12L),
      (1L, "B", 20L), (4L, "B", 21L))).toDF("k", "p", "v")
    W.createMorPartitioned(spark, df, base, "part_mor", "k", 2, "p")
    // delta commit: update (A,1), tombstone (B,4); (B,1) untouched
    W.logCommit(spark, base,
      spark.createDataFrame(Seq((1L, "A", 111L))).toDF("k", "p", "v"),
      deleteKeys = Some(spark.createDataFrame(Seq((4L, "B"))).toDF("k", "p")))
    // logs live IN their partition dirs, attached to the base instant
    assert(Files.list(Paths.get(base, "p=A")).iterator().asScala
      .exists(_.getFileName.toString.contains(".log.")), "A log in its dir")
    val snap = HudiReader.readMor(spark, base)
      .select("k", "p", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(snap == Set((0L, "A", 10L), (1L, "A", 111L), (2L, "A", 12L), (1L, "B", 20L)), snap)
    // pruned MOR read: only B's slices merge — (B,1) survives with its
    // ORIGINAL value (A's update must not cross partitions)
    val b = HudiReader.readMorWhere(spark, base, "p", "B")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b == Set((1L, 20L)), b)
    // read-optimized view: bases only — log changes invisible
    assert(HudiReader.readOptimized(spark, base,
      HudiReader.completedCommits(base).last).count() == 5L)
    // compaction folds exactly the dirty cells — INCLUDING the fully
    // tombstoned (B, g0) cell, which takes a 0-row base that retires
    // its logs; snapshot unchanged, read-optimized view converges
    val (cells, _) = W.compactMor(spark, base)
    assert(cells == 2, s"dirty cells: $cells") // (A, g1) and (B, g0)
    val after = HudiReader.readMor(spark, base)
      .select("k", "p", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == snap)
    assert(HudiReader.readOptimized(spark, base,
      HudiReader.completedCommits(base).last)
      .select("k", "p", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == snap)
    // partitioned tombstones without the partition column refuse
    val e = intercept[IllegalArgumentException](
      W.logCommit(spark, base,
        spark.createDataFrame(Seq((0L, "A", 5L))).toDF("k", "p", "v"),
        deleteKeys = Some(spark.createDataFrame(Seq(Tuple1(2L))).toDF("k"))))
    assert(e.getMessage.contains("partitioned tombstones"), e.getMessage)
  }
}
