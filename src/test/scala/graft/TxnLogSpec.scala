package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** Contract tests for the lakehouse-lite commit log (graft.sources.TxnLog):
  * snapshot isolation, atomic optimistic commits under real contention,
  * copy-on-write delete, and manifest-level file skipping. */
class TxnLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(tag: String): String = {
    val p = s"/tmp/graft_txnspec_$tag"
    TxnLog.rmrf(p); p
  }

  test("append/time-travel: every version stays readable and immutable") {
    val base = freshBase("tt")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    log.append(Seq((3L, "c")).toDF("k", "v"))
    assert(log.latestVersion() == 1)
    assert(log.read(0).count() == 2)
    assert(log.read(1).count() == 3)
    // a later commit must not change an older snapshot
    log.append(Seq((4L, "d")).toDF("k", "v"))
    assert(log.read(0).count() == 2)
    assert(log.read().count() == 4)
  }

  test("copy-on-write delete: one atomic commit, untouched files survive") {
    val base = freshBase("cow")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "keep"), (2L, "drop")).toDF("k", "v").coalesce(1))
    log.append(Seq((3L, "keep")).toDF("k", "v").coalesce(1)) // no matching rows
    val before = log.snapshotFiles(log.latestVersion()).map(_.path).toSet
    val v = log.deleteWhere(col("v") === "drop")
    assert(v == 2, "delete must be exactly one new commit")
    val after = log.snapshotFiles(v).map(_.path).toSet
    // the file with no 'drop' rows must be byte-identical (not rewritten)
    assert(after.intersect(before).size == 1)
    assert(log.read(v).select("v").as[String].collect().sorted.toSeq == Seq("keep", "keep"))
    // pre-delete snapshot still shows the dropped row (time travel)
    assert(log.read(1).count() == 3)
  }

  test("a snapshot read takes its schema from one footer: no inference job, same schema") {
    val base = freshBase("footer")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "x").repartition(2))
    log.append(Seq((3L, "c", 3.5)).toDF("k", "v", "x"))
    val census = new QueryCensus
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    val df =
      try {
        sc.setLocalProperty(QueryCensus.Key, "read")
        try log.read() finally sc.setLocalProperty(QueryCensus.Key, null)
      } finally sc.removeSparkListener(census)
    assert(!census.drained(spark).contains("read"), "building the read ran a Spark job")
    // the schema Spark's own inference gives the same files
    val groups = log.snapshotFiles(log.latestVersion()).map(f => s"$base/${f.path}")
    assert(df.schema == spark.read.parquet(groups: _*).schema)
    assert(df.count() == 3L)
  }

  test("delete with no matching rows is a no-op commit-wise") {
    val base = freshBase("noop")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a")).toDF("k", "v"))
    val v0 = log.latestVersion()
    assert(log.deleteWhere(col("v") === "zzz") == v0)
    assert(log.latestVersion() == v0)
  }

  test("concurrent committers: hard-link publish serializes, no commit lost") {
    val base = freshBase("race")
    val log = new TxnLog(spark, base, statCol = None)
    log.init()
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    // raw manifest commits (no Spark jobs) so all threads contend on the
    // SAME next-version slot at once — the worst case for the protocol
    val futures = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          log.commit(Seq(TxnLog.AddFile(s"data/f$i.parquet", 1L, 0L, 0L)), Seq.empty)
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    // all n commits landed, at n distinct consecutive versions
    assert(versions.toSet == (0 until n).toSet)
    assert(log.snapshotFiles(n - 1).size == n)
  }

  test("manifest stats prune the planned file set (and stay lossless)") {
    val base = freshBase("prune")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    (0 until 5).foreach { i =>
      log.append(Seq((i * 10L, s"g$i"), (i * 10L + 9L, s"g$i")).toDF("k", "v").coalesce(1))
    }
    val pruned = log.readPruned(log.latestVersion(), 20L, 39L)
    assert(pruned.inputFiles.length == 2, "only the two overlapping file groups may be planned")
    val full = log.read().filter(col("k").between(20L, 39L))
    assert(pruned.filter(col("k").between(20L, 39L)).count() == full.count())
  }

  test("upsert: matched keys overwritten, unmatched inserted, untouched files survive") {
    val base = freshBase("up")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "old1"), (2L, "old2")).toDF("k", "v").coalesce(1))
    log.append(Seq((10L, "other")).toDF("k", "v").coalesce(1)) // no matched keys
    val before = log.snapshotFiles(log.latestVersion()).map(_.path).toSet
    val v = log.upsert(Seq((2L, "NEW2"), (3L, "NEW3")).toDF("k", "v"), "k")
    assert(v == 2, "upsert must be exactly one commit")
    val rows = log.read(v).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "old1", 2L -> "NEW2", 3L -> "NEW3", 10L -> "other"))
    // the file with no matched keys must not be rewritten
    assert(log.snapshotFiles(v).map(_.path).toSet.intersect(before).size == 1)
    // pre-upsert snapshot unchanged (time travel)
    assert(log.read(1).filter(col("v") === "old2").count() == 1)
  }

  test("compaction folds only sub-threshold groups, old layout stays time-travelable") {
    val base = freshBase("opt")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    // 3 small groups + 2 big ones
    (0 until 3).foreach(i => log.append(Seq((i.toLong, "s")).toDF("k", "v").coalesce(1)))
    (0 until 2).foreach(i => log.append(
      (0 until 10).map(j => (100L + i * 10 + j, "b")).toDF("k", "v").coalesce(1)))
    val preVer = log.latestVersion()
    val v = log.compact(maxRows = 5L)
    assert(v == preVer + 1, "compaction must be one commit")
    val after = log.snapshotFiles(v)
    assert(after.size == 3, s"expected 2 big + 1 merged group, got ${after.size}")
    assert(log.read(v).count() == 23)
    // the merged group's stats must cover the merged key range
    val merged = after.filterNot(f => log.snapshotFiles(preVer).map(_.path).contains(f.path))
    assert(merged.size == 1 && merged.head.rows == 3
      && merged.head.statMin == 0L && merged.head.statMax == 2L)
    // pre-compaction snapshot still shows the fine-grained layout
    assert(log.snapshotFiles(preVer).size == 5)
    assert(log.read(preVer).count() == 23)
  }

  test("graded fixture: q_txn_compact goes 18 fine-grained groups -> 7") {
    val d = sf0001
    SparkEntry.queries("q_txn_compact")(spark, d).collect()
    val base = s"/tmp/graft_txn_${Integer.toHexString(d.hashCode)}/orders_oc"
    val log = new TxnLog(spark, base, statCol = Some("o_year"))
    val ver = log.latestVersion()
    assert(log.snapshotFiles(ver - 1).size == 18, "pre-compaction layout")
    assert(log.snapshotFiles(ver).size == 7, "post-compaction layout")
  }

  test("commitIfAbsent: a redelivered (app, batch) commits exactly once") {
    val base = freshBase("txnmark")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(log.commitIfAbsent("app1", 0L, df) == 0)
    assert(log.commitIfAbsent("app1", 0L, df) == -1, "redelivery must be skipped")
    assert(log.commitIfAbsent("app1", 1L, df) == 1, "next batch must land")
    assert(log.commitIfAbsent("app2", 0L, df) == 2, "other app's batch 0 is distinct")
    assert(log.read().count() == 6)
    // the skipped redelivery must not leak an orphaned data group
    val referenced = log.snapshotFiles(log.latestVersion()).map(_.path).toSet
    val onDisk = new java.io.File(s"$base/data").list().map(n => s"data/$n").toSet
    assert(onDisk == referenced, s"orphans: ${onDisk -- referenced}")
  }

  test("vacuum deletes only groups unreferenced by the retained versions") {
    val base = freshBase("vac")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a"), (2L, "drop")).toDF("k", "v").coalesce(1)) // v0
    log.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))               // v1
    log.deleteWhere(col("v") === "drop")                                // v2 rewrites v0's group
    val removed = log.vacuum(retainFrom = 2)
    assert(removed.size == 1, s"exactly v0's rewritten group is unreferenced: $removed")
    // latest snapshot fully readable after vacuum
    assert(log.read().count() == 2)
    // time travel to v0 is gone by design
    intercept[Exception] { log.read(0).count() }
  }

  test("graded fixture: q_txn_prune plans exactly the two overlapping year files") {
    val d = sf0001
    // build the same table the graded query builds, then check its scan set
    SparkEntry.queries("q_txn_prune")(spark, d).collect()
    val base = s"/tmp/graft_txn_${Integer.toHexString(d.hashCode)}/orders_py"
    val log = new TxnLog(spark, base, statCol = Some("o_year"))
    assert(log.readPruned(log.latestVersion(), 1997L, 1998L).inputFiles.length == 2)
    assert(log.read().inputFiles.length == 7)
  }

  test("appendChecked: violations quarantined atomically, never in a snapshot; NULL check fails closed") {
    val base = freshBase("chk")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    // NULL constraint result must divert (SQL CHECK passes only on TRUE)
    val df = Seq((1L, Some(5L)), (2L, Some(-1L)), (3L, None: Option[Long]))
      .toDF("k", "amt")
    val v = log.appendChecked(df, col("amt") > 0L)
    assert(v == 0)
    assert(log.read(v).select("k").as[Long].collect().toSet == Set(1L))
    val q = log.readQuarantine(v).get
    assert(q.select("k").as[Long].collect().toSet == Set(2L, 3L))
    // the qrn reference rides the SAME manifest as the add — one publish
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "_txnlog", "00000.txn"))
    assert(manifest.contains("add\t") && manifest.contains("qrn\t"))
    // quarantine accumulates across commits; later snapshots stay clean
    log.appendChecked(Seq((4L, Some(-7L))).toDF("k", "amt"), col("amt") > 0L)
    assert(log.read().count() == 1)
    assert(log.readQuarantine(log.latestVersion()).get.count() == 3)
    // an all-good append writes no qrn action at all
    val v2 = log.appendChecked(Seq((5L, Some(9L))).toDF("k", "amt"), col("amt") > 0L)
    assert(log.quarantined(v2).size == 2) // unchanged artifact count
  }

  test("branch: divergent tips are isolated, ancestor immutable, vacuum keeps branch refs") {
    val base = freshBase("br")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a"), (2L, "drop")).toDF("k", "v").coalesce(1)) // v0
    log.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))               // v1
    val exp = log.branch("exp", fromVersion = 1)
    assert(exp.latestVersion() == 1)
    assert(exp.read().count() == 3) // branch tip starts at the fork snapshot
    // diverge: main appends, branch deletes
    log.append(Seq((4L, "d")).toDF("k", "v").coalesce(1))               // main v2
    exp.deleteWhere(col("v") === "drop")                                // branch v2
    assert(log.read().count() == 4, "main unaffected by branch delete")
    assert(exp.read().count() == 2, "branch unaffected by main append")
    assert(log.read(1).count() == 3 && exp.read(1).count() == 3, "shared ancestor immutable")
    // reopening resolves the persisted fork point
    val reopened = log.openBranch("exp")
    assert(reopened.read().count() == 2)
    // vacuum from main must NOT delete the group only the branch references
    // (v0's original group was COW-removed on the branch... the inverse:
    // main v2 retention window excludes v0, but the branch still uses v1's
    // groups which include v0's)
    val removed = log.vacuum(retainFrom = 2)
    assert(exp.read().count() == 2, s"branch tip must survive main vacuum (removed: $removed)")
  }

  test("promote: fast-forward adopts branch commits; diverged main refuses") {
    val base = freshBase("pr")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a"), (2L, "drop")).toDF("k", "v").coalesce(1)) // v0
    val exp = log.branch("exp", fromVersion = 0)
    exp.deleteWhere(col("v") === "drop")                                // branch v1
    exp.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))               // branch v2
    val tip = log.promote("exp")
    assert(tip == 2)
    assert(log.read().as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    // a diverged main must refuse the fast-forward
    val base2 = freshBase("pr2")
    val log2 = new TxnLog(spark, base2, statCol = Some("k"))
    log2.init()
    log2.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val e2 = log2.branch("exp", fromVersion = 0)
    e2.append(Seq((2L, "b")).toDF("k", "v").coalesce(1))
    log2.append(Seq((9L, "z")).toDF("k", "v").coalesce(1)) // main diverges
    intercept[IllegalArgumentException] { log2.promote("exp") }
  }

  test("restore: metadata-only rollback, old versions stay readable, restorable itself") {
    val base = freshBase("rs")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // v0
    log.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))            // v1
    log.deleteWhere(col("k") <= 2L)                                  // v2 (bad)
    assert(log.read().count() == 1)
    val dataFilesBefore = new java.io.File(s"$base/data").list().sorted.toSeq
    val v3 = log.restore(1)
    assert(v3 == 3)
    // live set equals v1 exactly
    assert(log.read().orderBy("k").collect().toSeq ==
      log.read(1).orderBy("k").collect().toSeq)
    // metadata-only: restore wrote no data files
    val dataFilesAfter = new java.io.File(s"$base/data").list().sorted.toSeq
    assert(dataFilesAfter == dataFilesBefore, "restore must not write data files")
    // history preserved: the bad v2 snapshot is still readable
    assert(log.read(2).count() == 1)
    // a restore is itself restorable (back to the post-delete state)
    val v4 = log.restore(2)
    assert(v4 == 4 && log.read().count() == 1)
    // restoring to the CURRENT state is an empty (but valid) commit
    val v5 = log.restore(4)
    assert(v5 == 5 && log.read().count() == 1)
  }

  test("bloom point lookup plans only candidate files; unindexed groups degrade to scan") {
    val base = freshBase("bf")
    val log = new TxnLog(spark, base, statCol = Some("k"), bloomCol = Some("k"))
    log.init()
    // 5 groups of 100 disjoint keys each
    (0 until 5).foreach { g =>
      log.append((g * 100 until (g + 1) * 100).map(i => (i.toLong, s"v$i"))
        .toDF("k", "v").coalesce(1))
    }
    val hit = log.readPointLookup(log.latestVersion(), 250L)
    // planning-time skipping: the matching group + at most one 1%-fpp
    // false positive
    assert(hit.inputFiles.length <= 2,
      s"expected <=2 planned files of 5, got ${hit.inputFiles.length}")
    assert(hit.filter(col("k") === 250L).count() == 1)
    // a group committed WITHOUT a bloom (raw commit) must always be planned
    val extra = (500 until 600).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
    val log2 = new TxnLog(spark, base, statCol = Some("k")) // no bloomCol
    log2.append(extra)
    val hit2 = log2.readPointLookup(log2.latestVersion(), 250L)
    assert(hit2.filter(col("k") === 250L).count() == 1)
    assert(hit2.inputFiles.length <= 3, "unindexed group + candidates only")
    // vacuum must not strand or wrongly delete sidecars: drop versions
    // 0-1's exclusive groups, keep the rest — every retained data group
    // keeps its sidecar
    val log3 = new TxnLog(spark, base, statCol = Some("k"), bloomCol = Some("k"))
    log3.deleteWhere(col("k") < 100L) // makes group 0 unreferenced at the tip
    val removed = log3.vacuum(retainFrom = log3.latestVersion())
    assert(removed.exists(_.endsWith(".parquet")), s"expected a doomed group: $removed")
    removed.filter(_.endsWith(".parquet")).foreach { p =>
      assert(removed.contains(p + ".bloom") ||
        !new java.io.File(s"$base/$p.bloom").exists(),
        s"sidecar of doomed $p must go with it")
    }
    val live = log3.readPointLookup(log3.latestVersion(), 250L)
    assert(live.filter(col("k") === 250L).count() == 1,
      "retained groups must keep working sidecars after vacuum")
  }

  test("vacuum retains quarantine artifacts of the retained version window") {
    val base = freshBase("chkvac")
    val log = new TxnLog(spark, base, statCol = Some("k"))
    log.init()
    log.appendChecked(Seq((1L, 5L), (2L, -1L)).toDF("k", "amt"), col("amt") > 0L) // v0
    log.append(Seq((3L, 6L)).toDF("k", "amt"))                                    // v1
    val removed = log.vacuum(retainFrom = 0)
    assert(removed.isEmpty, s"nothing is unreferenced when v0 is retained: $removed")
    assert(log.readQuarantine(log.latestVersion()).get.count() == 1)
  }
}
