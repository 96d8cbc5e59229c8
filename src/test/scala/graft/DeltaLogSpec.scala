package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.DeltaLogReader

/** The public-spec Delta log reader: action replay (add/remove algebra),
  * version listing, unknown-action skipping, JSON string-escape
  * handling, and the protocol guard. */
class DeltaLogSpec extends SparkSpec {

  private def mkTable(name: String): String = {
    val base = s"/tmp/graft_delta_test/$name"
    graft.sources.TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "_delta_log"))
    base
  }

  private def commit(base: String, v: Long, lines: String*): Unit =
    Files.write(Paths.get(base, "_delta_log", f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  private def writeParquet(base: String, rel: String, ids: Seq[Long]): Unit =
    graft.sources.Stage.file(spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), base, rel)

  test("replay accumulates adds and drops removes; versions are pinned") {
    val base = mkTable("replay")
    writeParquet(base, "a.parquet", Seq(1L, 2L))
    writeParquet(base, "b.parquet", Seq(3L))
    writeParquet(base, "c.parquet", Seq(4L, 5L, 6L))
    commit(base, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    commit(base, 1,
      """{"commitInfo":{"operation":"WRITE","someUnknownField":[1,2]}}""",
      """{"add":{"path":"c.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    commit(base, 2,
      """{"remove":{"path":"a.parquet","deletionTimestamp":0,"dataChange":true}}""")
    assert(DeltaLogReader.versions(base) == Seq(0L, 1L, 2L))
    assert(DeltaLogReader.latestVersion(base) == 2L)
    assert(DeltaLogReader.snapshotFiles(base, 0).map(_.path).sorted == Seq("a.parquet", "b.parquet"))
    assert(DeltaLogReader.snapshotFiles(base, 1).map(_.path).sorted == Seq("a.parquet", "b.parquet", "c.parquet"))
    assert(DeltaLogReader.snapshotFiles(base, 2).map(_.path).sorted == Seq("b.parquet", "c.parquet"))
    // data reads: v1 sees all six ids, v2 only b+c
    assert(DeltaLogReader.read(spark, base, 1).agg(sum("id")).collect().head.getLong(0) == 21L)
    assert(DeltaLogReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 18L)
  }

  test("JSON escapes in paths round-trip") {
    assert(DeltaLogReader.strField("""{"add":{"path":"a\/b A\\x\".parquet"}}""", "path")
      .contains("""a/b A\x".parquet"""))
    assert(DeltaLogReader.strField("""{"remove":{"path":"plain.parquet"}}""", "nope").isEmpty)
  }

  test("protocol requiring reader features is rejected, not misread") {
    val base = mkTable("proto")
    commit(base, 0,
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":9}}""",
      """{"add":{"path":"x.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e = intercept[IllegalArgumentException](DeltaLogReader.snapshotFiles(base, 0))
    assert(e.getMessage.contains("minReaderVersion"))
  }

  test("hive-layout partitioned table: partition column recovered, pruning intact") {
    val base = mkTable("part")
    Files.createDirectories(Paths.get(base, "p=a"))
    Files.createDirectories(Paths.get(base, "p=b"))
    writeParquet(base, "p=a/f1.parquet", Seq(1L, 2L))
    writeParquet(base, "p=b/f2.parquet", Seq(10L))
    commit(base, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":["p"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"p=a/f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p=b/f2.parquet","partitionValues":{"p":"b"},"size":1,"modificationTime":0,"dataChange":true}}""")
    assert(DeltaLogReader.snapshot(Some(spark), base, 0).partitionColumns == Seq("p"))
    val df = DeltaLogReader.read(spark, base)
    assert(df.columns.toSet == Set("id", "p"), s"partition column lost: ${df.columns.toSeq}")
    assert(df.filter(col("p") === "b").agg(sum("id")).collect().head.getLong(0) == 10L)
    // the p='b' predicate must prune at partition level, not row level
    val plan = df.filter(col("p") === "b").queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("p#") || scanLine.contains("(p"),
      s"no partition filter pushed: $scanLine")
  }

  test("partitioned table with non-hive paths is rejected, not silently column-dropped") {
    val base = mkTable("partbad")
    writeParquet(base, "f1.parquet", Seq(1L))
    commit(base, 0,
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":["p"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e = intercept[IllegalArgumentException](DeltaLogReader.read(spark, base, 0))
    assert(e.getMessage.contains("non-hive"))
  }

  test("checkpoint bounds the replay: vacuumed early commits stay readable") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = mkTable("ckpt")
    writeParquet(base, "a.parquet", Seq(1L, 2L))
    writeParquet(base, "b.parquet", Seq(3L))
    writeParquet(base, "c.parquet", Seq(4L))
    commit(base, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    commit(base, 1,
      """{"remove":{"path":"a.parquet","deletionTimestamp":0,"dataChange":true}}""")
    commit(base, 2,
      """{"add":{"path":"c.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // spec-shaped checkpoint at v1: one row per live action (protocol +
    // the surviving add), written as ONE parquet file
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType), StructField("size", LongType))))))
    val ckptRows = Seq(Row(Row(1), null), Row(null, Row("b.parquet", 1L)))
    graft.sources.Stage.file(
      spark.createDataFrame(spark.sparkContext.parallelize(ckptRows, 1), ckptSchema),
      base, f"_delta_log/${1L}%020d.checkpoint.parquet")
    Files.writeString(Paths.get(base, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":2}""")
    // checkpoint + tail equals full replay
    assert(DeltaLogReader.snapshot(Some(spark), base, 2).adds.map(_.path).sorted
      == Seq("b.parquet", "c.parquet"))
    // time travel BELOW the checkpoint ignores it (full replay of 0..0)
    assert(DeltaLogReader.snapshot(Some(spark), base, 0).adds.map(_.path).sorted
      == Seq("a.parquet", "b.parquet"))
    assert(DeltaLogReader.read(spark, base, 2).agg(sum("id")).collect().head.getLong(0) == 7L)
    // vacuum the pre-checkpoint commits: checkpointed reads keep working,
    // pre-checkpoint time travel now (correctly) fails
    Files.delete(Paths.get(base, "_delta_log", f"${0L}%020d.json"))
    assert(DeltaLogReader.read(spark, base, 2).agg(sum("id")).collect().head.getLong(0) == 7L)
    intercept[IllegalArgumentException](
      DeltaLogReader.snapshot(Some(spark), base, 0).adds)
  }

  test("non-contiguous log fails fast") {
    val base = mkTable("gap")
    commit(base, 0, """{"commitInfo":{}}""")
    commit(base, 2, """{"commitInfo":{}}""")
    val e = intercept[IllegalArgumentException](DeltaLogReader.versions(base))
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("writer round-trip: create + append produce versions the reader replays") {
    val base = "/tmp/graft_delta_test/writer"
    val df1 = spark.createDataFrame(Seq(1L, 2L, 3L).map(Tuple1(_))).toDF("id")
    val df2 = spark.createDataFrame(Seq(10L, 20L).map(Tuple1(_))).toDF("id")
    graft.sources.DeltaLogWriter.create(spark, df1.repartition(2), base, "t-writer")
    graft.sources.DeltaLogWriter.append(spark, df2.coalesce(1), base)
    assert(DeltaLogReader.versions(base) == Seq(0L, 1L))
    assert(DeltaLogReader.read(spark, base, 0)
      .agg(sum("id")).collect().head.getLong(0) == 6L)
    assert(DeltaLogReader.read(spark, base)
      .agg(sum("id")).collect().head.getLong(0) == 36L)
    // spec essentials on disk: protocol first commit, the REAL Spark
    // schema in schemaString, per-file numRecords stats
    val v0 = Files.readString(Paths.get(base, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains("\"protocol\""))
    assert(v0.contains("schemaString") && v0.contains("\\\"id\\\""))
    assert(v0.contains("numRecords"))
  }

  test("optimize bin-packs live files, content-identically, with dataChange=false actions") {
    val base = "/tmp/graft_delta_test/optimize"
    val df = spark.createDataFrame((1L to 9L).map(Tuple1(_))).toDF("id")
    graft.sources.DeltaLogWriter.create(spark, df.repartition(3), base, "t-opt")
    graft.sources.DeltaLogWriter.append(spark,
      spark.createDataFrame(Seq(100L, 200L).map(Tuple1(_))).toDF("id").repartition(2), base)
    val (before, after) = graft.sources.DeltaLogWriter.optimize(spark, base)
    assert(before == 5 && after == 1)
    assert(DeltaLogReader.snapshotFiles(base, 2).size == 1)
    // the compaction invariant: content identical across the rewrite
    assert(DeltaLogReader.read(spark, base, 1).agg(sum("id")).collect().head.getLong(0) ==
      DeltaLogReader.read(spark, base, 2).agg(sum("id")).collect().head.getLong(0))
    // time travel to pre-OPTIMIZE still sees the small files
    assert(DeltaLogReader.snapshotFiles(base, 1).size == 5)
    // every action in the OPTIMIZE commit is dataChange=false
    val v2 = Files.readString(Paths.get(base, "_delta_log", f"${2L}%020d.json"))
    assert(!v2.contains("\"dataChange\":true"), v2)
    assert(v2.linesIterator.count(_.contains("\"remove\"")) == 5)
    // already-packed table: no-op, no new commit
    assert(graft.sources.DeltaLogWriter.optimize(spark, base) == ((1, 1)))
    assert(DeltaLogReader.latestVersion(base) == 2L)
  }

  test("writer checkpoint + expireLog: O(tail) reads survive log cleanup") {
    val base = "/tmp/graft_delta_test/wckpt"
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, one(1L, 2L), base, "t-wc")
    graft.sources.DeltaLogWriter.append(spark, one(3L), base)
    assert(graft.sources.DeltaLogWriter.checkpoint(spark, base) == 1L)
    assert(graft.sources.DeltaLogWriter.expireLog(base) == 1) // v0 json gone
    graft.sources.DeltaLogWriter.append(spark, one(10L), base)
    assert(DeltaLogReader.versions(base) == Seq(1L, 2L))
    assert(DeltaLogReader.read(spark, base, 1).agg(sum("id")).collect().head.getLong(0) == 6L)
    assert(DeltaLogReader.read(spark, base, 2).agg(sum("id")).collect().head.getLong(0) == 16L)
    // expireLog refuses to run without a checkpoint
    val bare = "/tmp/graft_delta_test/wckpt_bare"
    graft.sources.DeltaLogWriter.create(spark, one(1L), bare, "t-bare")
    intercept[IllegalArgumentException](graft.sources.DeltaLogWriter.expireLog(bare))
  }

  test("readChanges: cdc files win over add/remove; inserts and deletes derive; OPTIMIZE is silent") {
    val base = mkTable("cdf")
    writeParquet(base, "a.parquet", Seq(1L, 2L))
    writeParquet(base, "b.parquet", Seq(5L))
    commit(base, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // v1: update in a.parquet with explicit cdc file — the rewrite's
    // add/remove must NOT double-count
    Files.createDirectories(Paths.get(base, "_change_data"))
    val cdcDf = spark.createDataFrame(Seq((2L, "update_preimage"), (7L, "update_postimage")))
      .toDF("id", "_change_type")
    graft.sources.Stage.file(cdcDf, base, "_change_data/cdc-1.parquet")
    writeParquet(base, "a2.parquet", Seq(1L, 7L))
    commit(base, 1,
      """{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      """{"remove":{"path":"a.parquet","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"a2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // v2: OPTIMIZE (dataChange=false) — must emit NOTHING
    writeParquet(base, "packed.parquet", Seq(1L, 7L, 5L))
    commit(base, 2,
      """{"remove":{"path":"a2.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"b.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"add":{"path":"packed.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":false}}""")
    // v3: delete the packed file — pre-image derivation
    commit(base, 3,
      """{"remove":{"path":"packed.parquet","deletionTimestamp":0,"dataChange":true}}""")
    val ch = DeltaLogReader.readChanges(spark, base, 0L, 3L)
      .groupBy("_commit_version", "_change_type").agg(sum("id").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set(
      (0L, "insert", 8L),            // 1+2+5
      (1L, "update_preimage", 2L),   // cdc file only — not a2's 1+7
      (1L, "update_postimage", 7L),
      (3L, "delete", 13L)))          // packed pre-image 1+7+5; v2 silent
    intercept[IllegalArgumentException](DeltaLogReader.readChanges(spark, base, 2L, 2L))
  }

  test("appendIfAbsent: txn markers absorb redelivered batches; empty batches advance the watermark") {
    val base = "/tmp/graft_delta_test/txnsink"
    graft.sources.TxnLog.rmrf(base)
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    val W = graft.sources.DeltaLogWriter
    assert(W.appendIfAbsent(spark, one(1L, 2L), base, "app", 0L))   // creates v0
    assert(W.appendIfAbsent(spark, one(3L), base, "app", 1L))       // v1
    assert(!W.appendIfAbsent(spark, one(99L), base, "app", 1L))     // redelivery: skipped
    assert(!W.appendIfAbsent(spark, one(99L), base, "app", 0L))
    assert(DeltaLogReader.snapshot(spark, base).txns.get("app").contains(1L))
    assert(DeltaLogReader.snapshot(spark, base).txns.get("other").isEmpty)
    // a DIFFERENT app's batches are independent
    assert(W.appendIfAbsent(spark, one(10L), base, "app2", 0L))
    // empty batch: txn-only commit, no data change, watermark advances
    val empty = spark.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("id")
    assert(W.appendIfAbsent(spark, empty, base, "app", 2L))
    assert(DeltaLogReader.snapshot(spark, base).txns.get("app").contains(2L))
    assert(!W.appendIfAbsent(spark, one(99L), base, "app", 2L))
    assert(DeltaLogReader.read(spark, base)
      .agg(sum("id")).collect().head.getLong(0) == 16L)
  }

  test("restore reverts content as a new commit, re-adding dropped files") {
    val base = "/tmp/graft_delta_test/restore"
    val W = graft.sources.DeltaLogWriter
    val df = spark.createDataFrame((1L to 6L).map(Tuple1(_))).toDF("id")
    W.create(spark, df.repartition(3), base, "t-restore")
    W.optimize(spark, base)
    assert(W.restore(spark, base, 0L) == ((1, 3))) // drop packed, re-add 3
    assert(DeltaLogReader.latestVersion(base) == 2L)
    assert(DeltaLogReader.snapshotFiles(base, 2).size == 3)
    assert(DeltaLogReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 21L)
    // history intact: the packed version still reads
    assert(DeltaLogReader.snapshotFiles(base, 1).size == 1)
    intercept[IllegalArgumentException](W.restore(spark, base, 5L))
  }

  test("partitioned create: hive layout, real values in partitionValues, pruning on read-back") {
    val base = "/tmp/graft_delta_test/partwrite"
    val df = spark.createDataFrame(Seq(
      (1L, "a b"), (2L, "a b"), (10L, "c"))).toDF("id", "p")
    graft.sources.DeltaLogWriter.create(spark, df, base, "t-pw", partitionBy = Seq("p"))
    // the dir name is escaped, the logged partitionValue is NOT
    val v0 = Files.readString(Paths.get(base, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains(""""partitionColumns":["p"]"""))
    assert(v0.contains(""""p":"a b""""), v0)
    val back = DeltaLogReader.read(spark, base)
    assert(back.columns.toSet == Set("id", "p"))
    assert(back.filter(col("p") === "a b").agg(sum("id")).collect().head.getLong(0) == 3L)
    // appends follow the declared partitioning automatically
    graft.sources.DeltaLogWriter.append(spark,
      spark.createDataFrame(Seq((20L, "c"))).toDF("id", "p"), base)
    assert(DeltaLogReader.read(spark, base).filter(col("p") === "c")
      .agg(sum("id")).collect().head.getLong(0) == 30L)
    // OPTIMIZE packs per-partition: 'c' holds two small files (create +
    // append) that merge INSIDE the partition dir; 'a b' is a single
    // file — already packed, untouched by identity
    val before = DeltaLogReader.snapshotFiles(base, 1L).map(_.path)
    val (nb, na) = graft.sources.DeltaLogWriter.optimize(spark, base)
    assert(nb == before.size && na == 2, s"($nb, $na) from ${before.size}")
    val after = DeltaLogReader.snapshotFiles(base, 2L).map(_.path)
    assert(after.count(_.startsWith("p=c/")) == 1, after.toString)
    assert(after.count(_.startsWith("p=a")) == 1, after.toString)
    assert(DeltaLogReader.read(spark, base).filter(col("p") === "c")
      .agg(sum("id")).collect().head.getLong(0) == 30L)
    assert(DeltaLogReader.read(spark, base).filter(col("p") === "a b")
      .agg(sum("id")).collect().head.getLong(0) == 3L)
  }

  test("data skipping: stats bounds prune files; unstated bounds keep them") {
    val base = "/tmp/graft_delta_test/skip"
    val W = graft.sources.DeltaLogWriter
    def one(vals: (Long, Long)*) =
      spark.createDataFrame(vals).toDF("id", "k").coalesce(1)
    W.create(spark, one(1L -> 10L, 2L -> 19L), base, "t-skip", statsFor = Seq("k"))
    W.append(spark, one(3L -> 20L, 4L -> 29L), base, statsFor = Seq("k"))
    W.append(spark, one(5L -> 30L), base, statsFor = Seq("k"))
    W.append(spark, one(6L -> 99L), base) // no stats: must always be kept
    val v = DeltaLogReader.latestVersion(base)
    def planned(lo: Long, hi: Long) =
      DeltaLogReader.filesWhere(spark, base, v, "k", lo, hi).size
    assert(planned(20L, 29L) == 2) // the middle file + the stats-less one
    assert(planned(0L, 5L) == 1)   // only the stats-less file survives
    assert(planned(0L, 99L) == 4)
    assert(DeltaLogReader.readWhere(spark, base, v, "k", 20L, 29L)
      .filter(col("k").between(20L, 29L))
      .agg(sum("id")).collect().head.getLong(0) == 7L)
    intercept[IllegalArgumentException](
      DeltaLogReader.filesWhere(spark, base, v, "k", 5L, 4L))
    // the stats JSON carries both bounds objects, escaped per spec
    val v0 = Files.readString(Paths.get(base, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains("""minValues\":{\"k\":10}"""), v0)
    assert(v0.contains("""maxValues\":{\"k\":19}"""), v0)
  }

  test("deleteWhere/update rewrite only affected files and emit consumable CDF") {
    val base = "/tmp/graft_delta_test/dml"
    val W = graft.sources.DeltaLogWriter
    // two files: evens in one, odds in the other
    W.create(spark, spark.createDataFrame(Seq(2L, 4L, 6L).map(Tuple1(_))).toDF("id").coalesce(1),
      base, "t-dml")
    W.append(spark, spark.createDataFrame(Seq(1L, 3L).map(Tuple1(_))).toDF("id").coalesce(1), base)
    val before = DeltaLogReader.snapshotFiles(base, 1L).map(_.path).toSet
    // delete id=4: only the evens file is rewritten
    assert(W.deleteWhere(spark, base, col("id") === 4L) == ((1, 1L)))
    val afterDel = DeltaLogReader.snapshotFiles(base, 2L).map(_.path).toSet
    assert((before -- afterDel).size == 1 && (afterDel -- before).size == 1,
      s"expected exactly one file swapped: $before -> $afterDel")
    assert(DeltaLogReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 12L)
    // update odds: +10 each
    assert(W.update(spark, base, col("id") % 2 === 1L,
      df => df.withColumn("id", col("id") + 10L)) == ((1, 2L)))
    assert(DeltaLogReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 32L)
    // the CDF both DMLs emitted reads back exactly
    val ch = DeltaLogReader.readChanges(spark, base, 2L, 3L)
      .groupBy("_commit_version", "_change_type").agg(sum("id").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set(
      (2L, "delete", 4L),
      (3L, "update_preimage", 4L),    // 1+3
      (3L, "update_postimage", 24L))) // 11+13
    // a predicate matching nothing is a no-op: no commit
    assert(W.deleteWhere(spark, base, col("id") === 999L) == ((0, 0L)))
    assert(DeltaLogReader.latestVersion(base) == 3L)
  }

  test("merge upserts in one commit: matched files rewritten, unseen keys insert, CDF complete") {
    val base = "/tmp/graft_delta_test/merge"
    val W = graft.sources.DeltaLogWriter
    def kv(vals: (Long, Long)*) = spark.createDataFrame(vals).toDF("id", "v").coalesce(1)
    W.create(spark, kv(1L -> 10L, 2L -> 20L), base, "t-merge")
    W.append(spark, kv(5L -> 50L), base)
    // update id=2 (file 1 only), insert id=9 — ONE commit
    assert(W.merge(spark, base, kv(2L -> 99L, 9L -> 90L), "id") == ((1L, 1L)))
    assert(DeltaLogReader.latestVersion(base) == 2L)
    assert(DeltaLogReader.read(spark, base).agg(sum("v")).collect().head.getLong(0)
      == 10L + 99L + 50L + 90L)
    // the untouched second file survived the merge
    assert(DeltaLogReader.snapshotFiles(base, 2L).map(_.path)
      .exists(p => DeltaLogReader.snapshotFiles(base, 1L).map(_.path).contains(p)))
    val ch = DeltaLogReader.readChanges(spark, base, 2L, 2L)
      .groupBy("_change_type").agg(sum("v").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch == Map("update_preimage" -> 20L, "update_postimage" -> 99L, "insert" -> 90L))
    // a merge with nothing to do is rejected, not an empty commit
    intercept[IllegalArgumentException](
      W.merge(spark, base, kv(2L -> 99L).filter(col("id") === 0L), "id"))
  }

  test("partitioned DML: untouched partitions survive by identity; MERGE births a partition") {
    val base = "/tmp/graft_delta_test/pdml"
    val W = graft.sources.DeltaLogWriter
    def rows(vals: (Long, String, Long)*) =
      spark.createDataFrame(vals).toDF("id", "p", "v").coalesce(1)
    W.create(spark, rows((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "b", 40L), (5L, "c", 50L), (6L, "c", 60L)), base, "t-pdml",
      partitionBy = Seq("p"))
    def livePaths(v: Long) = DeltaLogReader.snapshotFiles(base, v).map(_.path).toSet
    def partFiles(v: Long, p: String) = livePaths(v).filter(_.startsWith(s"p=$p/"))
    // DELETE inside partition a: b and c files carried by IDENTITY (no
    // rewrite) — the partition-pruned-DML economics at 100 TB
    assert(W.deleteWhere(spark, base, col("p") === "a" && col("id") === 1L) == ((1, 1L)))
    assert(partFiles(1L, "b") == partFiles(0L, "b"))
    assert(partFiles(1L, "c") == partFiles(0L, "c"))
    assert(partFiles(1L, "a") != partFiles(0L, "a"))
    // the commit's removes touch ONLY partition a
    val v1 = Files.readAllLines(Paths.get(base, "_delta_log", f"${1L}%020d.json"))
    v1.forEach(l => if (l.contains("\"remove\"")) assert(l.contains("p=a"), l))
    // UPDATE inside partition b: a and c untouched
    assert(W.update(spark, base, col("p") === "b" && col("id") === 3L,
      df => df.withColumn("v", col("v") + 100L)) == ((1, 1L)))
    assert(partFiles(2L, "a") == partFiles(1L, "a"))
    assert(partFiles(2L, "c") == partFiles(0L, "c"))
    // MERGE: replace id=4 (partition b) and insert id=9 into a NEW
    // partition z — partition values ride both paths and the log
    assert(W.merge(spark, base, rows((4L, "b", 400L), (9L, "z", 90L)), "id") == ((1L, 1L)))
    assert(partFiles(3L, "c") == partFiles(0L, "c"))
    assert(partFiles(3L, "z").nonEmpty, s"new partition z missing: ${livePaths(3L)}")
    val got = DeltaLogReader.read(spark, base)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("p"), r.getAs[Long]("v"))).toSet
    assert(got == Set((2L, "a", 20L), (3L, "b", 130L), (4L, "b", 400L),
      (5L, "c", 50L), (6L, "c", 60L), (9L, "z", 90L)))
    // an UPDATE that CHANGES the partition value routes the post-image
    // to its new partition directory
    assert(W.update(spark, base, col("id") === 6L,
      df => df.withColumn("p", lit("m"))) == ((1, 1L)))
    assert(partFiles(4L, "m").nonEmpty)
    assert(DeltaLogReader.read(spark, base).filter(col("id") === 6L)
      .select("p").head().getString(0) == "m")
  }

  test("DML keeps rows whose predicate evaluates to NULL (SQL semantics)") {
    val base = "/tmp/graft_delta_test/nullpred"
    // tag is NULL for id=3: DELETE WHERE tag = 'x' must keep it
    val df = spark.createDataFrame(Seq(
      (1L, Option("x")), (2L, Option("y")), (3L, Option.empty[String])))
      .toDF("id", "tag").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, df, base, "t-nullpred")
    val (files, matched) =
      graft.sources.DeltaLogWriter.deleteWhere(spark, base, col("tag") === "x")
    assert(files == 1 && matched == 1L)
    val left = DeltaLogReader.read(spark, base).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(2L, 3L), s"NULL-predicate row dropped: $left")
    // and UPDATE must carry the NULL row forward unmodified
    graft.sources.DeltaLogWriter.update(spark, base, col("tag") === "y",
      d => d.withColumn("id", col("id") + 100))
    val after = DeltaLogReader.read(spark, base).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(3L, 102L), s"update lost the NULL-predicate row: $after")
  }

  test("checkpoint folds metaData + txn + stats: expiry keeps exactly-once, partitions, skipping") {
    val base = "/tmp/graft_delta_test/ckptfold"
    graft.sources.TxnLog.rmrf(base)
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    // two streamed batches establish the txn watermark
    assert(graft.sources.DeltaLogWriter.appendIfAbsent(spark, one(1L, 2L), base, "app", 0L))
    assert(graft.sources.DeltaLogWriter.appendIfAbsent(spark, one(3L), base, "app", 1L))
    graft.sources.DeltaLogWriter.checkpoint(spark, base)
    assert(graft.sources.DeltaLogWriter.expireLog(base) == 1)
    // the watermark survived the expiry: a redelivered batch is skipped
    assert(DeltaLogReader.snapshot(spark, base).txns.get("app").contains(1L))
    assert(!graft.sources.DeltaLogWriter.appendIfAbsent(spark, one(3L), base, "app", 1L))
    assert(DeltaLogReader.read(spark, base).count() == 3L)
    // partitioned table: partitionColumns survive the expiry via the
    // folded metaData (the v0 JSON that declared them is gone)
    val pbase = "/tmp/graft_delta_test/ckptfold_part"
    val pdf = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "p")
    graft.sources.DeltaLogWriter.create(spark, pdf, pbase, "t-cfp", partitionBy = Seq("p"))
    graft.sources.DeltaLogWriter.append(spark,
      spark.createDataFrame(Seq((3L, "a"))).toDF("id", "p"), pbase)
    graft.sources.DeltaLogWriter.checkpoint(spark, pbase)
    graft.sources.DeltaLogWriter.expireLog(pbase)
    assert(DeltaLogReader.snapshot(Some(spark), pbase, 1L).partitionColumns == Seq("p"))
    val got = DeltaLogReader.read(spark, pbase)
    assert(got.columns.contains("p"), s"partition column lost after expiry: ${got.columns.toSeq}")
    assert(got.filter(col("p") === "a").count() == 2L)
    // data-skipping stats fold into the checkpoint add rows
    val sbase = "/tmp/graft_delta_test/ckptfold_stats"
    val s1 = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L))).toDF("y").coalesce(1)
    val s2 = spark.createDataFrame(Seq(Tuple1(10L), Tuple1(11L))).toDF("y").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, s1, sbase, "t-cfs", statsFor = Seq("y"))
    graft.sources.DeltaLogWriter.append(spark, s2, sbase, statsFor = Seq("y"))
    graft.sources.DeltaLogWriter.checkpoint(spark, sbase)
    graft.sources.DeltaLogWriter.expireLog(sbase)
    val planned = DeltaLogReader.filesWhere(spark, sbase, 1L, "y", 10L, 11L)
    assert(planned.size == 1, s"checkpoint-seeded stats did not prune: ${planned.map(_.path)}")
  }

  test("v2 checkpoint: sidecar-seeded snapshots, partitions, txns and DVs survive expiry") {
    val base = "/tmp/graft_delta_test/v2ckpt"
    val W = graft.sources.DeltaLogWriter
    def kv(vals: (Long, String)*) = spark.createDataFrame(vals).toDF("id", "p").coalesce(1)
    // PARTITIONED table + a txn watermark + a DV delete: everything the
    // checkpoint must fold now rides the sidecar/top-level split
    W.create(spark, kv(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"), base,
      "t-v2ck", partitionBy = Seq("p"))
    assert(W.appendIfAbsent(spark, kv(5L -> "c"), base, "appV2", 7L))
    W.deleteWhereDv(spark, base, col("id") === 2L)
    val cv = W.checkpointV2(spark, base)
    assert(cv == 2L)
    // the top-level file is UUID-named and carries no adds; sidecars do
    val dir = Paths.get(base, "_delta_log")
    import scala.jdk.CollectionConverters._
    val top = graft.sources.Fs.list(dir).iterator.map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet")).toSeq
    assert(top.size == 1 && top.head.length > "00000000000000000002.checkpoint.parquet".length, top.toString)
    assert(!spark.read.parquet(s"$base/_delta_log/${top.head}").columns.contains("add"))
    assert(graft.sources.Fs.list(dir.resolve("_sidecars")).iterator.size == 2)
    assert(W.expireLog(base) == 2) // v0, v1 JSON gone
    // snapshot reconstructable ONLY through the sidecars: partition
    // column intact, DV applied, txn watermark still closed
    val got = DeltaLogReader.read(spark, base)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("p"))).toSet
    assert(got == Set((1L, "a"), (3L, "b"), (4L, "b"), (5L, "c")))
    assert(DeltaLogReader.snapshot(spark, base).txns.get("appV2").contains(7L))
    assert(!W.appendIfAbsent(spark, kv(9L -> "z"), base, "appV2", 7L),
      "redelivered batch re-applied after expiry — exactly-once window re-opened")
    // the tail still replays on top of the sidecar seed
    W.append(spark, kv(6L -> "c"), base)
    assert(DeltaLogReader.read(spark, base).count() == 5L)
  }

  test("stats columns: integer types and all-NULL files do not break addActions") {
    val base = "/tmp/graft_delta_test/intstats"
    val df = spark.createDataFrame(Seq((1, Option(5)), (2, Option.empty[Int])))
      .toDF("id", "v").coalesce(1)
    // IntegerType bounds must be cast, not CCE'd
    graft.sources.DeltaLogWriter.create(spark, df, base, "t-int", statsFor = Seq("v"))
    val allNull = spark.createDataFrame(Seq((3, Option.empty[Int]), (4, Option.empty[Int])))
      .toDF("id", "v").coalesce(1)
    // an all-NULL file gets NO bounds (kept by every range read) — not an NPE
    graft.sources.DeltaLogWriter.append(spark, allNull, base, statsFor = Seq("v"))
    val adds = DeltaLogReader.snapshot(Some(spark), base, 1L).adds
    assert(adds.exists(a => a.minValues.get("v").contains(5L)))
    assert(adds.exists(a => a.minValues.isEmpty))
    assert(DeltaLogReader.filesWhere(spark, base, 1L, "v", 100L, 200L).size == 1)
  }

  test("vacuumed log streams through its checkpoint (initial snapshot + tail)") {
    val base = "/tmp/graft_delta_test/vacstream"
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, one(1L, 2L), base, "t-vs")
    graft.sources.DeltaLogWriter.append(spark, one(3L), base)
    graft.sources.DeltaLogWriter.checkpoint(spark, base) // at v1
    graft.sources.DeltaLogWriter.expireLog(base)         // v0 json gone
    graft.sources.DeltaLogWriter.append(spark, one(10L, 11L), base) // v2
    val rows = graft.sources.DeltaStream.actionRowsRange(base, 0L, 2L)
    // offsets <= checkpoint collapse into ONE snapshot batch at v1
    assert(!rows.contains(0L))
    assert(rows(1L).map(_._1).forall(_ == "add") && rows(1L).size == 2)
    assert(rows(1L).map(_._4).sum == 3L, s"snapshot numRecords wrong: ${rows(1L)}")
    assert(rows(2L).size == 1 && rows(2L).head._4 == 2L)
    // a restart asking only for the tail replays it identically
    assert(graft.sources.DeltaStream.actionRowsRange(base, 2L, 2L)(2L) == rows(2L))
    // vacuumed log with the checkpoint REMOVED fails explicitly
    Files.delete(Paths.get(base, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    val e = intercept[Exception](graft.sources.DeltaStream.actionRowsRange(base, 0L, 2L))
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
  }

  test("roaring DV codec: z85 + bitmap round-trips, containers both shapes") {
    import graft.sources.RoaringDv
    // z85 round trip (RFC 32 test vector: "HelloW" is the spec's
    // 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B)
    val rfc = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(RoaringDv.z85Encode(rfc) == "HelloWorld")
    assert(RoaringDv.z85Decode("HelloWorld").toSeq == rfc.toSeq)
    // bitmap round trips: empty, array container, bitmap container
    // (card > 4096 in one 64k chunk), multi-high-word
    val cases = Seq(
      Seq.empty[Long],
      Seq(0L, 1L, 5L, 65535L, 65536L, 100000L),
      (0L until 5000L).map(_ * 2),                    // bitmap container
      Seq(3L, (1L << 32) + 7, (2L << 32) + 9))        // three high words
    cases.foreach { ps =>
      val got = RoaringDv.deserialize(RoaringDv.serialize(ps))
      assert(got == ps.sorted, s"round trip failed for ${ps.take(5)}...")
    }
    // BYTE-pinned interop vector, hand-assembled per the PUBLIC portable
    // formats (so writer/reader bugs can't cancel out): positions
    // {1, 2, 100000} = one 32-bit bitmap, two array containers
    // (key 0 → [1,2]; key 1 → [0x86A0]). Cookie must be
    // SERIAL_COOKIE_NO_RUNCONTAINER = 12346 — real Delta writers emit
    // exactly this; 12347 is the run-capable cookie.
    val pinned = Array[Int](
      0xd1, 0xd3, 0x39, 0x64,                         // magic 1681511377 LE
      0x01, 0, 0, 0, 0, 0, 0, 0,                      // 1 bitmap
      0x3a, 0x30, 0, 0,                               // cookie 12346 LE
      0x02, 0, 0, 0,                                  // 2 containers
      0x00, 0x00, 0x01, 0x00,                         // key 0, card-1 = 1
      0x01, 0x00, 0x00, 0x00,                         // key 1, card-1 = 0
      0x18, 0, 0, 0, 0x1c, 0, 0, 0,                   // offsets 24, 28
      0x01, 0x00, 0x02, 0x00,                         // lows [1, 2]
      0xa0, 0x86                                      // low [34464]
    ).map(_.toByte)
    assert(RoaringDv.serialize(Seq(1L, 2L, 100000L)).toSeq == pinned.toSeq,
      "serialized bytes drifted from the spec-pinned portable format")
    assert(RoaringDv.deserialize(pinned) == Seq(1L, 2L, 100000L))
    // RUN containers (cookie 12347) — hand-assembled per the portable
    // spec. Below NO_OFFSET_THRESHOLD=4 the offset section is OMITTED
    // and containers decode sequentially: 2 containers, container 0
    // run-encoded ({5..8} as run (5, len 3)), container 1 array [1,2].
    val runNoOffsets = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 0x01, 0, 0, 0, 0, 0, 0, 0, // magic + 1 bitmap
      0x3b, 0x30, 0x01, 0x00,   // cookie 12347 | (2-1)<<16
      0x01,                     // run bitset: container 0 is a run
      0x00, 0x00, 0x03, 0x00,   // key 0, card-1 = 3
      0x01, 0x00, 0x01, 0x00,   // key 1, card-1 = 1
      0x01, 0x00,               // container 0: 1 run
      0x05, 0x00, 0x03, 0x00,   //   run start 5, extra length 3 → {5,6,7,8}
      0x01, 0x00, 0x02, 0x00    // container 1: array [1, 2]
    ).map(_.toByte)
    assert(RoaringDv.deserialize(runNoOffsets) ==
      Seq(5L, 6L, 7L, 8L, 65537L, 65538L))
    // at 4+ containers the offset section IS present (offsets from the
    // bitmap's first cookie byte); container 2 is the run here
    val runWithOffsets = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 0x01, 0, 0, 0, 0, 0, 0, 0,
      0x3b, 0x30, 0x03, 0x00,   // cookie 12347 | (4-1)<<16
      0x04,                     // run bitset: container 2 is a run
      0x00, 0x00, 0x00, 0x00,   // key 0, card 1
      0x01, 0x00, 0x00, 0x00,   // key 1, card 1
      0x02, 0x00, 0x02, 0x00,   // key 2, card 3
      0x03, 0x00, 0x00, 0x00,   // key 3, card 1
      37, 0, 0, 0, 39, 0, 0, 0, 41, 0, 0, 0, 47, 0, 0, 0, // offsets
      0x0a, 0x00,               // c0: [10]
      0x14, 0x00,               // c1: [20]
      0x01, 0x00, 0x00, 0x00, 0x02, 0x00, // c2: 1 run, start 0 len 2 → {0,1,2}
      0x07, 0x00                // c3: [7]
    ).map(_.toByte)
    assert(RoaringDv.deserialize(runWithOffsets) ==
      Seq(10L, 65556L, 131072L, 131073L, 131074L, 196615L))
    // a run whose coverage disagrees with the declared cardinality is
    // rejected, not silently trusted
    val badCard = runNoOffsets.clone()
    badCard(19) = 0x05 // card-1 = 5, but the run still covers 4 values
    intercept[IllegalArgumentException](RoaringDv.deserialize(badCard))
  }

  test("a run-encoded DV masks rows through the ordinary read path") {
    val base = mkTable("dvrun")
    writeParquet(base, "a.parquet", (0L to 9L))
    // inline DV: run container masking rows 2..5 (one run, start 2 len 3)
    val payload = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 0x01, 0, 0, 0, 0, 0, 0, 0,
      0x3b, 0x30, 0x00, 0x00,   // cookie 12347 | (1-1)<<16
      0x01,                     // container 0 is a run
      0x00, 0x00, 0x03, 0x00,   // key 0, card-1 = 3
      0x01, 0x00,               // 1 run
      0x02, 0x00, 0x03, 0x00    // start 2, extra length 3 → {2,3,4,5}
    ).map(_.toByte)
    val padded = payload ++ Array.fill((4 - payload.length % 4) % 4)(0.toByte)
    val inline = graft.sources.RoaringDv.z85Encode(padded)
    commit(base, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${payload.length},"cardinality":4}}}""")
    assert(DeltaLogReader.read(spark, base, 0L).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 6L, 7L, 8L, 9L))
  }

  test("deletion vectors: DV delete stacks, time travel intact, guards hold") {
    val base = "/tmp/graft_delta_test/dv"
    val df = spark.createDataFrame(
      (1L to 10L).map(i => (i, if (i % 2 == 0) "even" else "odd")))
      .toDF("id", "par").repartition(2)
    graft.sources.DeltaLogWriter.create(spark, df, base, "t-dv")
    val (f1, n1) = graft.sources.DeltaLogWriter.deleteWhereDv(spark, base, col("id") <= 3)
    assert(n1 == 3L && f1 >= 1)
    // second DV delete STACKS onto the first (positions union)
    val (_, n2) = graft.sources.DeltaLogWriter.deleteWhereDv(spark, base, col("id") <= 5)
    assert(n2 == 2L, s"already-masked rows re-deleted: $n2")
    assert(DeltaLogReader.read(spark, base, 0L).count() == 10L)
    assert(DeltaLogReader.read(spark, base, 1L).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (4L to 10L))
    assert(DeltaLogReader.read(spark, base, 2L).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (6L to 10L))
    // a DV no-op predicate commits nothing
    assert(graft.sources.DeltaLogWriter.deleteWhereDv(spark, base, col("id") > 99) == ((0, 0L)))
    assert(DeltaLogReader.latestVersion(base) == 2L)
    // CDF: each DV commit is represented by its _change_data deletes —
    // NOT by the same-path remove+add pair (which would double-count)
    val cdf = DeltaLogReader.readChanges(spark, base, 1L, 2L)
      .groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cdf == Map(1L -> 3L, 2L -> 2L), s"DV CDF wrong: $cdf")
    // the DV commit upgraded the protocol: a feature-blind assert would
    // have rejected it, ours accepts exactly the supported feature set
    val proto = java.nio.file.Files.readString(
      Paths.get(base, "_delta_log", f"${1L}%020d.json"))
    assert(proto.contains("\"readerFeatures\":[\"deletionVectors\"]"))
    // rewrite ops now COMPOSE with DVs instead of refusing: a CoW
    // DELETE applies the live masks during the rewrite (masked rows
    // must NOT resurrect) and the rewritten files drop their descriptors
    assert(graft.sources.DeltaLogWriter.deleteWhere(spark, base, col("id") === 9L)._2 == 1L)
    assert(DeltaLogReader.read(spark, base, 3L).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(6L, 7L, 8L, 10L))
    // OPTIMIZE packs the live set, materializing any remaining masks —
    // no descriptor survives the rewrite, content identical
    graft.sources.DeltaLogWriter.optimize(spark, base)
    assert(DeltaLogReader.snapshot(Some(spark), base,
      DeltaLogReader.latestVersion(base)).adds.forall(_.dv.isEmpty),
      "OPTIMIZE carried DV descriptors into the packed files")
    // checkpoints FOLD the DV descriptors: a read seeded from the
    // checkpoint still applies the masks after the log is expired
    graft.sources.DeltaLogWriter.checkpoint(spark, base)
    graft.sources.DeltaLogWriter.expireLog(base)
    assert(DeltaLogReader.read(spark, base).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(6L, 7L, 8L, 10L))
  }

  test("schema evolution composes with partitions and DML (survivors keep the new column)") {
    val base = "/tmp/graft_delta_test/evolve_part"
    val W = graft.sources.DeltaLogWriter
    W.create(spark, spark.createDataFrame(Seq(
      (1L, "a", 10L), (2L, "b", 20L), (5L, "b", 50L))).toDF("id", "p", "v")
      .coalesce(1), base, "t-ep", partitionBy = Seq("p"))
    // ADD COLUMN w + new rows, partitioning preserved
    W.appendEvolved(spark, spark.createDataFrame(Seq(
      (3L, "b", 30L, 7L), (4L, "b", 40L, 8L))).toDF("id", "p", "v", "w")
      .coalesce(1), base)
    def rows() = DeltaLogReader.read(spark, base).collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("p"), r.getAs[Long]("v"),
        if (r.isNullAt(r.fieldIndex("w"))) -1L else r.getAs[Long]("w"))).toSet
    assert(rows() == Set((1L, "a", 10L, -1L), (2L, "b", 20L, -1L),
      (5L, "b", 50L, -1L), (3L, "b", 30L, 7L), (4L, "b", 40L, 8L)))
    // DML over the MIXED-footer table: the rewrite must read under the
    // LOG schema — survivor 4 keeps w=8 (a footer-sampled scan could
    // silently drop the column), survivor 5 keeps its NULL
    assert(W.deleteWhere(spark, base, col("id").isin(2L, 3L)) == ((2, 2L)))
    assert(rows() == Set((1L, "a", 10L, -1L), (5L, "b", 50L, -1L), (4L, "b", 40L, 8L)))
    // time travel to v0 answers with the narrow schema
    assert(DeltaLogReader.read(spark, base, 0L).columns.toSet == Set("id", "p", "v"))
  }

  test("REORG PURGE materializes DVs: content identical, no CDF rows, rewrites unblock") {
    val base = "/tmp/graft_delta_test/reorg"
    val W = graft.sources.DeltaLogWriter
    W.create(spark, spark.createDataFrame((1L to 10L).map(i => Tuple1(i))).toDF("id")
      .repartition(2), base, "t-reorg")
    W.deleteWhereDv(spark, base, col("id") <= 3L)                       // v1
    val (pf, pp) = W.reorgPurge(spark, base)                            // v2
    assert(pp == 3L && pf >= 1, s"($pf, $pp)")
    def ids(v: Long) = DeltaLogReader.read(spark, base, v)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(DeltaLogReader.snapshot(Some(spark), base, 2L).adds.forall(_.dv.isEmpty),
      "purge left DV descriptors live")
    assert(ids(2L) == (4L to 10L))
    assert(ids(1L) == (4L to 10L) && ids(0L) == (1L to 10L), "time travel broke")
    // the purge commit is dataChange=false end to end: CDF over it alone
    // has NOTHING to report
    intercept[IllegalArgumentException](
      DeltaLogReader.readChanges(spark, base, 2L, 2L))
    // idempotent: nothing left to purge
    assert(W.reorgPurge(spark, base) == ((0, 0L)))
    // rewrite-based ops compose again post-purge (they refuse DV tables)
    assert(W.deleteWhere(spark, base, col("id") === 9L)._2 == 1L)       // v3
    assert(ids(3L) == Seq(4L, 5L, 6L, 7L, 8L, 10L))
  }

  test("unknown reader features still rejected; inline + absolute-path DVs readable") {
    val base = mkTable("dvinline")
    writeParquet(base, "a.parquet", Seq(1L, 2L, 3L, 4L))
    // inline DV ('i'): z85 of the 4-byte-padded payload masking row 1
    val payload = graft.sources.RoaringDv.serialize(Seq(1L))
    val padded = payload ++ Array.fill((4 - payload.length % 4) % 4)(0.toByte)
    val inline = graft.sources.RoaringDv.z85Encode(padded)
    commit(base, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${payload.length},"cardinality":1}}}""")
    assert(DeltaLogReader.read(spark, base, 0L).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    // a feature outside the supported set still fails fast
    val bad = mkTable("dvbad")
    commit(bad, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","icebergCompatV9"]}}""",
      """{"add":{"path":"x.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e = intercept[IllegalArgumentException](DeltaLogReader.snapshotFiles(bad, 0))
    assert(e.getMessage.contains("icebergCompatV9"), e.getMessage)
  }

  test("column mapping: physical names in files, logical in the log, rename is metadata-only") {
    val base = "/tmp/graft_delta_test/colmap"
    val df = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "tag")
    graft.sources.DeltaLogWriter.createColumnMapped(spark, df.coalesce(1), base, "t-cm")
    // the parquet files really carry physical names
    val adds = DeltaLogReader.snapshot(Some(spark), base, 0L).adds
    val raw = spark.read.parquet(s"$base/${adds.head.path}")
    assert(raw.columns.toSet == Set("col-1", "col-2"), raw.columns.toSeq.toString)
    // the mapped read surfaces logical names
    val v0 = DeltaLogReader.read(spark, base, 0L)
    assert(v0.columns.toSeq == Seq("id", "tag"))
    assert(v0.filter(col("tag") === "b").head().getLong(0) == 2L)
    // rename: metaData-only commit, no new data files
    val filesBefore = DeltaLogReader.snapshot(Some(spark), base, 0L).adds.map(_.path)
    graft.sources.DeltaLogWriter.renameColumn(spark, base, "tag", "label")
    assert(DeltaLogReader.snapshot(Some(spark), base, 1L).adds.map(_.path) == filesBefore)
    val v1 = DeltaLogReader.read(spark, base, 1L)
    assert(v1.columns.toSeq == Seq("id", "label"))
    // time travel still answers with the OLD logical name
    assert(DeltaLogReader.read(spark, base, 0L).columns.toSeq == Seq("id", "tag"))
    // renaming a non-mapped table is refused
    val plain = "/tmp/graft_delta_test/colmap_plain"
    graft.sources.DeltaLogWriter.create(spark, df.coalesce(1), plain, "t-plain")
    intercept[IllegalArgumentException](
      graft.sources.DeltaLogWriter.renameColumn(spark, plain, "tag", "label"))
  }

  test("plan pins: DV reads mask inside the scan (no join); colmap filters push down") {
    // DV read: the mask applies as one row-index filter over the
    // ordinary parquet scan — no join, no exchange, no broadcast of
    // exploded positions
    val dvBase = "/tmp/graft_delta_test/dvplan"
    val df = spark.createDataFrame((1L to 8L).map(Tuple1(_))).toDF("id").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, df, dvBase, "t-dvplan")
    graft.sources.DeltaLogWriter.deleteWhereDv(spark, dvBase, col("id") <= 2)
    val dvRead = DeltaLogReader.read(spark, dvBase)
    val dvPlan = dvRead.queryExecution.executedPlan.toString
    assert(dvPlan.contains("unmasked(") && dvPlan.contains("FileScan parquet"), dvPlan)
    assert(!dvPlan.contains("Join") && !dvPlan.contains("Exchange"), dvPlan)
    assert(dvRead.collect().map(_.getLong(0)).sorted.toSeq == (3L to 8L))
    // column mapping: a filter on the LOGICAL name must reach the
    // parquet source as a pushed filter on the PHYSICAL column
    val cmBase = "/tmp/graft_delta_test/cmplan"
    val cdf = spark.createDataFrame(Seq((1L, 5L), (2L, 9L))).toDF("id", "score").coalesce(1)
    graft.sources.DeltaLogWriter.createColumnMapped(spark, cdf, cmBase, "t-cmplan")
    val q = DeltaLogReader.read(spark, cmBase).filter(col("score") > 6)
    val scanLine = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("col-2"), s"logical filter not pushed to the physical column: $scanLine")
  }

  test("CHECK constraints: NULL fails closed, violating batches leave nothing on disk") {
    import graft.sources.{DeltaLogWriter => W}
    val base = "/tmp/graft_delta_test/chk"
    val df = spark.createDataFrame(Seq((1L, Option(5L)), (2L, Option(7L))))
      .toDF("id", "v").coalesce(1)
    W.create(spark, df, base, "t-chk")
    // existing-row violations refuse the ADD itself
    intercept[IllegalArgumentException](W.addConstraint(spark, base, "big", "v > 100"))
    W.addConstraint(spark, base, "v_pos", "v > 0")
    // a NULL v evaluates the predicate to NULL — fails CLOSED
    val withNull = spark.createDataFrame(Seq((3L, Option.empty[Long])))
      .toDF("id", "v").coalesce(1)
    val filesBefore = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
      .filter(p => p.toString.endsWith(".parquet")).count()
    intercept[IllegalArgumentException](W.append(spark, withNull, base))
    val filesAfter = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(filesAfter == filesBefore, "aborted append staged data files")
    // valid appends still pass; the constraint protocol bump landed
    W.append(spark, spark.createDataFrame(Seq((4L, Option(9L)))).toDF("id", "v").coalesce(1), base)
    assert(DeltaLogReader.read(spark, base).count() == 3L)
    val proto = java.nio.file.Files.readString(
      Paths.get(base, "_delta_log", f"${1L}%020d.json"))
    assert(proto.contains("\"minWriterVersion\":3"), proto)
  }

  test("checkpoint folds the REAL protocol + configuration: features and constraints survive expiry") {
    import graft.sources.{DeltaLogWriter => W}
    // (a) constraints: after checkpoint + expireLog the metaData JSON
    // that declared them is gone — the checkpoint's folded
    // configuration must still enforce them and keep minWriterVersion 3
    val base = "/tmp/graft_delta_test/ckpt_conf"
    val df = spark.createDataFrame(Seq((1L, 5L), (2L, 7L))).toDF("id", "v").coalesce(1)
    W.create(spark, df, base, "t-ckpt-conf")
    W.addConstraint(spark, base, "v_pos", "v > 0")
    W.append(spark, spark.createDataFrame(Seq((3L, 9L))).toDF("id", "v").coalesce(1), base)
    W.checkpoint(spark, base)
    W.expireLog(base)
    assert(DeltaLogReader.snapshot(spark, base).constraints == Map("v_pos" -> "v > 0"),
      "constraint lost across checkpoint+expiry")
    intercept[IllegalArgumentException](W.append(spark,
      spark.createDataFrame(Seq((4L, -1L))).toDF("id", "v").coalesce(1), base))
    W.append(spark, spark.createDataFrame(Seq((5L, 2L))).toDF("id", "v").coalesce(1), base)
    assert(DeltaLogReader.read(spark, base).count() == 4L)
    // (b) protocol: a DV table's checkpoint must advertise
    // minReaderVersion 3 + readerFeatures, not a hardcoded (1, 2) —
    // else feature-blind external readers scan raw and resurrect rows
    val dvb = "/tmp/graft_delta_test/ckpt_proto"
    W.create(spark, spark.createDataFrame((1L to 6L).map(Tuple1(_))).toDF("id")
      .coalesce(1), dvb, "t-ckpt-proto")
    W.deleteWhereDv(spark, dvb, col("id") <= 2)
    val cv = W.checkpoint(spark, dvb)
    val cp = spark.read.parquet(
      s"$dvb/_delta_log/${f"$cv%020d"}.checkpoint.parquet")
    val prow = cp.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.readerFeatures").head()
    assert(prow.getInt(0) == 3, s"checkpoint protocol downgraded: $prow")
    assert(prow.getSeq[String](1) == Seq("deletionVectors"), prow.toString)
    // and the folded configuration column exists (empty map here)
    assert(cp.columns.contains("metaData"))
    W.expireLog(dvb)
    assert(DeltaLogReader.read(spark, dvb).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (3L to 6L))
  }

  test("writer refuses to overwrite an already-committed version") {
    val base = "/tmp/graft_delta_test/writer_clash"
    val df = spark.createDataFrame(Seq(1L).map(Tuple1(_))).toDF("id")
    graft.sources.DeltaLogWriter.create(spark, df, base, "t-clash")
    // a racing writer committing the SAME version must fail, not
    // clobber — the spec's mutual-exclusion point (CREATE_NEW)
    intercept[java.nio.file.FileAlreadyExistsException](
      graft.sources.DeltaLogWriter.commit(base, 0L,
        Seq("""{"commitInfo":{"operation":"RACER"}}""")))
  }

  test("generated columns: computed when absent, validated when provided, divergence aborts") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("gen")
    graft.sources.TxnLog.rmrf(base)
    val src = spark.range(0, 20).select(col("id"), (col("id") * 10).as("v"))
    W.createGenerated(spark, src, base, "t-gen", Seq("b" -> "id % 3"))
    // the schemaString carries the spec's metadata key
    val meta = DeltaLogReader.read(spark, base).schema  // values exist
    assert(DeltaLogReader.read(spark, base)
      .filter(col("b") =!= col("id") % 3).count() == 0L)
    // absent → computed
    W.append(spark, spark.range(20, 30).select(col("id"), (col("id") * 10).as("v")), base)
    assert(DeltaLogReader.read(spark, base)
      .filter(col("b") =!= col("id") % 3).count() == 0L)
    // provided and CORRECT → accepted
    W.append(spark, spark.range(30, 35).select(col("id"), (col("id") * 10).as("v"),
      (col("id") % 3).as("b")), base)
    // provided and WRONG → the whole batch aborts, nothing committed
    val before = DeltaLogReader.latestVersion(base)
    val e = intercept[IllegalArgumentException](
      W.append(spark, spark.range(35, 40).select(col("id"), (col("id") * 10).as("v"),
        lit(99L).as("b")), base))
    assert(e.getMessage.contains("generated column"))
    assert(DeltaLogReader.latestVersion(base) == before)
    assert(DeltaLogReader.read(spark, base).count() == 35L)
    assert(meta.fieldNames.contains("b"))
  }

  test("identity column: HWM rides the schema, explicit ids and plain append refuse") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("ident")
    graft.sources.TxnLog.rmrf(base)
    val src = spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"))
    W.createIdentity(spark, src, base, "t-id", "sk", 5L, 10L, Seq("id"))
    val v0 = DeltaLogReader.read(spark, base)
    // ids are 5, 15, ..., 95 in id order
    assert(v0.agg(min("sk"), max("sk")).head().toSeq == Seq(5L, 95L))
    assert(v0.filter(col("sk") =!= col("id") * 10 + 5).count() == 0L)
    // append continues ABOVE the high-water mark
    W.appendIdentity(spark, spark.range(10, 15).select(col("id"), (col("id") * 2).as("v")),
      base, Seq("id"))
    val v1 = DeltaLogReader.read(spark, base)
    assert(v1.agg(max("sk")).head().getLong(0) == 145L)
    assert(v1.select("sk").distinct().count() == 15L)
    // a batch bringing its own ids refuses (allowExplicitInsert=false)
    val e1 = intercept[IllegalArgumentException](
      W.appendIdentity(spark, spark.range(15, 16).select(col("id"),
        (col("id") * 2).as("v"), lit(999L).as("sk")), base, Seq("id")))
    assert(e1.getMessage.contains("writer-assigned"))
    // plain append cannot silently skip assignment
    val e2 = intercept[IllegalArgumentException](
      W.append(spark, spark.range(16, 17).select(col("id"), (col("id") * 2).as("v")), base))
    assert(e2.getMessage.contains("appendIdentity"))
    // overwrite would reassign — refused
    val e3 = intercept[IllegalArgumentException](
      W.overwrite(spark, src, base))
    assert(e3.getMessage.contains("identity"))
  }

  test("type widening: metadata-only, upcast reads, guards refuse lossy changes") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("widen")
    graft.sources.TxnLog.rmrf(base)
    W.create(spark, spark.range(0, 10).select(col("id"),
      col("id").cast("int").as("q"), col("id").cast("int").as("r")), base, "t-w")
    import scala.jdk.CollectionConverters._
    def partFiles() = graft.sources.Fs.list(Paths.get(base)).iterator
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val filesBefore = partFiles()
    W.widenColumnType(spark, base, "q", "BIGINT")
    // not one data byte moved
    val filesAfter = partFiles()
    assert(filesBefore == filesAfter)
    // the declared type widened; old int32 files upcast through the scan
    val df = DeltaLogReader.read(spark, base)
    assert(df.schema("q").dataType.typeName == "long")
    assert(df.agg(sum("q")).head().getLong(0) == 45L)
    // post-widening appends can hold values only a LONG fits
    W.append(spark, spark.range(10, 12).select(col("id"),
      (col("id") + 3000000000L).as("q"), col("id").cast("int").as("r")), base)
    assert(DeltaLogReader.read(spark, base).agg(max("q")).head().getLong(0) ==
      3000000011L)
    // time travel reads v0 under ITS schema (int)
    assert(DeltaLogReader.read(spark, base, 0L).schema("q").dataType.typeName ==
      "integer")
    // narrowing and sideways changes refuse
    intercept[IllegalArgumentException](W.widenColumnType(spark, base, "q", "INT"))
    intercept[IllegalArgumentException](W.widenColumnType(spark, base, "r", "STRING"))
    // a feature-blind reader would mis-type old files — the protocol says so
    val proto = DeltaLogReader.snapshot(spark, base).protocol
    assert(proto.readerFeatures.contains("typeWidening") &&
      proto.writerFeatures.contains("typeWidening"))
  }

  test("overwrite: one remove-all+add commit, time travel intact, CDF derives delete+insert") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("ow")
    graft.sources.TxnLog.rmrf(base)
    W.create(spark, spark.range(0, 10).select(col("id"), (col("id") % 3).as("x")),
      base, "t-ow")
    W.append(spark, spark.range(10, 15).select(col("id"), (col("id") % 3).as("x")), base)
    W.overwrite(spark, spark.range(100, 104).select(col("id"), lit(7L).as("x")), base)
    assert(DeltaLogReader.read(spark, base).count() == 4L)
    assert(DeltaLogReader.read(spark, base, 1L).count() == 15L)
    // CDF derivation: the overwrite commit reads as 15 deletes + 4 inserts
    val cdf = DeltaLogReader.readChanges(spark, base, 2L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdf == Map("delete" -> 15L, "insert" -> 4L), cdf.toString)
  }

  test("DROP COLUMN: mapped-only, re-ADD mints a fresh id — no resurrection") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("dropcol")
    graft.sources.TxnLog.rmrf(base)
    W.createColumnMapped(spark,
      spark.range(0, 10).select(col("id"), (col("id") * 7).as("x")), base, "t-drop")
    W.dropColumn(spark, base, "x")
    val after = DeltaLogReader.read(spark, base)
    assert(after.columns.toSeq == Seq("id"))
    // re-ADD the same NAME: fresh physical id — the old x bytes stay
    // buried, the new column reads NULL everywhere
    W.addColumn(spark, base, "x", "BIGINT")
    val readd = DeltaLogReader.read(spark, base)
    assert(readd.columns.toSeq == Seq("id", "x"))
    assert(readd.filter(col("x").isNotNull).count() == 0L,
      "re-added column resurrected dropped bytes")
    // unmapped tables refuse (re-addition would resurrect)
    val plain = mkTable("dropcol_plain")
    graft.sources.TxnLog.rmrf(plain)
    W.create(spark, spark.range(0, 5).select(col("id"), col("id").as("x")),
      plain, "t-drop-plain")
    val e = intercept[IllegalArgumentException](W.dropColumn(spark, plain, "x"))
    assert(e.getMessage.contains("column mapping"), e.getMessage)
  }

  test("overwrite × CDF × DVs: derived deletes read under the prior DV masks") {
    val W = graft.sources.DeltaLogWriter
    val base = mkTable("owdv")
    graft.sources.TxnLog.rmrf(base)
    W.create(spark, spark.range(0, 20).select(col("id"), (col("id") % 3).as("x")),
      base, "t-owdv", extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    // v1: DV-delete 5 rows — they are GONE, and must not resurrect as
    // deletes when the overwrite removes their carrier file
    W.deleteWhereDv(spark, base, col("id") < 5)
    assert(DeltaLogReader.read(spark, base).count() == 15L)
    // v2: overwrite on the CDF+DV table (the r12 refusal, now served)
    W.overwrite(spark, spark.range(100, 104).select(col("id"), lit(7L).as("x")), base)
    assert(DeltaLogReader.read(spark, base).count() == 4L)
    // the overwrite's CDF reports exactly the 15 MASKED-LIVE rows as
    // deletes (not the 20 raw rows of the removed file) + 4 inserts
    val cdf = DeltaLogReader.readChanges(spark, base, 2L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdf == Map("delete" -> 15L, "insert" -> 4L), cdf.toString)
    // and the deleted pre-images are the surviving ids, not the masked ones
    val delIds = DeltaLogReader.readChanges(spark, base, 2L, 2L)
      .filter(col("_change_type") === "delete")
      .agg(min("id"), max("id")).head()
    assert(delIds.getLong(0) == 5L && delIds.getLong(1) == 19L)
  }

  test("DV-masked reads from 8 threads on one session agree") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import graft.sources.{DeltaLogWriter => W}
    val base = "/tmp/graft_delta_test/dv_threads"
    W.create(spark, spark.range(1, 101).toDF("id").repartition(4), base, "t-dv-mt")
    W.deleteWhereDv(spark, base, col("id") % 7 === 0)
    val expected = (1L to 100L).filterNot(_ % 7 == 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val reads = (1 to 8).map(_ => Future {
        val r = DeltaLogReader.read(spark, base).agg(count(lit(1)), sum("id")).head()
        (r.getLong(0), r.getLong(1))
      })
      reads.map(Await.result(_, Duration(300, "s"))).foreach { got =>
        assert(got == ((expected.size.toLong, expected.sum)))
      }
    } finally pool.shutdown()
  }

  test("a checkpoint rebuilt at the same path and version is decoded afresh") {
    import graft.sources.{DeltaLogWriter => W}
    val base = "/tmp/graft_delta_test/ckpt_identity"
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    // checkpoint at v1 and expire v0: every later read seeds from it
    def build(first: Seq[Long], second: Seq[Long]): Long = {
      graft.sources.TxnLog.rmrf(base)
      W.create(spark, one(first: _*), base, "t-ckid")
      W.append(spark, one(second: _*), base)
      val cv = W.checkpoint(spark, base)
      W.expireLog(base)
      cv
    }
    def state(v: Long) = {
      val adds = DeltaLogReader.snapshot(Some(spark), base, v).adds
      val ids = DeltaLogReader.read(spark, base, v).collect().map(_.getLong(0)).sorted.toSeq
      (adds.map(_.numRecords).sum, ids)
    }
    val v = build(Seq(1L, 2L), Seq(3L))
    assert(state(v) == ((3L, Seq(1L, 2L, 3L))))
    assert(build(Seq(10L, 20L, 30L, 40L), Seq(50L, 60L)) == v)
    assert(state(v) == ((6L, Seq(10L, 20L, 30L, 40L, 50L, 60L))))
  }

  test("checkpoint-seeded snapshots and reads from 8 threads agree with the sequential ones") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import graft.sources.{DeltaLogWriter => W}
    val base = "/tmp/graft_delta_test/ckpt_threads"
    graft.sources.TxnLog.rmrf(base)
    W.create(spark, spark.range(0, 40).toDF("id").repartition(4), base, "t-ck-mt")
    W.append(spark, spark.range(40, 60).toDF("id").coalesce(1), base)
    W.checkpoint(spark, base)
    W.append(spark, spark.range(60, 70).toDF("id").coalesce(1), base)
    val v = DeltaLogReader.latestVersion(base)
    def resolve() = (DeltaLogReader.snapshot(Some(spark), base, v).adds,
      DeltaLogReader.read(spark, base, v).collect().map(_.getLong(0)).sorted.toSeq)
    // the threads race the checkpoint's first decode; the sequential
    // resolution runs after them
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val racing = (1 to 8).map(_ => Future { start.await(); resolve() })
      start.countDown()
      val got = racing.map(Await.result(_, Duration(300, "s")))
      val expected = resolve()
      assert(expected._2 == (0L until 70L))
      got.foreach(g => assert(g == expected))
    } finally pool.shutdown()
  }

  test("the checkpoint seed and the fold from v0 give the same snapshot at every version, also after expireLog") {
    import graft.sources.{DeltaLogWriter => W}
    val base = "/tmp/graft_delta_test/seed_diff"
    graft.sources.TxnLog.rmrf(base)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      when(col("id") % 2 === 0, "even").otherwise("odd").as("p"),
      (col("id") % 7).as("x"), (col("id") % 5).as("y"), (col("id") * 10).as("v"))
    // every fact the fold carries: partition column, clustering domain,
    // column mapping and row tracking (v0), a CHECK constraint (v1), a
    // txn watermark (v2), a DV delete and its protocol upgrade (v3)
    W.createComposed(spark, rows(0, 40).repartition(2), base, "seed-diff",
      partitionBy = Seq("p"), clusterCols = Seq("x", "y"),
      columnMapped = true, rowTracked = true, statsFor = Seq("x", "y"))
    W.addConstraint(spark, base, "v_nonneg", "v >= 0")
    assert(W.appendIfAbsent(spark, rows(40, 50).coalesce(1), base, "app", 0L))
    W.deleteWhereDv(spark, base, col("id") % 10 === 3)
    val ckpt = W.checkpoint(spark, base)
    // the JSON tail after the checkpoint moves the same facts again
    assert(W.appendIfAbsent(spark, rows(50, 60).coalesce(1), base, "app", 1L))
    W.deleteWhereDv(spark, base, col("id") % 10 === 4)
    W.append(spark, rows(60, 70).coalesce(1), base)
    val latest = DeltaLogReader.latestVersion(base)
    // without a session the same fold starts from v0 (the empty seed)
    val fromV0 = (ckpt to latest).map(v => v -> DeltaLogReader.snapshot(None, base, v)).toMap
    val last = fromV0(latest)
    assert(last.partitionColumns == Seq("p") && last.clusteringColumns == Seq("x", "y"))
    assert(last.mappedSchema.isDefined && last.rowTrackingCols.isDefined)
    assert(last.rowIdHighWaterMark.contains(69L))
    assert(last.constraints == Map("v_nonneg" -> "v >= 0") && last.txns == Map("app" -> 1L))
    assert(last.protocol.readerFeatures.contains("deletionVectors"))
    assert(last.adds.count(_.dv.isDefined) >= 2)
    def assertSeededEqual(): Unit = (ckpt to latest).foreach { v =>
      val seeded = DeltaLogReader.snapshot(Some(spark), base, v)
      val full = fromV0(v)
      assert(seeded.protocol == full.protocol, s"v$v protocol")
      assert(seeded.meta == full.meta, s"v$v metaData")
      assert(seeded.txns == full.txns, s"v$v txns")
      assert(seeded.domains == full.domains, s"v$v domains")
      assert(seeded.adds == full.adds, s"v$v adds")
      assert(seeded == full, s"v$v snapshot")
    }
    assertSeededEqual()
    assert(W.expireLog(base) == ckpt.toInt)
    assertSeededEqual()
    // a session-less fold of the vacuumed log asks for the checkpoint
    val e = intercept[IllegalArgumentException](DeltaLogReader.snapshot(None, base, latest))
    assert(e.getMessage.contains("pass a SparkSession"))
  }
}
