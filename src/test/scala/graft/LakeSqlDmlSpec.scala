package graft

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLogReader, DeltaLogWriter}

/** Pure-SQL row-level DML against catalog Delta tables — the
  * SupportsRowLevelOperations (delta-based) + SupportsDelete surface:
  * DELETE / UPDATE / MERGE as SQL TEXT, graded against the same state
  * the Scala writers would produce, with CDF censused. */
class LakeSqlDmlSpec extends SparkSpec {

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_sqldml_test/$name"
    graft.sources.TxnLog.rmrf(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "db"))
    root
  }

  private def cat(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  private def plane() = spark.range(0, 100).select(
    col("id"), (col("id") % 7).as("x"),
    when(col("id") % 2 === 0, "even").otherwise("odd").as("p"))

  test("SQL DELETE: simple predicate goes metadata-only (DVs), table state + CDF right") {
    val root = freshRoot("del")
    val base = s"$root/db/t"
    DeltaLogWriter.create(spark, plane().repartition(2), base, "t",
      extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    cat("sqldml_del", root)
    spark.sql("DELETE FROM sqldml_del.db.t WHERE id < 10")
    val after = DeltaLogReader.read(spark, base)
    assert(after.count() == 90L)
    assert(after.agg(min("id")).head().getLong(0) == 10L)
    // metadata-only: the delete staged NO new data files, only DV sidecars
    val adds = DeltaLogReader.snapshot(Some(spark), base,
      DeltaLogReader.latestVersion(base)).adds
    assert(adds.forall(_.path.startsWith("v0-")), adds.map(_.path))
    assert(adds.exists(_.dv.nonEmpty))
    // CDF reports exactly the 10 deleted rows
    val ch = DeltaLogReader.readChanges(spark, base, 1L, 1L)
    assert(ch.filter(col("_change_type") === "delete").count() == 10L)
    assert(ch.count() == 10L)
  }

  test("SQL UPDATE: DVs + changed-row files, CDF pre/post images") {
    val root = freshRoot("upd")
    val base = s"$root/db/t"
    DeltaLogWriter.create(spark, plane().repartition(2), base, "t",
      extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    cat("sqldml_upd", root)
    spark.sql("UPDATE sqldml_upd.db.t SET x = x + 100 WHERE id >= 90")
    val after = DeltaLogReader.read(spark, base)
    assert(after.count() == 100L)
    assert(after.filter(col("x") >= 100).count() == 10L)
    assert(after.filter(col("id") >= 90 && col("x") < 100).count() == 0L)
    // sum check: each of the 10 rows gained exactly +100
    assert(after.agg(sum("x")).head().getLong(0) ==
      plane().agg(sum("x")).head().getLong(0) + 1000L)
    // CDF: 10 pre + 10 post images, pairable by id
    val ch = DeltaLogReader.readChanges(spark, base, 1L, 1L)
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 10L)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 10L)
    val delta = ch.groupBy("id").agg(
      (max(when(col("_change_type") === "update_postimage", col("x"))) -
        max(when(col("_change_type") === "update_preimage", col("x")))).as("dx"))
    assert(delta.filter(col("dx") =!= 100).count() == 0L)
    // untouched rows were NOT rewritten: original files still live
    val adds = DeltaLogReader.snapshot(Some(spark), base,
      DeltaLogReader.latestVersion(base)).adds
    assert(adds.count(_.path.startsWith("v0-")) == 2, adds.map(_.path))
  }

  test("SQL MERGE: all three clause kinds in one statement, CDF censused") {
    val root = freshRoot("merge")
    val base = s"$root/db/t"
    DeltaLogWriter.create(spark, plane().coalesce(1), base, "t",
      extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    cat("sqldml_mrg", root)
    // source: ids 90..109 → 90..94 delete, 95..109 upsert (95..99
    // update, 100..109 insert)
    spark.range(90, 110).select(col("id"), lit(555L).as("x"),
      lit("src").as("p")).createOrReplaceTempView("mrg_src")
    spark.sql("""
      MERGE INTO sqldml_mrg.db.t AS t USING mrg_src AS s ON t.id = s.id
      WHEN MATCHED AND s.id < 95 THEN DELETE
      WHEN MATCHED THEN UPDATE SET x = s.x, p = s.p
      WHEN NOT MATCHED THEN INSERT (id, x, p) VALUES (s.id, s.x, s.p)
    """)
    val after = DeltaLogReader.read(spark, base)
    assert(after.count() == 105L) // 100 - 5 deleted + 10 inserted
    assert(after.filter(col("id").between(90, 94)).count() == 0L)
    assert(after.filter(col("p") === "src").count() == 15L)
    assert(after.filter(col("x") === 555).count() == 15L)
    val ch = DeltaLogReader.readChanges(spark, base, 1L, 1L)
    assert(ch.filter(col("_change_type") === "delete").count() == 5L)
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 5L)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 5L)
    assert(ch.filter(col("_change_type") === "insert").count() == 10L)
    // a second MERGE composes over the DVs the first one laid down
    spark.range(10, 12).select(col("id"), lit(7L).as("x"), lit("z").as("p"))
      .createOrReplaceTempView("mrg_src2")
    spark.sql("""
      MERGE INTO sqldml_mrg.db.t AS t USING mrg_src2 AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET p = s.p
    """)
    assert(DeltaLogReader.read(spark, base).filter(col("p") === "z").count() == 2L)
  }

  test("SQL UPDATE + MERGE on a HIVE-PARTITIONED table: per-partition staging") {
    val root = freshRoot("part")
    val base = s"$root/db/pt"
    DeltaLogWriter.createComposed(spark, plane().repartition(2), base, "pt",
      partitionBy = Seq("p"))
    cat("sqldml_pt", root)
    spark.sql("UPDATE sqldml_pt.db.pt SET x = x + 50 WHERE id BETWEEN 40 AND 49")
    val after = DeltaLogReader.read(spark, base)
    assert(after.count() == 100L)
    assert(after.agg(sum("x")).head().getLong(0) ==
      plane().agg(sum("x")).head().getLong(0) + 500L)
    // staged files live in their hive dirs and carry partitionValues —
    // a partition-pruned read sees the updated rows
    val adds = DeltaLogReader.snapshot(Some(spark), base,
      DeltaLogReader.latestVersion(base)).adds
    val staged = adds.filter(_.path.contains("dml-"))
    assert(staged.nonEmpty && staged.forall(a =>
      a.path.startsWith("p=even/") || a.path.startsWith("p=odd/")), staged.map(_.path))
    assert(after.filter(col("p") === "even" && col("x") >= 50).count() == 5L)
    // MERGE births rows into both partitions
    spark.range(200, 204).select(col("id"), lit(7L).as("x"),
      when(col("id") % 2 === 0, "even").otherwise("odd").as("p"))
      .createOrReplaceTempView("pt_src")
    spark.sql("""
      MERGE INTO sqldml_pt.db.pt AS t USING pt_src AS s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, x, p) VALUES (s.id, s.x, s.p)
    """)
    val m = DeltaLogReader.read(spark, base)
    assert(m.count() == 104L)
    assert(m.filter(col("id") >= 200 && col("p") === "even").count() == 2L)
  }

  test("SQL UPDATE on a COLUMN-MAPPED table: physical names + field ids staged") {
    val root = freshRoot("cm")
    val base = s"$root/db/cm"
    DeltaLogWriter.createComposed(spark, plane().coalesce(1), base, "cm",
      columnMapped = true)
    // a RENAME first — the DML must bind the user's NEW spelling while
    // staging under the stable physical name
    DeltaLogWriter.renameColumn(spark, base, "x", "septile")
    cat("sqldml_cm", root)
    spark.sql("UPDATE sqldml_cm.db.cm SET septile = septile + 100 WHERE id >= 95")
    val after = DeltaLogReader.read(spark, base)
    assert(after.count() == 100L)
    assert(after.filter(col("septile") >= 100).count() == 5L)
    assert(after.agg(sum("septile")).head().getLong(0) ==
      plane().agg(sum("x")).head().getLong(0) + 500L)
    // the staged file carries PHYSICAL columns with embedded field ids
    // (the id-bound reader can bind it), not the logical spellings
    val staged = DeltaLogReader.snapshot(Some(spark), base,
      DeltaLogReader.latestVersion(base)).adds.filter(_.path.contains("dml-"))
    assert(staged.nonEmpty)
    val cols = spark.read.parquet(s"$base/${staged.head.path}").columns.toSeq
    assert(cols.forall(_.startsWith("col-")), cols)
    DeltaLogReader.assertEmbeddedIds(spark, s"$base/${staged.head.path}")
    // and a second DML composes over the staged file + DVs
    spark.sql("DELETE FROM sqldml_cm.db.cm WHERE septile >= 100")
    assert(DeltaLogReader.read(spark, base).count() == 95L)
  }

  test("SQL UPDATE + MERGE on a ROW-TRACKED table: stable ids, fresh inserts") {
    val root = freshRoot("rt")
    val base = s"$root/db/rt"
    DeltaLogWriter.createComposed(spark, plane().coalesce(2), base, "rt",
      rowTracked = true)
    cat("sqldml_rt", root)
    val ids0 = DeltaLogReader.readRowIds(spark, base, 0L)
      .select(col("id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hwm0 = ids0.values.max
    spark.sql("UPDATE sqldml_rt.db.rt SET x = x + 100 WHERE id % 10 = 3")
    spark.range(0, 4)
      .select((col("id") * 2 + 96).as("id"), lit(55L).as("x"), lit("new").as("p"))
      .createOrReplaceTempView("sqldml_rt_src")
    // keys 96, 98 match (update); 100, 102 are new (insert)
    spark.sql("""MERGE INTO sqldml_rt.db.rt AS t USING sqldml_rt_src AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET x = s.x
      WHEN NOT MATCHED THEN INSERT (id, x, p) VALUES (s.id, s.x, s.p)""")
    val after = DeltaLogReader.readRowIds(spark, base,
      DeltaLogReader.latestVersion(base))
      .select(col("id"), col("x"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(after.length == 102)
    assert(after.map(_._3).distinct.length == 102, "row ids must be unique")
    // every pre-existing row — updated or untouched — keeps its id
    after.filter(_._1 < 100).foreach { case (id, _, rid, _) =>
      assert(rid == ids0(id), s"row $id id drifted: ${ids0(id)} -> $rid")
    }
    // inserted rows take fresh ids above the old high-water mark
    after.filter(_._1 >= 100).foreach { case (id, x, rid, ver) =>
      assert(rid > hwm0, s"insert $id got a recycled id $rid")
      assert(x == 55L && ver == 2L)
    }
    // updated rows carry the DML's own commit version
    after.filter(t => t._1 % 10 == 3).foreach { case (id, x, _, ver) =>
      assert(x == id % 7 + 100 && ver == 1L, s"row $id: x=$x ver=$ver")
    }
    assert(after.filter(t => t._1 == 96 || t._1 == 98).forall(t => t._2 == 55L && t._4 == 2L))
    // untouched rows keep their CREATE commit version
    after.filter(t => t._1 < 100 && t._1 % 10 != 3 && t._1 != 96 && t._1 != 98)
      .foreach { case (id, x, _, ver) => assert(x == id % 7 && ver == 0L) }
  }

  test("SQL UPDATE + MERGE on ICEBERG catalog tables: WriteDelta snapshots") {
    import graft.sources.IcebergWriter
    val root = freshRoot("ice")
    IcebergWriter.create(spark, plane().repartition(2), s"$root/db/i2")
    IcebergWriter.createV3(spark, plane().repartition(2), s"$root/db/i3")
    cat("sqldml_ice", root)
    def n(sql: String): Long = spark.sql(sql).head().getLong(0)
    // v2 UPDATE: changed rows re-stage, old positions land as a
    // position-delete file — no data file rewritten
    spark.sql("UPDATE sqldml_ice.db.i2 SET x = x + 100 WHERE id % 10 = 3")
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2") == 100L)
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2 WHERE x >= 100") == 10L)
    assert(n("SELECT sum(x) FROM sqldml_ice.db.i2") ==
      plane().agg(org.apache.spark.sql.functions.sum(col("x") +
        when(col("id") % 10 === 3, 100L).otherwise(0L))).head().getLong(0))
    // the original snapshot is untouched (time travel sees v1)
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2 VERSION AS OF 1 WHERE x >= 100") == 0L)
    // v2 MERGE: matched keys update, unmatched insert
    spark.range(0, 4)
      .select((col("id") * 2 + 96).as("id"), lit(7L).as("x"), lit("new").as("p"))
      .createOrReplaceTempView("sqldml_ice_src")
    spark.sql("""MERGE INTO sqldml_ice.db.i2 AS t USING sqldml_ice_src AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET x = s.x
      WHEN NOT MATCHED THEN INSERT (id, x, p) VALUES (s.id, s.x, s.p)""")
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2") == 102L)
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2 WHERE x = 7") == 4L)
    assert(n("SELECT count(*) FROM sqldml_ice.db.i2 WHERE p = 'new'") == 2L)
    // v3: a DELETE lays puffin DVs, then UPDATE unions more positions
    // into them (one DV per data file, the spec's replacement rule)
    spark.sql("DELETE FROM sqldml_ice.db.i3 WHERE id < 10")
    spark.sql("UPDATE sqldml_ice.db.i3 SET x = 0 WHERE p = 'odd'")
    assert(n("SELECT count(*) FROM sqldml_ice.db.i3") == 90L)
    // 45 odd rows zeroed + 7 surviving evens with x = id % 7 == 0
    assert(n("SELECT count(*) FROM sqldml_ice.db.i3 WHERE x = 0") == 52L)
    assert(n("SELECT min(id) FROM sqldml_ice.db.i3") == 10L)
    // partitioned tables refuse toward the Scala entry points
    IcebergWriter.createPartitioned(spark, plane().coalesce(1),
      s"$root/db/ip", "p")
    val e = intercept[Exception](
      spark.sql("UPDATE sqldml_ice.db.ip SET x = 0 WHERE id = 1"))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
  }

  test("SQL TRUNCATE TABLE: remove-only commit, schema + history survive") {
    val root = freshRoot("trunc")
    val base = s"$root/db/t"
    DeltaLogWriter.create(spark, plane().repartition(2), base, "t",
      extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    cat("sqldml_tr", root)
    spark.sql("TRUNCATE TABLE sqldml_tr.db.t")
    // empty but alive: schema intact, INSERT repopulates
    assert(spark.sql("SELECT count(*) FROM sqldml_tr.db.t").head().getLong(0) == 0L)
    spark.sql("INSERT INTO sqldml_tr.db.t SELECT id, id % 3, 'z' FROM range(7)")
    assert(spark.sql("SELECT count(*) FROM sqldml_tr.db.t").head().getLong(0) == 7L)
    // history stayed time-travelable; CDF reports the truncate as
    // whole-file deletes
    assert(DeltaLogReader.read(spark, base, 0L).count() == 100L)
    val cdf = DeltaLogReader.readChanges(spark, base, 1L, 1L)
    assert(cdf.filter(col("_change_type") === "delete").count() == 100L)
  }

  test("SQL DML on IDENTITY tables: contract enforced per row") {
    val root = freshRoot("guard")
    val base = s"$root/db/it"
    DeltaLogWriter.createIdentity(spark,
      spark.range(0, 100).select(col("id"), (col("id") % 7).as("x")),
      base, "it", "sk", 1L, 1L, Seq("id"))
    cat("sqldml_g", root)
    def n(sql: String): Long = spark.sql(sql).head().getLong(0)
    // an UPDATE that leaves the identity value alone composes
    spark.sql("UPDATE sqldml_g.db.it SET x = x + 50 WHERE id % 10 = 1")
    assert(n("SELECT count(*) FROM sqldml_g.db.it WHERE x >= 50") == 10L)
    assert(n("SELECT count(DISTINCT sk) FROM sqldml_g.db.it") == 100L)
    // one that REASSIGNS it refuses at the first row
    val e = intercept[Exception](
      spark.sql("UPDATE sqldml_g.db.it SET sk = 0 WHERE id = 1"))
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(c => Option(c.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs(e).contains("identity"), msgs(e))
    // a MERGE insert clause cannot mint ids
    spark.range(500, 503).select(col("id"), lit(1L).as("x"))
      .createOrReplaceTempView("sqldml_it_src")
    val e2 = intercept[Exception](
      spark.sql("""MERGE INTO sqldml_g.db.it AS t USING sqldml_it_src AS s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT (id, x) VALUES (s.id, s.x)"""))
    assert(e2 != null)
    // and a SIMPLE DELETE routes through SupportsDelete as ever
    spark.sql("DELETE FROM sqldml_g.db.it WHERE id < 10")
    assert(DeltaLogReader.read(spark, base).count() == 90L)
  }

  test("job budget: after a checkpoint, SQL MERGE, UPDATE and DELETE schedule no more jobs") {
    val root = freshRoot("budget")
    val base = s"$root/db/t"
    DeltaLogWriter.create(spark, plane().repartition(2), base, "t")
    cat("sqldml_budget", root)
    val census = new QueryCensus
    val sc = spark.sparkContext
    // one MERGE upsert, UPDATE and DELETE per round, each tagged
    // `<round>.<statement>` for the census
    def round(tag: String, lo: Long): Unit = {
      spark.range(lo, lo + 10).select(col("id"), lit(9L).as("x"), lit("src").as("p"))
        .createOrReplaceTempView("budget_src")
      Seq(
        "merge" -> """MERGE INTO sqldml_budget.db.t AS t USING budget_src AS s ON t.id = s.id
                     |WHEN MATCHED THEN UPDATE SET x = s.x
                     |WHEN NOT MATCHED THEN INSERT (id, x, p) VALUES (s.id, s.x, s.p)""".stripMargin,
        "update" -> s"UPDATE sqldml_budget.db.t SET x = x + 1 WHERE id % 10 = ${lo % 10}",
        "delete" -> s"DELETE FROM sqldml_budget.db.t WHERE id >= $lo AND id < ${lo + 2}"
      ).foreach { case (name, sql) =>
        sc.setLocalProperty(QueryCensus.Key, s"$tag.$name")
        try spark.sql(sql) finally sc.setLocalProperty(QueryCensus.Key, null)
      }
    }
    sc.addSparkListener(census)
    try {
      // the first round lays down the deletion vectors the counted
      // rounds then scan under, so the two differ only by the checkpoint
      round("warm", 95L)
      round("before", 105L)
      DeltaLogWriter.checkpoint(spark, base)
      assert(DeltaLogReader.read(spark, base).count() == 111L) // warm read
      round("after", 115L)
      assert(DeltaLogReader.read(spark, base).count() == 119L)
      val jobs = census.drained(spark).map { case (k, c) => k -> c._1 }
      info(s"jobs per statement: ${jobs.toSeq.sorted.mkString(", ")}")
      Seq("merge", "update", "delete").foreach { s =>
        assert(jobs(s"after.$s") <= jobs(s"before.$s"), s"$s: $jobs")
      }
    } finally sc.removeSparkListener(census)
  }
}
