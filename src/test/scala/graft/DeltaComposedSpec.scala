package graft

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLogReader, DeltaLogWriter}

/** Delta FEATURE COMPOSITION matrix: a table with hive partitioning +
  * liquid clustering + column mapping + row tracking all ON (the shape
  * a modern production table actually has), driven through the whole
  * DML surface — DV DELETE, CoW DELETE/UPDATE/MERGE, clustered
  * OPTIMIZE, RESTORE, RENAME COLUMN, checkpoint + expiry. The r11
  * verdict's top gap: individually-supported features refusing each
  * other. */
class DeltaComposedSpec extends SparkSpec {

  private def mkBase(name: String): String = {
    val base = s"/tmp/graft_deltacomp_test/$name"
    graft.sources.TxnLog.rmrf(base)
    base
  }

  /** 40 rows, 2 partitions, 2 cluster dims, deterministic. */
  private def plane() = spark.range(0, 40).select(
    col("id"),
    when(col("id") % 2 === 0, "even").otherwise("odd").as("p"),
    (col("id") % 7).as("x"), (col("id") % 5).as("y"),
    (col("id") * 10).as("v"))
    .repartition(2)

  private def createAll(base: String): Unit =
    DeltaLogWriter.createComposed(spark, plane(), base, "composed",
      partitionBy = Seq("p"), clusterCols = Seq("x", "y"),
      columnMapped = true, rowTracked = true, statsFor = Seq("x", "y"))

  private def content(base: String, v: Long): Map[Long, Long] =
    DeltaLogReader.read(spark, base, v)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def rowIds(base: String, v: Long): Map[Long, (Long, Long)] =
    DeltaLogReader.readRowIds(spark, base, v)
      .select("id", "_row_id", "_row_commit_version")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("all features on: DV delete, CoW update/merge, clustered optimize, restore, rename") {
    val base = mkBase("full")
    createAll(base)
    val expect0 = (0L until 40L).map(i => i -> i * 10).toMap
    assert(content(base, 0L) == expect0)
    val birth = rowIds(base, 0L)
    assert(birth.values.map(_._1).toSeq.distinct.size == 40, "birth ids not unique")

    // v1: DV DELETE binds the LOGICAL name over physical files
    val (df1, nd1) = DeltaLogWriter.deleteWhereDv(spark, base, col("id") % 10 === 3)
    assert(nd1 == 4L && df1 >= 1, s"($df1, $nd1)")
    val expect1 = expect0.filter { case (k, _) => k % 10 != 3 }
    assert(content(base, 1L) == expect1)
    assert(rowIds(base, 1L).forall { case (k, ids) => birth(k) == ids },
      "DV delete shifted survivor ids")

    // v2: CoW UPDATE over DV-carrying files — masks merge into the
    // rewrite (masked rows must NOT resurrect), ids materialize through
    assert(DeltaLogWriter.update(spark, base, col("id") % 10 === 4,
      df => df.withColumn("v", col("v") + 1))._2 == 4L)
    val expect2 = expect1.map { case (k, v) => k -> (if (k % 10 == 4) v + 1 else v) }
    assert(content(base, 2L) == expect2)
    val ids2 = rowIds(base, 2L)
    assert(ids2.forall { case (k, (id, _)) => birth(k)._1 == id },
      "UPDATE reassigned row ids")
    assert(ids2.filter(_._1 % 10 == 4).forall(_._2._2 == 2L),
      "post-images did not take the UPDATE's commit version")

    // untouched-partition economics: the DML predicate k%10==4 hits only
    // EVEN ids, so the odd partition's files must survive by IDENTITY
    val files1 = DeltaLogReader.snapshot(Some(spark), base, 1L).adds.map(_.path).toSet
    val files2 = DeltaLogReader.snapshot(Some(spark), base, 2L).adds.map(_.path).toSet
    val oddFiles1 = files1.filter(_.contains("col-2=odd"))
    assert(oddFiles1.nonEmpty && oddFiles1.subsetOf(files2),
      s"untouched partition rewritten: ${oddFiles1 -- files2}")

    // v3: MERGE — matched rows keep ids via the key, inserts take fresh
    val src = spark.createDataFrame(Seq(
      (6L, "even", 6L, 1L, 6000L), (900L, "even", 4L, 0L, 9000L)))
      .toDF("id", "p", "x", "y", "v")
    assert(DeltaLogWriter.merge(spark, base, src, "id") == ((1L, 1L)))
    val expect3 = expect2 + (6L -> 6000L) + (900L -> 9000L)
    assert(content(base, 3L) == expect3)
    val ids3 = rowIds(base, 3L)
    assert(ids3(6L)._1 == birth(6L)._1, "MERGE lost the matched row's id")
    assert(ids3(900L)._1 > 39L, "MERGE insert did not take a fresh id")
    assert(ids3.values.map(_._1).toSeq.distinct.size == ids3.size, "row-id collision")

    // v4: clustered OPTIMIZE — z-order WITHIN partitions, content
    // identical, descriptors gone, ids preserved, dataChange=false
    val (ob, oa) = DeltaLogWriter.optimizeClustered(spark, base)
    assert(ob >= 1 && oa >= 1)
    assert(content(base, 4L) == expect3)
    assert(DeltaLogReader.snapshot(Some(spark), base, 4L).adds.forall(_.dv.isEmpty),
      "clustered OPTIMIZE carried DVs forward")
    assert(rowIds(base, 4L).view.filterKeys(_ != 900L).forall {
      case (k, (id, _)) => birth.get(k).forall(_._1 == id) },
      "clustered OPTIMIZE reassigned ids")
    val commit4 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      base, "_delta_log", f"${4L}%020d.json"))
    assert(!commit4.contains("\"dataChange\":true"), "clustered OPTIMIZE not dataChange=false")
    // every packed file sits under its hive partition dir and is z-named
    DeltaLogReader.snapshot(Some(spark), base, 4L).adds.foreach(a =>
      assert(a.path.contains("col-2=") && a.path.contains("-zb"), a.path))

    // v5: RESTORE to v2 — re-adds carry their DV descriptors (the DV
    // sidecars are still on disk), content flips back exactly
    val (rm, ra) = DeltaLogWriter.restore(spark, base, 2L)
    assert(rm >= 1 && ra >= 1)
    assert(content(base, 5L) == expect2)
    assert(rowIds(base, 5L).forall { case (k, (id, _)) => birth(k)._1 == id })

    // v6: RENAME COLUMN is metadata-only and PRESERVES partitioning,
    // row tracking, and the clustering domain
    DeltaLogWriter.renameColumn(spark, base, "v", "val")
    val renamed = DeltaLogReader.read(spark, base, 6L)
    assert(renamed.columns.toSet == Set("id", "p", "x", "y", "val"))
    assert(renamed.select("id", "val").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect2)
    val snap6 = DeltaLogReader.snapshot(Some(spark), base, 6L)
    assert(snap6.partitionColumns == Seq("p"))
    assert(snap6.clusteringColumns == Seq("x", "y"))
    assert(snap6.rowIdHighWaterMark.isDefined)

    // checkpoint + expiry: the composed state survives — mapping,
    // domains, DVs, row ids all fold
    DeltaLogWriter.checkpoint(spark, base)
    DeltaLogWriter.expireLog(base)
    assert(DeltaLogReader.read(spark, base).select("id", "val").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect2)
    assert(rowIds(base, 6L).forall { case (k, (id, _)) => birth(k)._1 == id },
      "ids drifted across checkpoint+expiry")
    // appends still work post-expiry (fresh ids, physical staging)
    DeltaLogWriter.append(spark, spark.createDataFrame(Seq(
      (901L, "odd", 1L, 1L, 9010L))).toDF("id", "p", "x", "y", "val"), base)
    val post = rowIds(base, DeltaLogReader.latestVersion(base))
    assert(post(901L)._1 > 39L, "post-expiry append reused an id")
  }

  test("CoW DELETE and CDF compose on the mapped+partitioned+tracked table") {
    val base = mkBase("cdf")
    createAll(base)
    DeltaLogWriter.deleteWhereDv(spark, base, col("id") === 2L)  // v1
    assert(DeltaLogWriter.deleteWhere(spark, base, col("id") < 4L)._2 == 3L) // v2: 0,1,3
    assert(content(base, 2L).keySet == (4L until 40L).toSet)
    // CDF rows surface LOGICAL names per version, and the DV commit is
    // represented by its _change_data rows only
    val cdf = DeltaLogReader.readChanges(spark, base, 1L, 2L)
    assert(cdf.columns.contains("id") && cdf.columns.contains("v"),
      s"CDF lost the logical names: ${cdf.columns.mkString(",")}")
    val byVer = cdf.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVer == Map(1L -> 1L, 2L -> 3L), s"CDF censuses wrong: $byVer")
    // data skipping answers under the LOGICAL column spelling
    val v = DeltaLogReader.latestVersion(base)
    val planned = DeltaLogReader.filesWhere(spark, base, v, "x", 0L, 2L)
    assert(planned.nonEmpty)
    // constraints validate over the logical view and survive in config
    DeltaLogWriter.addConstraint(spark, base, "v_nonneg", "v >= 0")
    assert(DeltaLogReader.snapshot(spark, base).constraints.contains("v_nonneg"))
    // the constraint commit preserved the column mapping + row tracking
    assert(DeltaLogReader.read(spark, base).columns.contains("v"))
    intercept[IllegalArgumentException] {
      DeltaLogWriter.append(spark, spark.createDataFrame(Seq(
        (950L, "odd", 1L, 1L, -5L))).toDF("id", "p", "x", "y", "v"), base)
    }
    // a legal append still lands physically-named and freshly-id'd
    DeltaLogWriter.append(spark, spark.createDataFrame(Seq(
      (951L, "odd", 1L, 1L, 9510L))).toDF("id", "p", "x", "y", "v"), base)
    assert(content(base, DeltaLogReader.latestVersion(base))(951L) == 9510L)
  }
}
