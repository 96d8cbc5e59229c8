package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.ParquetFooters

/** The footer-only stats helper that replaced the writers' read-back
  * census jobs (round-13 optimization): counts and integral min/max
  * must equal what the old Spark aggregation computed, including the
  * NULL-skipping rules, and a dynamic-partition stage write's
  * same-basename part files must stay distinguishable (the basename
  * collision that round-13 found in the old `_metadata.file_name`
  * keyed read-back: counts were silently summed across partitions). */
class ParquetFootersSpec extends SparkSpec {

  private def stage(name: String): String = {
    val base = s"/tmp/graft_footers_test/$name"
    graft.sources.TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base))
    base
  }

  test("statsOf matches the Spark aggregate: count, long/int bounds, null skipping") {
    val base = stage("bounds")
    import spark.implicits._
    val df = Seq(
      (1L, 7, Some(100L)), (2L, -3, None), (3L, 42, Some(-5L)), (4L, 0, Some(99L))
    ).toDF("k", "i32", "optl")
    df.coalesce(1).write.parquet(s"$base/t")
    val file = graft.sources.Fs.list(Paths.get(base, "t")).iterator
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val (rows, bounds) = ParquetFooters.statsOf(file, Seq("k", "i32", "optl"))
    assert(rows == 4L)
    assert(bounds("k") == (1L, 4L))
    assert(bounds("i32") == (-3L, 42L), "int32 bounds widen to long")
    assert(bounds("optl") == (-5L, 100L), "nulls are skipped, not zero")
  }

  test("statsOf: all-NULL/string columns get no bounds; a missing column throws") {
    val base = stage("nulls")
    import spark.implicits._
    Seq((1L, Option.empty[Long], "a"), (2L, Option.empty[Long], "b"))
      .toDF("k", "allnull", "s")
      .coalesce(1).write.parquet(s"$base/t")
    val file = graft.sources.Fs.list(Paths.get(base, "t")).iterator
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val (rows, bounds) = ParquetFooters.statsOf(file, Seq("k", "allnull", "s"))
    assert(rows == 2L)
    assert(bounds.get("allnull").isEmpty, "all-NULL column has no bounds")
    assert(bounds.get("s").isEmpty, "a string column has no integral bounds")
    assert(bounds("k") == (1L, 2L))
    assert(ParquetFooters.rowCount(file) == 2L)
    // a column the file does not hold is a caller error, named loudly
    val e = intercept[IllegalArgumentException](ParquetFooters.statsOf(file, Seq("k", "nope")))
    assert(e.getMessage.contains("nope") && e.getMessage.contains(file.getFileName.toString),
      e.getMessage)
  }

  test("Delta create with a string stats column keeps counts and integral bounds") {
    val base = "/tmp/graft_footers_test/strstats"
    import spark.implicits._
    val df = Seq((3L, "x"), (1L, "y"), (2L, "z")).toDF("k", "s").coalesce(1)
    graft.sources.DeltaLogWriter.create(spark, df, base, "footers-strstats",
      statsFor = Seq("k", "s"))
    val adds = graft.sources.DeltaLogReader.snapshot(Some(spark), base, 0L).adds
    assert(adds.size == 1)
    assert(adds.head.numRecords == 3L)
    assert(adds.head.minValues == Map("k" -> 1L) && adds.head.maxValues == Map("k" -> 3L),
      s"${adds.head}")
    assert(graft.sources.DeltaLogReader.read(spark, base).count() == 3L)
  }

  test("row-tracked partitioned create: same-basename staged files keep distinct counts") {
    // one task writing several partition dirs reuses its part-file NAME
    // across them — createComposed's add actions must carry each FILE's
    // own numRecords (the old basename-keyed read-back summed them)
    val base = "/tmp/graft_footers_test/composed"
    graft.sources.TxnLog.rmrf(base)
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i.toLong, s"p${i % 4}", i * 10L))
      .toDF("k", "pri", "cents")
    graft.sources.DeltaLogWriter.createComposed(spark, df.coalesce(1), base,
      "footers-composed", partitionBy = Seq("pri"),
      clusterCols = Seq("k"), columnMapped = false, rowTracked = true,
      statsFor = Seq("k"))
    val read = graft.sources.DeltaLogReader.read(spark, base, 0L)
    val ids = graft.sources.DeltaLogReader.readRowIds(spark, base, 0L)
    assert(read.count() == 40L)
    // every add action's numRecords is its own file's count: the sum of
    // per-add ranges equals the table count, and birth ids are unique
    val rowIds = ids.select("_row_id").as[Long].collect().toSeq
    assert(rowIds.distinct.size == 40, s"birth ids not unique: ${rowIds.sorted}")
  }
}
