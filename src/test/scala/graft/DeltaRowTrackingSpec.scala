package graft

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLogReader, DeltaLogWriter}

/** Delta ROW TRACKING (the `rowTracking` + `domainMetadata` writer
  * features): stable `_row_id` / `_row_commit_version` per row —
  * base+position inheritance, the domain high-water mark, DV-delete
  * stability, OPTIMIZE materialization, and checkpoint survival. */
class DeltaRowTrackingSpec extends SparkSpec {

  private def mkBase(name: String): String = {
    val base = s"/tmp/graft_deltart_test/$name"
    graft.sources.TxnLog.rmrf(base)
    base
  }

  private def sorted(n: Long, off: Long = 0L) =
    spark.range(0, n).select((col("id") + off).as("id"))
      .repartition(1).sortWithinPartitions("id")

  test("create: contiguous baseRowId ranges, hwm = total-1, base+position read") {
    val base = mkBase("rt_create")
    DeltaLogWriter.createRowTracked(spark, spark.range(0, 20).toDF("id")
      .repartition(2), base, "rt")
    val adds = DeltaLogReader.snapshot(Some(spark), base, 0L).adds
      .sortBy(_.baseRowId.get)
    assert(adds.forall(a => a.baseRowId.isDefined &&
      a.defaultRowCommitVersion.contains(0L)))
    // ranges are contiguous and disjoint in file order
    val ranges = adds.map(a => (a.baseRowId.get, a.numRecords))
    assert(ranges.head._1 == 0L)
    ranges.zip(ranges.drop(1)).foreach { case ((b, n), (b2, _)) => assert(b2 == b + n) }
    assert(DeltaLogReader.snapshot(Some(spark), base, 0L).rowIdHighWaterMark.contains(19L))
    val ids = DeltaLogReader.readRowIds(spark, base, 0L)
      .select("_row_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L to 19L))
  }

  test("append assigns fresh ids above the mark; DV delete keeps survivors' ids") {
    val base = mkBase("rt_dml")
    DeltaLogWriter.createRowTracked(spark, sorted(10), base, "rt")
    DeltaLogWriter.append(spark, sorted(5, off = 100), base)
    assert(DeltaLogReader.snapshot(Some(spark), base, 1L).rowIdHighWaterMark.contains(14L))
    val byId = DeltaLogReader.readRowIds(spark, base, 1L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("_row_id"), r.getAs[Long]("_row_commit_version"))).toMap
    assert(byId(0L) == (0L, 0L) && byId(9L) == (9L, 0L))
    assert(byId(100L) == (10L, 1L) && byId(104L) == (14L, 1L))
    // DV delete: the re-add must CARRY baseRowId; survivors keep ids
    DeltaLogWriter.deleteWhereDv(spark, base, col("id") % 2 === 0)
    val after = DeltaLogReader.readRowIds(spark, base, 2L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_row_id")).toMap
    assert(after(1L) == 1L && after(9L) == 9L && after(101L) == 11L)
    assert(!after.contains(0L) && !after.contains(100L))
    // the mark did not move (a DELETE assigns no ids)
    assert(DeltaLogReader.snapshot(Some(spark), base, 2L).rowIdHighWaterMark.contains(14L))
  }

  test("OPTIMIZE materializes row ids — identical lineage across the rewrite") {
    val base = mkBase("rt_opt")
    DeltaLogWriter.createRowTracked(spark, sorted(12), base, "rt")
    DeltaLogWriter.append(spark, sorted(6, off = 50), base)
    val before = DeltaLogReader.readRowIds(spark, base, 1L)
      .select("id", "_row_id", "_row_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (nb, na) = DeltaLogWriter.optimize(spark, base)
    assert(nb == 2 && na == 1)
    val adds = DeltaLogReader.snapshot(Some(spark), base, 2L).adds
    // fresh baseRowId on the packed file, and the mark bumped past it
    assert(adds.forall(_.baseRowId.isDefined))
    assert(adds.head.baseRowId.get == 18L)
    assert(DeltaLogReader.snapshot(Some(spark), base, 2L).rowIdHighWaterMark.contains(35L))
    val after = DeltaLogReader.readRowIds(spark, base, 2L)
      .select("id", "_row_id", "_row_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before) // materialized values win over base+position
    // plain read enforces the LOG schema: materialized cols stay hidden
    val plain = DeltaLogReader.read(spark, base)
    assert(plain.columns.toSeq == Seq("id"))
    assert(plain.count() == 18L)
  }

  test("row ids and the high-water mark survive checkpoint + expireLog (classic and v2)") {
    for ((name, ckpt) <- Seq(
      ("rt_ckpt", (b: String) => DeltaLogWriter.checkpoint(spark, b)),
      ("rt_ckpt2", (b: String) => DeltaLogWriter.checkpointV2(spark, b)))) {
      val base = mkBase(name)
      DeltaLogWriter.createRowTracked(spark, sorted(8), base, "rt")
      DeltaLogWriter.append(spark, sorted(4, off = 70), base)
      DeltaLogWriter.deleteWhereDv(spark, base, col("id") === 3)
      val before = DeltaLogReader.readRowIds(spark, base, 2L)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_row_id")).toMap
      ckpt(base)
      DeltaLogWriter.expireLog(base)
      val v = DeltaLogReader.latestVersion(base)
      val after = DeltaLogReader.readRowIds(spark, base, v)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_row_id")).toMap
      assert(after == before, s"$name: lineage drifted across checkpoint+expiry")
      assert(DeltaLogReader.snapshot(Some(spark), base, v).rowIdHighWaterMark.contains(11L),
        s"$name: high-water mark lost")
      // the next append still assigns FRESH ids (the mark survived)
      DeltaLogWriter.append(spark, sorted(2, off = 90), base)
      val v2 = DeltaLogReader.latestVersion(base)
      val ids = DeltaLogReader.readRowIds(spark, base, v2)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_row_id")).toMap
      assert(ids(90L) == 12L && ids(91L) == 13L, s"$name: post-expiry ids reused")
    }
  }

  test("CoW DELETE/UPDATE/MERGE preserve row ids (materialized through the rewrite)") {
    val base = mkBase("rt_cow")
    DeltaLogWriter.createRowTracked(spark, sorted(10), base, "rt")
    def idsAt(v: Long) = DeltaLogReader.readRowIds(spark, base, v)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("_row_id"), r.getAs[Long]("_row_commit_version"))).toMap
    val birth = idsAt(0L) // id i → row id i (sorted single-file batch)
    assert(birth(3L) == ((3L, 0L)))
    // CoW DELETE (v1): survivors keep their BIRTH ids and versions —
    // the rewrite materializes them before the shuffle scrambles
    // positions; the matched row's id retires with it
    assert(DeltaLogWriter.deleteWhere(spark, base, col("id") === 1L)._2 == 1L)
    val afterDel = idsAt(1L)
    assert(!afterDel.contains(1L))
    assert(afterDel.forall { case (k, v) => birth(k) == v },
      s"DELETE shifted survivor ids: $afterDel vs $birth")
    // CoW UPDATE (v2): the post-image KEEPS its row id (the spec:
    // _row_id is stable across UPDATE) and takes v2 as its commit
    DeltaLogWriter.update(spark, base, col("id") === 3L,
      df => df.withColumn("id", col("id") + 100L))
    val afterUpd = idsAt(2L)
    assert(afterUpd(103L) == ((3L, 2L)), s"UPDATE lost the row id: ${afterUpd.get(103L)}")
    assert(afterUpd.removed(103L).forall { case (k, v) => birth(k) == v })
    // MERGE (v3): matched rows keep their ids via the key; the insert
    // falls into the new file's FRESH range (above the high-water mark)
    val src = spark.createDataFrame(Seq(Tuple1(4L), Tuple1(200L))).toDF("id")
    DeltaLogWriter.merge(spark, base, src, "id")
    val afterMerge = idsAt(3L)
    assert(afterMerge(4L) == ((4L, 3L)), s"MERGE lost the matched id: ${afterMerge.get(4L)}")
    val hwmBefore = 9L // create assigned 0..9
    assert(afterMerge(200L)._1 > hwmBefore,
      s"insert did not take a fresh id: ${afterMerge(200L)}")
    assert(afterMerge(200L)._2 == 3L)
    // ids never collide across the whole history
    val all = afterMerge.values.map(_._1).toSeq
    assert(all.distinct.size == all.size, s"row-id collision: $afterMerge")
  }
}
