package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, RowIndexMask}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter, LakeScan, RoaringDv}

/** The one lake scan: DataFrames over the files a log lists build with
  * no Spark job, row-level deletes mask inside the scan by row index,
  * and the mask's keys are the scan's own `_metadata.file_path`
  * spelling — also under a hive dir whose value holds a space and `%`. */
class LakeScanSpec extends SparkSpec {
  import spark.implicits._

  private val root = "/tmp/graft_lakescan_test"

  private def mkBase(name: String): String = {
    val base = s"$root/$name"
    graft.sources.TxnLog.rmrf(base)
    base
  }

  /** Spark jobs `body` schedules, counted by [[QueryCensus]]. */
  private def jobsOf[T](body: => T): (T, Long) = {
    val census = new QueryCensus
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    val out =
      try {
        sc.setLocalProperty(QueryCensus.Key, "lakescan")
        try body finally sc.setLocalProperty(QueryCensus.Key, null)
      } finally sc.removeSparkListener(census)
    (out, census.drained(spark).get("lakescan").map(_._1).getOrElse(0L))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("a 200-file Delta table builds its DataFrame with no job") {
    val base = mkBase("wide200")
    DeltaLogWriter.create(spark, spark.range(0, 2000).toDF("id").repartition(200), base, "t-wide")
    assert(DeltaLogReader.snapshot(spark, base).adds.size == 200)
    val (df, jobs) = jobsOf(DeltaLogReader.read(spark, base))
    assert(jobs == 0L, s"building a 200-file read ran $jobs Spark jobs")
    assert(df.count() == 2000L)
  }

  test("a 10^4-file synthetic Delta table builds its DataFrame with no job") {
    val base = mkBase("synthetic10k")
    val log = Paths.get(base, "_delta_log")
    Files.createDirectories(log)
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",""" +
      """\"nullable\":true,\"metadata\":{}}]}"""
    val adds = (0 until 10000).map(i =>
      s"""{"add":{"path":"part-$i.parquet","partitionValues":{},"size":4096,""" +
        """"modificationTime":0,"dataChange":true}}""")
    Files.write(log.resolve("00000000000000000000.json"), (Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t-10k","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":[],"configuration":{}}}""") ++ adds)
      .mkString("\n").getBytes("UTF-8"))
    val (df, jobs) = jobsOf(DeltaLogReader.read(spark, base))
    assert(jobs == 0L, s"building a 10^4-file read ran $jobs Spark jobs")
    assert(df.inputFiles.length == 10000)
    assert(df.schema.fieldNames.toSeq == Seq("id"))
  }

  test("a file the log names but the disk lacks fails the read, never reads empty") {
    val base = mkBase("missing")
    DeltaLogWriter.create(spark, spark.range(0, 10).toDF("id").repartition(2), base, "t-miss")
    val gone = DeltaLogReader.snapshot(spark, base).adds.head.path
    Files.delete(Paths.get(base, gone))
    val df = DeltaLogReader.read(spark, base)
    val err = intercept[Exception](df.count())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(gone.split('/').last)),
      s"the failure names no missing file: $err")
  }

  // ---- the mask, under a hive dir holding a space and `%` ------------------

  /** The escaped hive dir `p=a b%c` (Spark writes `%` as `%25`). */
  private val oddDir = "p=a b%25c"

  test("the scan key is the scan's own _metadata.file_path, space and % included") {
    val dir = mkBase(s"keys/$oddDir")
    spark.range(0, 3).toDF("id").coalesce(1).write.parquet(s"$dir/t")
    val file = LakeScan.leaves(spark, Seq(s"$dir/t")).head.path
    val rendered = LakeScan.paths(spark, Seq(file))
      .select(col("_metadata.file_path")).distinct().as[String].collect().toSeq
    assert(rendered == Seq(LakeScan.key(spark, file)))
    assert(rendered.head.contains("a%20b%2525c"))
    // a delete target spelled as a URI (scheme or not) keys the same file
    assert(LakeScan.uriKey(spark, rendered.head) == rendered.head)
    assert(LakeScan.uriKey(spark, IcebergReader.deleteTarget(rendered.head)) == rendered.head)
  }

  test("Delta DVs mask the right rows in a hive dir whose value holds a space and %") {
    val base = mkBase("delta_dv")
    val df = spark.range(0, 30).toDF("id")
      .withColumn("p", when(col("id") < 20, lit("a b%c")).otherwise(lit("x")))
    DeltaLogWriter.create(spark, df.repartition(2, col("p")), base, "t-dv", partitionBy = Seq("p"))
    DeltaLogWriter.deleteWhereDv(spark, base, col("id") % 3 === 0)
    val adds = DeltaLogReader.snapshot(spark, base).adds
    assert(adds.exists(a => a.dv.isDefined && a.path.startsWith(oddDir)), adds.map(_.path))
    val read = DeltaLogReader.read(spark, base)
    assert(ids(read) == (0L until 30L).filterNot(_ % 3 == 0))
    assert(read.filter(col("p") === "a b%c").count() == (0L until 20L).count(_ % 3 != 0))
  }

  test("Iceberg DVs and position deletes mask the right rows under a space and % dir") {
    val df = spark.range(0, 30).toDF("id").repartition(3)
    val v3 = mkBase(s"$oddDir/ice_v3")
    IcebergWriter.createV3(spark, df, v3)
    IcebergWriter.deleteWhere(spark, v3, col("id") % 3 === 0)
    assert(IcebergReader.planSnapshot(spark, v3, 2L).dvs.nonEmpty)
    val v2 = mkBase(s"$oddDir/ice_v2")
    IcebergWriter.create(spark, df, v2)
    IcebergWriter.deleteWhere(spark, v2, col("id") % 3 === 0)
    assert(IcebergReader.planSnapshot(spark, v2, 2L).posDeleteFiles.nonEmpty)
    val survivors = (0L until 30L).filterNot(_ % 3 == 0)
    for (base <- Seq(v3, v2)) {
      val read = IcebergReader.read(spark, base)
      // the masked read is one scan: its action is its only job
      val (rows, jobs) = jobsOf(ids(read))
      assert(rows == survivors, base)
      assert(jobs == 1L, s"$base: the masked read ran $jobs jobs")
      // a second delete stacks on the first (keys meet the same files)
      IcebergWriter.deleteWhere(spark, base, col("id") === 1L)
      assert(ids(IcebergReader.read(spark, base)) == survivors.filterNot(_ == 1L), base)
    }
  }

  test("a 10^6-position DV ships as bitmap bytes, not rows") {
    val base = mkBase("dv_million")
    val n = 1000000L
    DeltaLogWriter.create(spark, spark.range(0, n + 10).toDF("id").coalesce(1), base, "t-1m")
    DeltaLogWriter.deleteWhereDv(spark, base, col("id") < n)
    val read = DeltaLogReader.read(spark, base)
    val masks = GraftPlanBridge.analyzedPlan(read).flatMap(_.expressions)
      .flatMap(_.collect { case m: RowIndexMask => m.masks.value })
    assert(masks.size == 1)
    val shipped = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance().serialize(masks.head).limit()
    // 16 bitset containers of 8 KiB, against 8 bytes per deleted row
    assert(shipped < 200000, s"the broadcast value is $shipped bytes")
    assert(shipped * 40 < n * 8)
    assert(ids(read) == (n until n + 10))
  }

  test("the DV writer's bytes are unchanged: spec vector pinned, library encoding equal") {
    val pinned = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 0x01, 0, 0, 0, 0, 0, 0, 0, // magic, 1 bitmap
      0x3a, 0x30, 0, 0, 0x01, 0, 0, 0,                  // cookie 12346, 1 container
      0x00, 0x00, 0x02, 0x00, 0x10, 0, 0, 0,            // key 0, card-1 = 2, offset 16
      0x00, 0x00, 0x02, 0x00, 0x07, 0x00                // [0, 2, 7]
    ).map(_.toByte)
    assert(RoaringDv.serialize(Seq(0L, 2L, 7L)).toSeq == pinned.toSeq)
    // every existing test vector encodes exactly as org.roaringbitmap
    // would (array and bitset containers, no runs)
    Seq(Seq(0L, 2L, 7L), Seq(1L, 1L << 33), Seq(1L, 2L, 100000L),
      Seq(0L, 1L, 5L, 65535L, 65536L, 100000L), (0L until 5000L).map(_ * 2),
      Seq(3L, (1L << 32) + 7, (2L << 32) + 9)).foreach { ps =>
      val written = RoaringDv.serialize(ps)
      assert(written.toSeq == RoaringDv.payload(RoaringDv.bitmaps(written)).toSeq, ps.take(3))
      assert(RoaringDv.deserialize(written) == ps)
    }
  }
}
