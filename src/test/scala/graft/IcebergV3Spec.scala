package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{IcebergReader, IcebergWriter, Puffin, RoaringDv}

/** Iceberg FORMAT-VERSION 3: deletion vectors in Puffin sidecars and
  * row lineage — byte-level codec pins first (the interop surface),
  * then the writer/reader lifecycle invariants the queries grade. */
class IcebergV3Spec extends SparkSpec {

  private def mkBase(name: String): String = {
    val base = s"/tmp/graft_icev3_test/$name"
    graft.sources.TxnLog.rmrf(base)
    base
  }

  // ---- Puffin byte layout ---------------------------------------------------

  test("puffin: magic framing, blob offsets, footer roundtrip") {
    val dir = mkBase("puffin_rt"); Files.createDirectories(Paths.get(dir))
    val p1 = RoaringDv.serialize(Seq(0L, 2L, 7L))
    val p2 = RoaringDv.serialize(Seq(1L, 1L << 33))
    val path = s"$dir/t.puffin"
    val metas = Puffin.writeFile(path, Seq(
      Puffin.Blob(Puffin.dvBlobBytes(p1), "deletion-vector-v1", 2L, 2L,
        Map("referenced-data-file" -> "data/a.parquet", "cardinality" -> "3")),
      Puffin.Blob(Puffin.dvBlobBytes(p2), "deletion-vector-v1", 2L, 2L,
        Map("referenced-data-file" -> "data/b.parquet", "cardinality" -> "2"))))
    val all = Files.readAllBytes(Paths.get(path))
    // magic "PFA1" at head, at footer start, at tail
    val magic = Array[Byte](0x50, 0x46, 0x41, 0x31)
    assert(all.take(4).sameElements(magic))
    assert(all.takeRight(4).sameElements(magic))
    // first blob starts right after the 4-byte head magic
    assert(metas.head.offset == 4L)
    assert(metas(1).offset == 4L + metas.head.length)
    // footer size field (little-endian, 12 bytes from the end) frames
    // exactly the JSON between the mid magic and itself
    val fs = java.nio.ByteBuffer.wrap(all, all.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val json = new String(all, all.length - 12 - fs, fs, java.nio.charset.StandardCharsets.UTF_8)
    assert(json.startsWith("""{"blobs":[""") && json.contains("deletion-vector-v1"))
    val (blobs, props) = Puffin.readFooter(path)
    assert(blobs.map(b => (b.blobType, b.snapshotId, b.offset, b.length)) ==
      metas.map(m => (m.blobType, m.snapshotId, m.offset, m.length)))
    assert(blobs.head.properties("referenced-data-file") == "data/a.parquet")
    assert(blobs(1).properties("cardinality") == "2")
    assert(props("created-by") == "graft")
  }

  test("puffin footer parse is STRUCTURAL: foreign key order, whitespace, extra fields") {
    val dir = mkBase("puffin_foreign"); Files.createDirectories(Paths.get(dir))
    val magic = Array[Byte](0x50, 0x46, 0x41, 0x31)
    val blobBytes = Array.fill[Byte](16)(7)
    // a spec-valid footer another writer could emit: keys reordered,
    // whitespace, an extra field this reader does not know, properties
    // BEFORE type — none of which may break the parse
    val json =
      """{ "properties" : {"created-by" : "someone-else"}, "blobs" : [ { """ +
        """"offset" : 4, "length" : 16, "snapshot-id" : 9, """ +
        """"sequence-number" : 3, "some-future-field" : 1, """ +
        """"properties" : { "cardinality" : "5" }, "type" : "deletion-vector-v1", """ +
        """"fields" : [ ] } ] }"""
    val footer = json.getBytes("UTF-8")
    val buf = java.nio.ByteBuffer.allocate(4 + blobBytes.length + 4 + footer.length + 12)
    buf.put(magic).put(blobBytes).put(magic).put(footer)
    buf.order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(footer.length).putInt(0)
    buf.put(magic)
    val path = s"$dir/foreign.puffin"
    Files.write(Paths.get(path), buf.array)
    val (blobs, props) = Puffin.readFooter(path)
    assert(blobs.map(b => (b.blobType, b.snapshotId, b.sequenceNumber, b.offset, b.length)) ==
      Seq(("deletion-vector-v1", 9L, 3L, 4L, 16L)))
    assert(blobs.head.properties == Map("cardinality" -> "5"))
    assert(props == Map("created-by" -> "someone-else"))
    // a COMPRESSED foreign blob still refuses loudly rather than
    // handing back bytes this reader would misinterpret
    val cjson = json.replace(""""some-future-field" : 1""",
      """"compression-codec" : "zstd"""")
    val cfooter = cjson.getBytes("UTF-8")
    val cbuf = java.nio.ByteBuffer.allocate(4 + blobBytes.length + 4 + cfooter.length + 12)
    cbuf.put(magic).put(blobBytes).put(magic).put(cfooter)
    cbuf.order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(cfooter.length).putInt(0)
    cbuf.put(magic)
    Files.write(Paths.get(s"$dir/compressed.puffin"), cbuf.array)
    val e = intercept[IllegalArgumentException](
      Puffin.readFooter(s"$dir/compressed.puffin"))
    assert(e.getMessage.contains("compressed"))
  }

  test("puffin DV blob: spec frame (len BE, Delta-compatible magic, CRC) and direct-jump read") {
    val dir = mkBase("puffin_dv"); Files.createDirectories(Paths.get(dir))
    val positions = Seq(0L, 5L, 4096L, (1L << 32) + 9L)
    val payload = RoaringDv.serialize(positions)
    val blob = Puffin.dvBlobBytes(payload)
    // 4-byte big-endian length of (magic + bitmap) == payload length
    val len = java.nio.ByteBuffer.wrap(blob, 0, 4).getInt
    assert(len == payload.length)
    // the payload's first 4 bytes are the magic D1 D3 39 64 —
    // 1681511377 little-endian, the Delta compatibility the spec chose
    assert((blob(4) & 0xff) == 0xd1 && (blob(5) & 0xff) == 0xd3 &&
      (blob(6) & 0xff) == 0x39 && (blob(7) & 0xff) == 0x64)
    // trailing CRC-32 of the payload, big-endian
    val crc = new java.util.zip.CRC32; crc.update(payload)
    assert(java.nio.ByteBuffer.wrap(blob, blob.length - 4, 4).getInt == crc.getValue.toInt)
    val path = s"$dir/dv.puffin"
    val Seq(meta) = Puffin.writeFile(path, Seq(
      Puffin.Blob(blob, "deletion-vector-v1", 1L, 1L, Map("cardinality" -> "4"))))
    assert(RoaringDv.deserialize(
      Puffin.readDvPayload(path, meta.offset, meta.length)) == positions)
    // corrupt one payload byte: the CRC gate must reject
    val bytes = Files.readAllBytes(Paths.get(path))
    bytes(meta.offset.toInt + 9) = (bytes(meta.offset.toInt + 9) ^ 0x40).toByte
    Files.write(Paths.get(s"$dir/bad.puffin"), bytes)
    val e = intercept[IllegalArgumentException](
      Puffin.readDvPayload(s"$dir/bad.puffin", meta.offset, meta.length))
    assert(e.getMessage.contains("CRC"))
  }

  test("puffin table statistics: footer-only ndv, carry across commits, expiry reclaim") {
    val base = mkBase("stats")
    val df = spark.range(0, 100).select(col("id"), (col("id") % 7).as("g"))
    IcebergWriter.create(spark, df.repartition(2), base)
    val rel = IcebergWriter.writeStats(spark, base, Seq(("id", 1), ("g", 2)))
    assert(Files.exists(Paths.get(base, rel)))
    assert(IcebergReader.statsNdv(IcebergReader.load(base), 1L) == Map(1 -> 100L, 2 -> 7L))
    // the registered sketch is REAL datasketches theta: its estimate
    // agrees with the exact count (n < k ⇒ exact mode)
    val v0 = IcebergReader.currentMetadataVersion(base)
    val path = IcebergReader.load(base, v0).statistics.map(e => e.snapshotId -> e.path)
      .collectFirst { case (1L, p) => s"$base/$p" }.get
    val (blobs, _) = Puffin.readFooter(path)
    assert(blobs.map(_.blobType).toSet == Set("apache-datasketches-theta-v1"))
    val idBlob = blobs.find(_.fields == Seq(1)).get
    val est = org.apache.datasketches.theta.Sketches.wrapCompactSketch(
      org.apache.datasketches.memory.Memory.wrap(
        Puffin.readBlob(path, idBlob.offset, idBlob.length))).getEstimate
    assert(math.round(est) == 100L)
    // the statistics list survives an APPEND (a dropped list severs stats)
    IcebergWriter.append(spark, spark.range(200, 210)
      .select(col("id"), lit(9L).as("g")), base)
    val v1 = IcebergReader.currentMetadataVersion(base)
    assert(IcebergReader.load(base, v1).statistics.map(e => e.snapshotId -> e.path) ==
      Seq(1L -> rel))
    // expiring snapshot 1 reclaims its stats entry AND puffin file
    IcebergWriter.expireSnapshots(spark, base, keepFrom = 2L)
    val v2 = IcebergReader.currentMetadataVersion(base)
    assert(IcebergReader.load(base, v2).statistics.map(e => e.snapshotId -> e.path).isEmpty)
    assert(!Files.exists(Paths.get(base, rel)))
  }

  // ---- DV lifecycle ---------------------------------------------------------

  private def mkV3(name: String, nFiles: Int = 2): (String, org.apache.spark.sql.DataFrame) = {
    val base = mkBase(name)
    val n = spark.range(0, 40).select(col("id"), (col("id") % 4).as("g"))
    IcebergWriter.createV3(spark, n.repartition(nFiles), base)
    (base, n)
  }

  test("v3 delete: puffin DV per touched file, no data rewrite, time travel intact") {
    val (base, n) = mkV3("dv_basic")
    val dataBefore = IcebergReader.planSnapshot(spark, base, 1L).dataFiles.toSet
    val (files, rows) = IcebergWriter.deleteWhereV3(spark, base, col("g") === 1)
    assert(rows == 10L && files >= 1)
    val scan = IcebergReader.planSnapshot(spark, base, 2L)
    // data files are byte-identical (no rewrite), masked by DVs only
    assert(scan.dataFiles.toSet == dataBefore)
    assert(scan.posDeleteFiles.isEmpty && scan.dvs.size == files)
    assert(scan.dvs.forall(_.puffin.endsWith("dv-s2.puffin")))
    assert(scan.dvs.map(_.cardinality).sum == 10L)
    assert(IcebergReader.read(spark, base, 2L).count() == 30L)
    // time travel to snap 1 still serves every row
    assert(IcebergReader.read(spark, base, 1L).count() == 40L)
    assert(IcebergReader.load(base).formatVersion == 3)
    val _ = n
  }

  test("v3 re-delete REPLACES each file's DV with the union (at most one DV per file)") {
    val (base, _) = mkV3("dv_stack")
    IcebergWriter.deleteWhereV3(spark, base, col("g") === 1)
    val (_, rows2) = IcebergWriter.deleteWhereV3(spark, base, col("g") === 2)
    assert(rows2 == 10L) // already-masked rows never re-match
    val scan = IcebergReader.planSnapshot(spark, base, 3L)
    // spec rule: one DV per data file — the union replaced, not stacked
    val perFile = scan.dvs.groupBy(_.referenced)
    assert(perFile.values.forall(_.size == 1))
    assert(scan.dvs.map(_.cardinality).sum == 20L)
    // the replacement DV contains BOTH rounds' positions
    assert(IcebergReader.read(spark, base, 3L).count() == 20L)
    assert(IcebergReader.read(spark, base, 3L).filter(col("g").isin(1, 2)).count() == 0L)
    // snap 2 (first delete only) still reads its own mask
    assert(IcebergReader.read(spark, base, 2L).count() == 30L)
  }

  test("v3 append carries live DVs forward — no silent resurrection") {
    val (base, _) = mkV3("dv_append")
    IcebergWriter.deleteWhereV3(spark, base, col("g") === 0)
    IcebergWriter.append(spark,
      spark.range(100, 110).select(col("id"), lit(9L).as("g")), base)
    val scan = IcebergReader.planSnapshot(spark, base, 3L)
    assert(scan.dvs.nonEmpty, "append dropped the deletion vectors")
    assert(IcebergReader.read(spark, base, 3L).count() == 30L + 10L)
    assert(IcebergReader.read(spark, base, 3L).filter(col("g") === 0).count() == 0L)
  }

  test("v3 compaction applies DVs, drops them, and MATERIALIZES row lineage") {
    val (base, _) = mkV3("dv_compact")
    IcebergWriter.deleteWhereV3(spark, base, col("g") === 3)
    val lineageBefore = IcebergReader.readLineage(spark, base, 2L)
      .select("id", "_row_id", "_last_updated_sequence_number")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (nBefore, nAfter) = IcebergWriter.rewrite(spark, base)
    assert(nBefore == 2 && nAfter == 1)
    val scan = IcebergReader.planSnapshot(spark, base, 3L)
    assert(scan.dvs.isEmpty, "compaction must eliminate the delete debt")
    // rewritten entries materialize lineage: first_row_id is null
    assert(scan.firstRowIds.isEmpty)
    // plain read hides the reserved columns even though the parquet has them
    val plain = IcebergReader.read(spark, base, 3L)
    assert(!plain.columns.contains("_row_id"))
    assert(plain.count() == 30L)
    // row ids and sequences SURVIVED the rewrite byte-for-byte
    val lineageAfter = IcebergReader.readLineage(spark, base, 3L)
      .select("id", "_row_id", "_last_updated_sequence_number")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lineageAfter == lineageBefore)
  }

  // ---- row lineage ----------------------------------------------------------

  /** Each snapshot's `first-row-id`, by snapshot id. */
  private def firstRowIds(m: IcebergReader.TableMetadata): Map[Long, Long] =
    m.snapshots.flatMap(s => s.firstRowId.map(s.id -> _)).toMap

  test("v3 lineage: contiguous id ranges per commit, next-row-id advances, deletes keep ids") {
    val base = mkBase("rl_ids")
    val b1 = spark.range(0, 7).select(col("id"))
      .repartition(1).sortWithinPartitions("id")
    IcebergWriter.createV3(spark, b1, base)
    assert(IcebergReader.load(base, 1).nextRowId.contains(7L))
    assert(firstRowIds(IcebergReader.load(base, 1)) == Map(1L -> 0L))
    IcebergWriter.append(spark,
      spark.range(100, 105).select(col("id")).repartition(1).sortWithinPartitions("id"),
      base)
    val v = IcebergReader.currentMetadataVersion(base)
    assert(IcebergReader.load(base, v).nextRowId.contains(12L))
    assert(firstRowIds(IcebergReader.load(base, v))(2L) == 7L)
    val ids = IcebergReader.readLineage(spark, base, 2L)
      .select("id", "_row_id", "_last_updated_sequence_number")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ids.take(7).map(_._2).toSeq == (0L to 6L) &&
      ids.take(7).forall(_._3 == 1L))
    assert(ids.drop(7).map(_._2).toSeq == (7L to 11L) &&
      ids.drop(7).forall(_._3 == 2L))
    // a DELETE assigns no ids and survivors keep theirs
    IcebergWriter.deleteWhereV3(spark, base, col("id") === 3 || col("id") === 102)
    val v2 = IcebergReader.currentMetadataVersion(base)
    assert(IcebergReader.load(base, v2).nextRowId.contains(12L))
    val after = IcebergReader.readLineage(spark, base, 3L)
      .select("id", "_row_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(4L) == 4L && after(104L) == 11L && !after.contains(3L))
  }

  test("v3 maintenance: expiry keeps live puffins, refs thread lineage metadata, fv>3 rejected") {
    val (base, _) = mkV3("rl_maint")
    IcebergWriter.deleteWhereV3(spark, base, col("g") === 1)
    IcebergWriter.append(spark,
      spark.range(50, 55).select(col("id"), lit(8L).as("g")), base)
    // a ref commit must not drop next-row-id / first-row-id
    IcebergWriter.setRef(spark, base, "audit", 2L)
    val v = IcebergReader.currentMetadataVersion(base)
    assert(IcebergReader.load(base, v).nextRowId.contains(45L))
    assert(firstRowIds(IcebergReader.load(base, v)).keySet == Set(1L, 2L, 3L))
    IcebergWriter.setRef(spark, base, "audit", 3L) // move off snap 2 so expiry can drop it
    val dropped = IcebergWriter.expireSnapshots(spark, base, keepFrom = 3L)
    // the DV puffin is still referenced by snapshot 3 — must survive
    val scan = IcebergReader.planSnapshot(spark, base, 3L)
    assert(scan.dvs.nonEmpty && Files.exists(Paths.get(scan.dvs.head.puffin)))
    assert(IcebergReader.read(spark, base, 3L).filter(col("g") === 1).count() == 0L)
    val _ = dropped
    // format-version beyond 3 fails fast, never misreads
    val meta = Paths.get(base, "metadata", s"v${IcebergReader.currentMetadataVersion(base)}.metadata.json")
    val hacked = Files.readString(meta).replace("\"format-version\":3", "\"format-version\":4")
    Files.writeString(meta, hacked)
    val e = intercept[IllegalArgumentException](
      IcebergReader.load(base, IcebergReader.currentMetadataVersion(base)))
    assert(e.getMessage.contains("format-version"))
  }
}
