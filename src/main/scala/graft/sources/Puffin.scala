package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import com.fasterxml.jackson.databind.JsonNode

/** PUBLIC-spec Apache Puffin file format, from scratch — the sidecar
  * container Iceberg format-version 3 stores DELETION VECTORS in (and
  * v1/v2 use for table statistics sketches). Layout per the spec:
  *
  * {{{
  *   Magic "PFA1"
  *   <blob 1 bytes> <blob 2 bytes> …
  *   Magic "PFA1"
  *   <footer payload: UTF-8 JSON (uncompressed here; flag bit 0 clear)>
  *   <footer payload size: 4 bytes little-endian>
  *   <flags: 4 bytes (all zero — no footer compression)>
  *   Magic "PFA1"
  * }}}
  *
  * The footer JSON declares each blob's `type`, `snapshot-id`,
  * `sequence-number`, `offset`, `length`, and string `properties`.
  *
  * The v3 DELETION-VECTOR blob (`deletion-vector-v1`) framing — chosen
  * by the Iceberg spec to be byte-compatible with Delta's DV payload:
  *
  * {{{
  *   <4 bytes big-endian: length of (magic + bitmap)>
  *   <payload: 4-byte magic D1 D3 39 64 + 64-bit roaring bitmap>  // exactly
  *       [[RoaringDv.serialize]]'s output (Delta magic 1681511377 LE)
  *   <4 bytes big-endian: CRC-32 of the payload>
  * }}}
  *
  * A reader holding the manifest entry's `content_offset` /
  * `content_size_in_bytes` jumps STRAIGHT to the blob — no footer read
  * on the scan path; the footer exists for discovery/audit tooling
  * ([[readFooter]], pinned by the spec vectors in IcebergV3Spec).
  * Everything here is KB-scale metadata plumbing.
  */
object Puffin {

  private val MAGIC: Array[Byte] = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"

  final case class BlobMeta(blobType: String, snapshotId: Long, sequenceNumber: Long,
                            offset: Long, length: Long, properties: Map[String, String],
                            fields: Seq[Int] = Nil)

  /** One blob to write: payload bytes + footer metadata. `fields` are
    * the source-schema field ids the blob describes (statistics blobs
    * set them; DV blobs don't). */
  final case class Blob(bytes: Array[Byte], blobType: String, snapshotId: Long,
                        sequenceNumber: Long, properties: Map[String, String],
                        fields: Seq[Int] = Nil)

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }

  /** Write a Puffin file; returns each blob's footer metadata (the
    * manifest entry's content_offset/content_size come from here). */
  def writeFile(path: String, blobs: Seq[Blob]): Seq[BlobMeta] = {
    require(blobs.nonEmpty, "puffin file with no blobs")
    var off = MAGIC.length.toLong
    val metas = blobs.map { b =>
      val m = BlobMeta(b.blobType, b.snapshotId, b.sequenceNumber,
        off, b.bytes.length.toLong, b.properties, b.fields)
      off += b.bytes.length
      m
    }
    val blobsJson = metas.map { m =>
      val props = m.properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
      s"""{"type":"${esc(m.blobType)}","fields":${m.fields.mkString("[", ",", "]")},""" +
        s""""snapshot-id":${m.snapshotId},""" +
        s""""sequence-number":${m.sequenceNumber},"offset":${m.offset},""" +
        s""""length":${m.length},"properties":$props}"""
    }.mkString("[", ",", "]")
    val footer = s"""{"blobs":$blobsJson,"properties":{"created-by":"graft"}}"""
      .getBytes(StandardCharsets.UTF_8)
    val buf = ByteBuffer.allocate(
      MAGIC.length + blobs.map(_.bytes.length).sum +
        MAGIC.length + footer.length + 4 + 4 + MAGIC.length)
    buf.put(MAGIC)
    blobs.foreach(b => buf.put(b.bytes))
    buf.put(MAGIC)
    buf.put(footer)
    buf.order(ByteOrder.LITTLE_ENDIAN).putInt(footer.length)
    buf.putInt(0) // flags: footer payload NOT compressed
    buf.put(MAGIC)
    Files.write(Paths.get(path), buf.array)
    metas
  }

  /** Parse the footer back into blob metadata (+ file properties). */
  def readFooter(path: String): (Seq[BlobMeta], Map[String, String]) = {
    val all = Files.readAllBytes(Paths.get(path))
    require(all.length >= 3 * MAGIC.length + 8, s"$path too short for a puffin file")
    def magicAt(i: Int) = MAGIC.indices.forall(j => all(i + j) == MAGIC(j))
    require(magicAt(0), s"$path: missing leading PFA1 magic")
    require(magicAt(all.length - 4), s"$path: missing trailing PFA1 magic")
    val tail = ByteBuffer.wrap(all, all.length - 12, 8).order(ByteOrder.LITTLE_ENDIAN)
    val footerSize = tail.getInt
    val flags = tail.getInt
    require((flags & 1) == 0, s"$path: compressed puffin footers not supported")
    val footerStart = all.length - 12 - footerSize
    require(footerStart >= 8 && magicAt(footerStart - 4),
      s"$path: footer-start magic missing (corrupt footer size $footerSize)")
    val json = new String(all, footerStart, footerSize, StandardCharsets.UTF_8)
    // STRUCTURAL parse (not a key-order-pinned regex): a spec-valid
    // foreign footer with reordered keys, whitespace, or extra fields
    // (`compression-codec`) parses instead of erroring; genuinely
    // missing required keys fail loudly
    val footer = IcebergReader.mapper.readTree(json)
    def strings(n: JsonNode, key: String): Map[String, String] =
      IcebergReader.field(n, key).toSeq.flatMap(IcebergReader.props)
        .map(e => e._1 -> e._2.asText).toMap
    val blobs = IcebergReader.elems(footer, "blobs").map { o =>
      def req(key: String): JsonNode = IcebergReader.field(o, key).getOrElse(
        throw new IllegalArgumentException(
          s"$path: puffin blob entry missing required $key: $o"))
      IcebergReader.field(o, "compression-codec").foreach(c =>
        throw new IllegalArgumentException(
          s"$path: puffin blob compressed with '${c.asText}' — this reader handles " +
            "uncompressed blobs only"))
      BlobMeta(req("type").asText, req("snapshot-id").asLong, req("sequence-number").asLong,
        req("offset").asLong, req("length").asLong, strings(o, "properties"),
        IcebergReader.elems(o, "fields").map(_.asInt))
    }
    val fileProps = strings(footer, "properties")
    (blobs, fileProps)
  }

  /** Positioned read of one blob's raw bytes (statistics sketches etc.
    * — no DV framing). */
  def readBlob(path: String, offset: Long, length: Long): Array[Byte] = {
    val fileLen = Files.size(Paths.get(path))
    require(offset >= 0 && length >= 0 && offset + length <= fileLen,
      s"blob [$offset, +$length) out of range for $path ($fileLen bytes)")
    val out = new Array[Byte](length.toInt)
    val ch = java.nio.channels.FileChannel.open(Paths.get(path))
    try {
      val bb = ByteBuffer.wrap(out)
      var pos = offset
      while (bb.hasRemaining) {
        val n = ch.read(bb, pos)
        require(n > 0, s"short read at $path+$pos")
        pos += n
      }
    } finally ch.close()
    out
  }

  // ---- the deletion-vector-v1 blob ----------------------------------------

  /** Frame an already-serialized [[RoaringDv]] payload as a
    * `deletion-vector-v1` blob: `<len BE><payload><crc32(payload) BE>`.
    * The payload ALREADY starts with the 4-byte magic D1 D3 39 64
    * (Delta's 1681511377 little-endian — the byte-compatibility the
    * Iceberg spec chose deliberately), so `len` covers magic + bitmap
    * exactly as the spec words it. */
  def dvBlobBytes(payload: Array[Byte]): Array[Byte] = {
    require(payload.length >= 4 &&
      ByteBuffer.wrap(payload, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt == 1681511377,
      "DV blob payload must start with the roaring magic D1 D3 39 64")
    val crc = new CRC32
    crc.update(payload)
    ByteBuffer.allocate(4 + payload.length + 4)
      .putInt(payload.length) // big-endian (ByteBuffer default)
      .put(payload)
      .putInt(crc.getValue.toInt)
      .array
  }

  /** Read a DV blob straight by (offset, size) — the scan path's jump;
    * validates frame length and CRC, returns the roaring payload. The
    * read is POSITIONED (only the blob's bytes leave the disk): a wide
    * DELETE packs one blob per touched file into one puffin, so a
    * whole-file read here would be O(blobs²) bytes across a commit's
    * DV loads at 100 TB scale. */
  def readDvPayload(path: String, offset: Long, sizeInBytes: Long): Array[Byte] = {
    val fileLen = Files.size(Paths.get(path))
    require(offset >= 0 && sizeInBytes >= 8 && offset + sizeInBytes <= fileLen,
      s"DV blob [$offset, +$sizeInBytes) out of range for $path ($fileLen bytes)")
    val blob = new Array[Byte](sizeInBytes.toInt)
    val ch = java.nio.channels.FileChannel.open(Paths.get(path))
    try {
      val bb = ByteBuffer.wrap(blob)
      var pos = offset
      while (bb.hasRemaining) {
        val n = ch.read(bb, pos)
        require(n > 0, s"short read at $path+$pos")
        pos += n
      }
    } finally ch.close()
    val buf = ByteBuffer.wrap(blob)
    val len = buf.getInt
    require(len == sizeInBytes - 8,
      s"DV blob at $path+$offset: frame length $len != blob size $sizeInBytes - 8")
    val payload = new Array[Byte](len)
    buf.get(payload)
    val crc = new CRC32
    crc.update(payload)
    require(buf.getInt == crc.getValue.toInt, s"DV blob CRC mismatch at $path+$offset")
    payload
  }
}
