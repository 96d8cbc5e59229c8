package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import org.roaringbitmap.RoaringBitmap

/** PUBLIC-spec Delta Lake deletion-vector plumbing, from scratch:
  *
  *   - the Z85 codec (the ZeroMQ RFC 32 alphabet) Delta uses to spell
  *     DV file UUIDs and inline DV payloads inside JSON actions,
  *   - the 64-bit "RoaringBitmapArray" portable serialization the spec
  *     mandates for the bitmap payload (4-byte magic 1681511377 LE +
  *     8-byte bitmap count + one standard 32-bit roaring bitmap per
  *     high word). The writer emits array/bitset containers only (it
  *     never has run-friendly inputs); the reader decodes each 32-bit
  *     bitmap with `org.roaringbitmap` (Spark's own dependency), so it
  *     also takes the RUN containers real DV writers emit after
  *     optimize on dense deletes,
  *   - the on-disk DV file frame: a 1-byte format version, then each
  *     DV at its descriptor's `offset` as
  *     `<4-byte BE size><payload><4-byte BE CRC32(payload)>`.
  *
  * Everything here is KB-scale metadata plumbing; the positions a DV
  * masks are applied to data by one filter inside the scan that tests
  * Spark's native parquet `_metadata.row_index` against the file's
  * bitmap ([[LakeScan.unmasked]]), so the data path stays the
  * pushdown-friendly scan.
  */
object RoaringDv {

  // ---- Z85 (ZeroMQ RFC 32) -----------------------------------------------

  private val Z85: Array[Char] =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Z85Inv: Array[Int] = {
    val inv = Array.fill(128)(-1)
    Z85.zipWithIndex.foreach { case (c, i) => inv(c.toInt) = i }
    inv
  }

  /** Z85-encode; length must be a multiple of 4 (the spec pads DV
    * payloads to that boundary before encoding UUIDs never need it). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85 needs 4-byte alignment, got ${bytes.length}")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) { sb.append(Z85((v / div % 85).toInt)); div /= 85 }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 text length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Inv(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      var k = 0
      while (k < 4) { out(i / 5 * 4 + k) = (v >>> (8 * (3 - k))).toByte; k += 1 }
      i += 5
    }
    out
  }

  // ---- RoaringBitmapArray (the spec's "portable" 64-bit format) ----------

  private val MAGIC = 1681511377
  // Public RoaringBitmap portable-format cookies: SERIAL_COOKIE_NO_RUNCONTAINER
  // = 12346 (followed by a 4-byte container count; what the writer emits),
  // SERIAL_COOKIE = 12347 (run-capable; container count - 1 lives in the
  // cookie's high 16 bits).
  private val COOKIE_NO_RUN = 12346
  private val COOKIE_RUN = 12347
  private val ARRAY_MAX = 4096

  /** Serialize sorted, distinct, non-negative row indexes. */
  def serialize(positions: Seq[Long]): Array[Byte] = {
    require(positions == positions.distinct.sorted, "positions must be sorted distinct")
    positions.foreach(p => require(p >= 0, s"negative row index $p"))
    // split by high 32 bits; the array is DENSE over 0..maxHigh (the
    // spec serializes `number of bitmaps` and indexes them by position)
    val byHigh = positions.groupBy(p => (p >>> 32).toInt)
    val nMaps = if (positions.isEmpty) 0 else byHigh.keys.max + 1
    val maps = (0 until nMaps).map(h =>
      serialize32(byHigh.getOrElse(h, Seq.empty).map(p => (p & 0xffffffffL).toInt)))
    val buf = ByteBuffer.allocate(4 + 8 + maps.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(MAGIC)
    buf.putLong(nMaps.toLong)
    maps.foreach(buf.put)
    buf.array
  }

  /** One standard 32-bit roaring bitmap (no-run portable format):
    * cookie 12346 + container count, per-container (key, card-1)
    * headers, offset header, then array (≤4096 values) or 8 KiB
    * bitset containers. */
  private def serialize32(values: Seq[Int]): Array[Byte] = {
    val byKey = values.groupBy(v => (v >>> 16) & 0xffff).toSeq.sortBy(_._1)
    val containers = byKey.map { case (key, vs) =>
      val lows = vs.map(_ & 0xffff).sorted
      val payload =
        if (lows.size <= ARRAY_MAX) {
          val b = ByteBuffer.allocate(lows.size * 2).order(ByteOrder.LITTLE_ENDIAN)
          lows.foreach(v => b.putShort(v.toShort))
          b.array
        } else {
          val bits = new Array[Byte](8192)
          lows.foreach(v => bits(v >>> 3) = (bits(v >>> 3) | (1 << (v & 7))).toByte)
          bits
        }
      (key, lows.size, payload)
    }
    val n = containers.size
    val headerLen = 8 + 4 * n + 4 * n // cookie+count, key/card pairs, offsets
    val buf = ByteBuffer.allocate(headerLen + containers.map(_._3.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(COOKIE_NO_RUN)
    buf.putInt(n)
    containers.foreach { case (k, card, _) =>
      buf.putShort(k.toShort); buf.putShort((card - 1).toShort)
    }
    var off = headerLen
    containers.foreach { c => buf.putInt(off); off += c._3.length }
    containers.foreach(c => buf.put(c._3))
    buf.array
  }

  /** The payload's 32-bit bitmaps, indexed by high word (the spec's
    * dense array), decoded by `org.roaringbitmap` — array, bitset and
    * run containers, with or without the offset header. */
  def bitmaps(bytes: Array[Byte]): Array[RoaringBitmap] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt == MAGIC, "not a RoaringBitmapArray payload (bad magic)")
    val nMaps = buf.getLong
    require(nMaps >= 0 && nMaps < (1L << 31), s"implausible bitmap count $nMaps")
    Array.fill(nMaps.toInt) {
      val declared = declaredCardinality(buf.slice().order(ByteOrder.LITTLE_ENDIAN))
      val bm = new RoaringBitmap
      bm.deserialize(buf.slice().order(ByteOrder.LITTLE_ENDIAN))
      require(bm.getLongCardinality == declared,
        s"roaring bitmap declares $declared values but its containers hold " +
          bm.getLongCardinality)
      buf.position(buf.position() + bm.serializedSizeInBytes)
      bm
    }
  }

  /** The sum of a 32-bit bitmap's per-container header cardinalities —
    * checked against what its containers decode to, so a corrupt
    * payload fails instead of masking the wrong rows. */
  private def declaredCardinality(buf: ByteBuffer): Long = {
    val cookie = buf.getInt
    val n =
      if (cookie == COOKIE_NO_RUN) buf.getInt
      else if ((cookie & 0xffff) == COOKIE_RUN) {
        val n = ((cookie >>> 16) & 0xffff) + 1
        buf.position(buf.position() + (n + 7) / 8) // the run-container bitset
        n
      } else throw new IllegalArgumentException(s"bad roaring cookie $cookie")
    (0 until n).map { _ => buf.getShort; (buf.getShort & 0xffff) + 1L }.sum
  }

  /** Whether row index `pos` is in [[bitmaps]]' set. */
  def contains(bits: Array[RoaringBitmap], pos: Long): Boolean = {
    val high = pos >>> 32
    high < bits.length && bits(high.toInt).contains(pos.toInt)
  }

  /** Row indexes collected into 32-bit bitmaps by high word — how a
    * reader folds position-delete rows into a mask. */
  final class Positions {
    private val maps = scala.collection.mutable.ArrayBuffer.empty[RoaringBitmap]
    def add(pos: Long): Unit = {
      require(pos >= 0, s"negative row index $pos")
      val high = (pos >>> 32).toInt
      while (maps.size <= high) maps += new RoaringBitmap
      maps(high).add(pos.toInt)
    }
    def bitmaps: Array[RoaringBitmap] = maps.toArray
  }

  /** The union of several [[bitmaps]] results. */
  def union(sets: Seq[Array[RoaringBitmap]]): Array[RoaringBitmap] =
    Array.tabulate(if (sets.isEmpty) 0 else sets.map(_.length).max) { high =>
      RoaringBitmap.or(sets.filter(_.length > high).map(_(high)): _*)
    }

  /** A RoaringBitmapArray payload of `bits`, serialized by
    * `org.roaringbitmap` — the form a reader ships to its scan as a mask.
    * DVs written to a table go through [[serialize]]. */
  def payload(bits: Array[RoaringBitmap]): Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + bits.map(_.serializedSizeInBytes).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(MAGIC)
    buf.putLong(bits.length.toLong)
    bits.foreach(_.serialize(buf))
    buf.array
  }

  /** Deserialize back to sorted row indexes. */
  def deserialize(bytes: Array[Byte]): Seq[Long] =
    bitmaps(bytes).toSeq.zipWithIndex.flatMap { case (bm, high) =>
      bm.toArray.toSeq.map(low => (high.toLong << 32) | (low & 0xffffffffL))
    }

  // ---- the DV file frame ---------------------------------------------------

  /** Write one DV file under `base` carrying a single DV; returns the
    * descriptor pieces (z85 uuid spelling, offset, sizeInBytes). The
    * layout is the spec's: version byte 1, then at `offset` a 4-byte
    * BIG-endian payload size, the payload, and its CRC32 (BE). */
  def writeDvFile(base: String, positions: Seq[Long]): (String, Long, Int) =
    writeDvPayload(base, serialize(positions))

  /** Same frame, but from an ALREADY-serialized bitmap payload — the
    * DML path builds payloads executor-side and ships only the bytes
    * to the driver for the commit. */
  def writeDvPayload(base: String, payload: Array[Byte]): (String, Long, Int) = {
    val uuid = java.util.UUID.nameUUIDFromBytes(payload) // deterministic fixture ids
    val uuidBytes = ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array
    val name = s"deletion_vector_${uuid.toString}.bin"
    val crc = new CRC32
    crc.update(payload)
    val buf = ByteBuffer.allocate(1 + 4 + payload.length + 4)
    buf.put(1.toByte)
    buf.putInt(payload.length)
    buf.put(payload)
    buf.putInt(crc.getValue.toInt)
    Files.write(Paths.get(base, name), buf.array)
    (z85Encode(uuidBytes), 1L, payload.length)
  }

  /** Resolve a descriptor to its bitmap payload bytes. `storageType`
    * 'u' = z85 uuid (with optional path prefix) relative to the table
    * root, 'p' = absolute path, 'i' = inline z85 payload. */
  def loadPayload(base: String, storageType: String, pathOrInlineDv: String,
                  offset: Long, sizeInBytes: Int): Array[Byte] = storageType match {
    case "i" =>
      // inline payloads are z85 of the 4-byte-aligned payload; the spec
      // pads with zero bytes the size field lets us strip
      z85Decode(pathOrInlineDv).take(sizeInBytes)
    case "u" | "p" =>
      val path =
        if (storageType == "p") pathOrInlineDv
        else {
          // pathOrInlineDv = [random prefix]<20-char z85 uuid>
          val (prefix, z) = pathOrInlineDv.splitAt(pathOrInlineDv.length - 20)
          val b = ByteBuffer.wrap(z85Decode(z))
          val uuid = new java.util.UUID(b.getLong, b.getLong)
          val dir = if (prefix.isEmpty) base else s"$base/$prefix"
          s"$dir/deletion_vector_$uuid.bin"
        }
      val all = Files.readAllBytes(Paths.get(path))
      val buf = ByteBuffer.wrap(all)
      buf.position(offset.toInt)
      val n = buf.getInt
      require(n == sizeInBytes,
        s"DV size mismatch at $path+$offset: frame says $n, descriptor $sizeInBytes")
      val payload = new Array[Byte](n)
      buf.get(payload)
      val crc = new CRC32
      crc.update(payload)
      require(buf.getInt == crc.getValue.toInt, s"DV checksum mismatch at $path")
      payload
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }
}
