package graft.delta

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.fs.{FileSystem, Path}

/** Deletion vectors — the Delta protocol's merge-on-read row-level
  * delete (PROTOCOL.md "Deletion Vectors"; the feature delta-rs gates
  * behind `delta.enableDeletionVectors`).
  *
  * Why this exists at 100 TB: a copy-on-write DELETE of 0.1% of rows
  * rewrites every file containing a match — data-proportional I/O for a
  * metadata-sized change. A deletion vector instead writes a BITMAP of
  * deleted row positions per file (KBs) and leaves the data files alone;
  * scans subtract the bitmap. The rewrite cost moves to a background
  * OPTIMIZE/purge that runs when convenient, not inside the delete.
  *
  * On-disk format, following the public protocol spec:
  *  - The bitmap is a 64-bit "RoaringBitmapArray" in the PORTABLE
  *    serialization: 4-byte little-endian magic 1681511377, 8-byte
  *    little-endian count of 32-bit bitmaps, then each 32-bit bitmap in
  *    the standard RoaringFormatSpec layout (cookie 12346, "no run
  *    containers": container count, per-container 2-byte key +
  *    2-byte (cardinality−1) headers, 4-byte start offsets, then array
  *    containers as sorted 2-byte shorts or — above 4096 values — 8 KiB
  *    bitset containers). A 64-bit value v lives in bitmap v >>> 32 at
  *    low word (v & 0xFFFFFFFF). We WRITE the no-run layout always (it
  *    is always valid) and refuse the run-container cookie loudly on
  *    read — a documented boundary, not silent corruption.
  *  - DV FILES (descriptor storageType "u"): a 1-byte format version (1),
  *    then per DV at its descriptor offset: 4-byte big-endian length,
  *    the bitmap bytes, 4-byte big-endian CRC-32 of the bitmap bytes.
  *    Several DVs of one commit share one file at different offsets.
  *  - INLINE DVs (storageType "i"): the bitmap bytes Z85-encoded into
  *    `pathOrInlineDv` (ZeroMQ base85, 4 bytes → 5 chars; the bitmap is
  *    zero-padded to a 4-byte multiple before encoding and the
  *    descriptor's sizeInBytes records the UNPADDED length, so decoding
  *    truncates the pad away).
  */
object DeletionVectors {

  /** Portable-format magic number (from the Delta/RoaringBitmapArray
    * spec). */
  val PortableMagic: Int = 1681511377

  /** RoaringFormatSpec cookies. */
  private val SerialCookieNoRun = 12346
  private val SerialCookieRun = 12347

  /** DV file format version byte. */
  val FileFormatVersion: Byte = 1

  // ---------------------------------------------------------------------
  // 64-bit roaring bitmap (sorted-distinct longs → portable bytes → back)
  // ---------------------------------------------------------------------

  /** Serialize sorted distinct non-negative longs as a portable
    * RoaringBitmapArray. Caller guarantees sorted-distinct (builders
    * below do); values must fit the spec's high/low split (≥ 0). */
  def serialize(sorted: Array[Long]): Array[Byte] = {
    require(sorted.isEmpty || sorted.head >= 0, "row positions must be >= 0")
    var i = 1
    while (i < sorted.length) {
      require(sorted(i - 1) < sorted(i), "positions must be sorted distinct")
      i += 1
    }
    // group by 32-bit high key
    val byHigh = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    sorted.foreach { v =>
      byHigh.getOrElseUpdate((v >>> 32).toInt, scala.collection.mutable.ArrayBuffer.empty[Int]) +=
        (v & 0xFFFFFFFFL).toInt
    }
    // the array is POSITIONAL: bitmap k holds values with high key k, so
    // empty high keys below the max must still serialize (as empty maps)
    val maxHigh = if (byHigh.isEmpty) -1 else byHigh.keys.max
    val bitmaps = (0 to maxHigh).map(k => serialize32(byHigh.getOrElse(k, scala.collection.mutable.ArrayBuffer.empty).toArray))
    val total = 4 + 8 + bitmaps.map(_.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(PortableMagic)
    buf.putLong((maxHigh + 1).toLong)
    bitmaps.foreach(buf.put)
    buf.array()
  }

  /** One 32-bit roaring bitmap, RoaringFormatSpec no-run layout. `lows`
    * are sorted distinct ints interpreted UNSIGNED. */
  private def serialize32(lows: Array[Int]): Array[Byte] = {
    // group into 2^16 containers by unsigned high short
    val keys = scala.collection.mutable.ArrayBuffer.empty[Int]
    val containers = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var i = 0
    while (i < lows.length) {
      val key = lows(i) >>> 16
      var j = i
      while (j < lows.length && (lows(j) >>> 16) == key) j += 1
      keys += key
      containers += java.util.Arrays.copyOfRange(lows, i, j).map(_ & 0xFFFF)
      i = j
    }
    val n = keys.length
    val containerBytes = containers.map { c =>
      if (c.length > 4096) { // bitset container: fixed 8 KiB
        val bits = new Array[Byte](8192)
        c.foreach(v => bits(v >>> 3) = (bits(v >>> 3) | (1 << (v & 7))).toByte)
        bits
      } else {
        val b = ByteBuffer.allocate(2 * c.length).order(ByteOrder.LITTLE_ENDIAN)
        c.foreach(v => b.putShort(v.toShort))
        b.array()
      }
    }
    val headerLen = 4 + 4 + 4 * n + 4 * n // cookie, count, (key,card) pairs, offsets
    val buf = ByteBuffer.allocate(headerLen + containerBytes.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(SerialCookieNoRun)
    buf.putInt(n)
    (0 until n).foreach { k =>
      buf.putShort(keys(k).toShort)
      buf.putShort((containers(k).length - 1).toShort)
    }
    var off = headerLen
    (0 until n).foreach { k => buf.putInt(off); off += containerBytes(k).length }
    containerBytes.foreach(buf.put)
    buf.array()
  }

  /** Deserialize a portable RoaringBitmapArray back to sorted distinct
    * longs. Refuses unknown magics/cookies loudly. */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt
    require(magic == PortableMagic, s"not a portable RoaringBitmapArray (magic $magic)")
    val nBitmaps = buf.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue, s"absurd bitmap count $nBitmaps")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0L until nBitmaps).foreach { high =>
      deserialize32(buf).foreach(low => out += (high << 32) | (low & 0xFFFFFFFFL))
    }
    out.toArray
  }

  /** One 32-bit bitmap starting at the buffer's position; advances it. */
  private def deserialize32(buf: ByteBuffer): Array[Int] = {
    val start = buf.position()
    val cookie = buf.getInt
    require((cookie & 0xFFFF) != SerialCookieRun,
      "run-container roaring serialization is not supported by this reader " +
        "(this writer never produces it)")
    require(cookie == SerialCookieNoRun, s"bad roaring cookie $cookie")
    val n = buf.getInt
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    (0 until n).foreach { k =>
      keys(k) = buf.getShort & 0xFFFF
      cards(k) = (buf.getShort & 0xFFFF) + 1
    }
    val offsets = new Array[Int](n)
    (0 until n).foreach(k => offsets(k) = buf.getInt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    // leave the buffer at the end of this bitmap: max(offset + container
    // length) over ALL containers — tracked explicitly (seeded with the
    // header end), so parsing is independent of container storage order;
    // a spec-valid bitmap with out-of-order container data must not
    // corrupt the NEXT bitmap of a multi-bitmap array
    var maxEnd = start + 8 + 8 * n
    (0 until n).foreach { k =>
      buf.position(start + offsets(k))
      if (cards(k) > 4096) { // bitset container
        val bits = new Array[Byte](8192)
        buf.get(bits)
        var v = 0
        while (v < 65536) {
          if ((bits(v >>> 3) & (1 << (v & 7))) != 0) out += (keys(k) << 16) | v
          v += 1
        }
      } else {
        (0 until cards(k)).foreach { _ =>
          out += (keys(k) << 16) | (buf.getShort & 0xFFFF)
        }
      }
      maxEnd = math.max(maxEnd, buf.position())
    }
    buf.position(maxEnd)
    out.toArray
  }

  // ---------------------------------------------------------------------
  // Z85 (ZeroMQ base85) — inline DV encoding
  // ---------------------------------------------------------------------

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85-encode; input length must be a multiple of 4. */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85 needs 4-byte alignment, got ${bytes.length}")
    val sb = new java.lang.StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      (0 until 4).foreach(k => v = (v << 8) | (bytes(i + k) & 0xFFL))
      val chars = new Array[Char](5)
      (4 to 0 by -1).foreach { k => chars(k) = Z85Chars((v % 85).toInt); v /= 85 }
      sb.append(chars)
      i += 4
    }
    sb.toString
  }

  /** Z85-decode; input length must be a multiple of 5. */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 needs 5-char alignment, got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      (0 until 5).foreach { k =>
        val c = s.charAt(i + k)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"bad z85 char '$c'")
        v = v * 85 + d
      }
      (3 to 0 by -1).foreach { k => out(o + k) = (v & 0xFF).toByte; v >>>= 8 }
      i += 5
      o += 4
    }
    out
  }

  // ---------------------------------------------------------------------
  // Descriptor storage: inline / uuid file
  // ---------------------------------------------------------------------

  /** DVs whose serialized bitmap is at most this many bytes inline into
    * the log ("i" storage); larger ones go to a shared DV file. Inline
    * keeps tiny deletes at zero extra files; the cap keeps the LOG from
    * bloating (every snapshot replay carries inline bytes). */
  val InlineMaxBytes: Int = 512

  /** Encode a UUID's 16 big-endian bytes as the 20-char Z85 string the
    * protocol stores in a "u" descriptor's `pathOrInlineDv`. */
  def encodeUuid(uuid: java.util.UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  /** TABLE-RELATIVE physical file name a "u" descriptor resolves to, per
    * PROTOCOL.md: `pathOrInlineDv` is `<random prefix><z85 UUID>` — the
    * LAST 20 chars are always the encoded UUID, anything before is an
    * optional directory prefix — and the on-disk name derives as
    * `[<prefix>/]deletion_vector_<uuid>.bin`. */
  def relativeFileName(pathOrInlineDv: String): String = {
    require(pathOrInlineDv.length >= 20,
      s"'u' descriptor too short for a z85 UUID: '$pathOrInlineDv'")
    val encoded = pathOrInlineDv.takeRight(20)
    val prefix = pathOrInlineDv.dropRight(20)
    val bb = ByteBuffer.wrap(z85Decode(encoded))
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val name = s"deletion_vector_$uuid.bin"
    if (prefix.isEmpty) name else s"$prefix/$name"
  }

  /** Resolve a non-inline descriptor to its physical path + the
    * FileSystem that owns it. An absolute ("p") descriptor — a shallow
    * clone of a foreign-FS source — resolves its OWN FileSystem; the
    * table's handle would throw "Wrong FS" for a different scheme or
    * authority. The single seam for every consumer that touches DV
    * files (read, restore-existence check, vacuum's referenced set). */
  def physicalLocation(fs0: FileSystem, tablePath: String,
                       d: Actions.DeletionVectorDescriptor): (FileSystem, Path) =
    d.storageType match {
      case "u" => (fs0, new Path(tablePath, relativeFileName(d.pathOrInlineDv)))
      case "p" =>
        val p = new Path(d.pathOrInlineDv)
        (p.getFileSystem(fs0.getConf), p)
      case other =>
        throw new IllegalArgumentException(s"descriptor storageType '$other' has no file")
    }

  /** Write the given bitmaps into ONE new DV file under the table root
    * and return descriptors in input order. The descriptor stores the
    * z85-encoded UUID (NOT the file name — conforming readers derive
    * `deletion_vector_<uuid>.bin` from it, see [[relativeFileName]]).
    * File layout as documented on the object: version byte, then per DV
    * [4-byte BE length | bitmap | 4-byte BE CRC-32]; each descriptor's
    * offset points at its length prefix. */
  def writeDvFile(fs: FileSystem, tablePath: String,
                  bitmaps: Seq[Array[Byte]]): Seq[Actions.DeletionVectorDescriptor] = {
    require(bitmaps.nonEmpty, "no deletion vectors to write")
    val uuid = java.util.UUID.randomUUID()
    val encoded = encodeUuid(uuid)
    val rel = relativeFileName(encoded)
    val file = new Path(tablePath, rel)
    val out = fs.create(file, false)
    val descs = scala.collection.mutable.ArrayBuffer.empty[Actions.DeletionVectorDescriptor]
    try {
      try {
        out.writeByte(FileFormatVersion.toInt)
        var offset = 1
        bitmaps.foreach { b =>
          val crc = new CRC32()
          crc.update(b)
          out.writeInt(b.length)
          out.write(b)
          out.writeInt(crc.getValue.toInt)
          descs += Actions.DeletionVectorDescriptor(
            storageType = "u",
            pathOrInlineDv = encoded,
            offset = Some(offset),
            sizeInBytes = b.length,
            cardinality = deserializedCardinality(b))
          offset += 4 + b.length + 4
        }
      } finally out.close()
    } catch { case e: Throwable =>
      // a partly written file is never referenced: remove it, best effort
      try fs.delete(file, false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
    descs.toSeq
  }

  /** Cardinality without materializing values (sum of container
    * cardinalities). */
  private def deserializedCardinality(bytes: Array[Byte]): Long = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt == PortableMagic, "not a portable bitmap")
    val nBitmaps = buf.getLong
    var total = 0L
    (0L until nBitmaps).foreach { _ =>
      val start = buf.position()
      require(buf.getInt == SerialCookieNoRun, "bad cookie")
      val n = buf.getInt
      var maxEnd = start + 8 + 8 * n
      val cards = new Array[Int](n)
      (0 until n).foreach { k =>
        buf.getShort // key
        cards(k) = (buf.getShort & 0xFFFF) + 1
        total += cards(k)
      }
      (0 until n).foreach { k =>
        val off = buf.getInt
        val len = if (cards(k) > 4096) 8192 else 2 * cards(k)
        maxEnd = math.max(maxEnd, start + off + len)
      }
      buf.position(maxEnd)
    }
    total
  }

  /** Inline descriptor for a small bitmap (zero-padded to 4 bytes for
    * Z85; sizeInBytes records the unpadded length). */
  def inlineDescriptor(bitmap: Array[Byte]): Actions.DeletionVectorDescriptor = {
    val padded =
      if (bitmap.length % 4 == 0) bitmap
      else java.util.Arrays.copyOf(bitmap, bitmap.length + (4 - bitmap.length % 4))
    Actions.DeletionVectorDescriptor(
      storageType = "i",
      pathOrInlineDv = z85Encode(padded),
      offset = None,
      sizeInBytes = bitmap.length,
      cardinality = deserializedCardinality(bitmap))
  }

  /** Load a descriptor's deleted positions. File reads verify the length
    * prefix and CRC; a vacuumed/corrupt DV file refuses loudly. */
  def readPositions(fs: FileSystem, tablePath: String,
                    d: Actions.DeletionVectorDescriptor): Array[Long] =
    deserialize(readBitmap(fs, tablePath, d))

  /** The raw serialized bitmap behind a descriptor. */
  def readBitmap(fs0: FileSystem, tablePath: String,
                 d: Actions.DeletionVectorDescriptor): Array[Byte] = d.storageType match {
    case "i" =>
      java.util.Arrays.copyOf(z85Decode(d.pathOrInlineDv), d.sizeInBytes)
    case "u" | "p" =>
      val (fs, p) = physicalLocation(fs0, tablePath, d)
      if (!fs.exists(p))
        throw new IllegalStateException(
          s"deletion vector file ${d.pathOrInlineDv} is missing (vacuumed?) — " +
            "the rows it deletes cannot be reconstructed")
      val in = fs.open(p)
      try {
        in.seek(d.offset.getOrElse(0).toLong)
        val len = in.readInt()
        require(len == d.sizeInBytes,
          s"DV length prefix $len != descriptor sizeInBytes ${d.sizeInBytes}")
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        val storedCrc = in.readInt()
        val crc = new CRC32()
        crc.update(bytes)
        require(storedCrc == crc.getValue.toInt,
          s"DV checksum mismatch in ${d.pathOrInlineDv} at offset ${d.offset}")
        bytes
      } finally in.close()
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }

  /** Build a descriptor for `positions` (sorted distinct), choosing
    * inline vs file storage by serialized size. When several files'
    * DVs are written in one commit the caller batches the file-backed
    * ones through [[writeDvFile]] — this helper is the single-DV path. */
  def store(fs: FileSystem, tablePath: String,
            positions: Array[Long]): Actions.DeletionVectorDescriptor = {
    val bytes = serialize(positions)
    if (bytes.length <= InlineMaxBytes) inlineDescriptor(bytes)
    else writeDvFile(fs, tablePath, Seq(bytes)).head
  }

  /** Sorted-distinct union of `fresh` (sorted distinct) with an existing
    * serialized bitmap, re-serialized — the per-file bitmap MERGE a
    * repeated DV delete performs, runnable on an EXECUTOR (both inputs
    * and the output are ∝ that one file's deleted rows). */
  def mergeSerialize(fresh: Array[Long], old: Option[Array[Byte]]): Array[Byte] =
    old match {
      case None => serialize(fresh)
      case Some(bytes) =>
        val a = deserialize(bytes)
        val out = new Array[Long](a.length + fresh.length)
        var i = 0; var j = 0; var k = 0
        while (i < a.length && j < fresh.length) {
          if (a(i) < fresh(j)) { out(k) = a(i); i += 1 }
          else if (a(i) > fresh(j)) { out(k) = fresh(j); j += 1 }
          else { out(k) = a(i); i += 1; j += 1 } // defensive: dedupe ties
          k += 1
        }
        while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
        while (j < fresh.length) { out(k) = fresh(j); j += 1; k += 1 }
        serialize(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
    }

  /** Number of set values in a serialized bitmap without materializing
    * them (sum of container cardinalities) — the executor-side
    * cardinality a descriptor records. */
  def cardinalityOf(bytes: Array[Byte]): Long = deserializedCardinality(bytes)
}

/** O(log) membership over a SERIALIZED RoaringBitmapArray — no
  * deserialization to a position list, so the scan-side memory cost of a
  * deletion vector is its compressed bytes, not 8 bytes per deleted row.
  * The per-bitmap start offsets index lazily (once per deserialized copy
  * — i.e. once per executor under a broadcast); lookups are absolute
  * byte reads with zero allocation. */
final class BitmapView(bytes: Array[Byte]) extends Serializable {
  import DeletionVectors.PortableMagic

  // absolute little-endian reads
  @inline private def u8(p: Int): Int = bytes(p) & 0xFF
  @inline private def u16(p: Int): Int = u8(p) | (u8(p + 1) << 8)
  @inline private def i32(p: Int): Int =
    u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16) | (u8(p + 3) << 24)

  /** Start offset of each 32-bit bitmap (index = high word). */
  @transient private lazy val bitmapStarts: Array[Int] = {
    require(i32(0) == PortableMagic, s"not a portable RoaringBitmapArray")
    val n = ByteBuffer.wrap(bytes, 4, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    require(n >= 0 && n <= Int.MaxValue, s"absurd bitmap count $n")
    val starts = new Array[Int](n.toInt)
    var pos = 12
    var b = 0
    while (b < n) {
      starts(b) = pos
      val cnt = i32(pos + 4)
      var maxEnd = pos + 8 + 8 * cnt
      var k = 0
      while (k < cnt) {
        val card = u16(pos + 8 + 4 * k + 2) + 1
        val off = i32(pos + 8 + 4 * cnt + 4 * k)
        val len = if (card > 4096) 8192 else 2 * card
        maxEnd = math.max(maxEnd, pos + off + len)
        k += 1
      }
      pos = maxEnd
      b += 1
    }
    starts
  }

  def contains(v: Long): Boolean = {
    if (v < 0) return false
    val high = v >>> 32
    if (high >= bitmapStarts.length) return false
    val start = bitmapStarts(high.toInt)
    val n = i32(start + 4)
    val low = (v & 0xFFFFFFFFL).toInt
    val key = low >>> 16
    // binary search the (sorted) container keys in the header
    var lo = 0
    var hi = n - 1
    var found = -1
    while (found < 0 && lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = u16(start + 8 + 4 * mid)
      if (k == key) found = mid
      else if (k < key) lo = mid + 1
      else hi = mid - 1
    }
    if (found < 0) return false
    val card = u16(start + 8 + 4 * found + 2) + 1
    val cStart = start + i32(start + 8 + 4 * n + 4 * found)
    val target = low & 0xFFFF
    if (card > 4096) (u8(cStart + (target >>> 3)) & (1 << (target & 7))) != 0
    else {
      var l = 0
      var h = card - 1
      var hit = false
      while (!hit && l <= h) {
        val m = (l + h) >>> 1
        val s = u16(cStart + 2 * m)
        if (s == target) hit = true
        else if (s < target) l = m + 1
        else h = m - 1
      }
      hit
    }
  }
}

/** Broadcast-side deleted-row membership for a snapshot: file key →
  * serialized bitmap. Deserialized ONCE per executor (Spark broadcast
  * semantics); the UTF8String-keyed index builds lazily there, so the
  * per-row probe in [[graft.delta.DvDeleted]] allocates nothing. */
final class DvLookup(bitmaps: Map[String, Array[Byte]]) extends Serializable {
  @transient private lazy val views: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, BitmapView] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, BitmapView](
      bitmaps.size * 2)
    bitmaps.foreach { case (k, b) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(k), new BitmapView(b))
    }
    m
  }

  def deleted(fileKey: org.apache.spark.unsafe.types.UTF8String, pos: Long): Boolean = {
    val v = views.get(fileKey)
    v != null && v.contains(pos)
  }
}
