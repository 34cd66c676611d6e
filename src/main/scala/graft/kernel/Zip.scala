package graft.kernel

/** From-scratch ZIP reader — the container under DOCX/XLSX/EPUB/JAR
  * payloads in a web crawl. Central-directory driven (the authoritative
  * index per the ZIP spec): scan the End-Of-Central-Directory record
  * from the tail, walk the central directory, cross-check each local
  * header, inflate (raw DEFLATE via [[Compress.inflate]]) or copy
  * STORED data. ZIP64, encryption and other compression methods are
  * rejected explicitly.
  *
  * All offsets are range-checked in Long; malformed input throws (C5).
  */
object Zip {

  def isZip(p: Array[Byte]): Boolean =
    p.length >= 4 && p(0) == 'P' && p(1) == 'K' && p(2) == 3 && p(3) == 4

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  final case class Entry(name: String, method: Int, compressedSize: Long,
                         uncompressedSize: Long, localOffset: Long)

  /** Central-directory listing (names in UTF-8/CP437-agnostic bytes —
    * office formats always use ASCII names).
    */
  def entries(p: Array[Byte]): Seq[Entry] = {
    require(p.length >= 22, "too short for a ZIP")
    // EOCD: signature PK\5\6, within the last 64 KB + 22 bytes
    var eocd = -1
    var i = p.length - 22
    val stop = math.max(0, p.length - 22 - 65535)
    while (eocd < 0 && i >= stop) {
      if (p(i) == 'P' && p(i + 1) == 'K' && p(i + 2) == 5 && p(i + 3) == 6)
        eocd = i
      i -= 1
    }
    require(eocd >= 0, "missing end-of-central-directory record")
    val count = le16(p, eocd + 10)
    val cdSize = le32(p, eocd + 12)
    val cdOff = le32(p, eocd + 16)
    require(cdOff + cdSize <= eocd, "central directory out of bounds")
    // 0xffff entry count and 0xffffffff offset are the ZIP64 sentinels
    require(count != 0xffff && cdOff != 0xffffffffL, "ZIP64 unsupported")
    val out = Vector.newBuilder[Entry]
    var off = cdOff
    var e = 0
    while (e < count) {
      require(off + 46 <= eocd, "truncated central directory")
      val o = off.toInt
      require(p(o) == 'P' && p(o + 1) == 'K' && p(o + 2) == 1 && p(o + 3) == 2,
        "bad central-directory signature")
      val flags = le16(p, o + 8)
      require((flags & 0x1) == 0, "encrypted entries unsupported")
      val method = le16(p, o + 10)
      val csize = le32(p, o + 20)
      val usize = le32(p, o + 24)
      val nameLen = le16(p, o + 28)
      val extraLen = le16(p, o + 30)
      val commentLen = le16(p, o + 32)
      val localOff = le32(p, o + 42)
      require(off + 46 + nameLen + extraLen + commentLen <= eocd,
        "central-directory entry out of bounds")
      val name = new String(p, o + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      require(usize <= Compress.MaxDecodedBytes, s"implausible entry size $usize")
      out += Entry(name, method, csize, usize, localOff)
      off += 46 + nameLen + extraLen + commentLen
      e += 1
    }
    out.result()
  }

  /** Extract one entry's bytes (STORED or DEFLATE). */
  def extract(p: Array[Byte], entry: Entry): Array[Byte] = {
    require(entry.localOffset + 30 <= p.length, "local header out of bounds")
    val o = entry.localOffset.toInt
    require(p(o) == 'P' && p(o + 1) == 'K' && p(o + 2) == 3 && p(o + 3) == 4,
      "bad local header signature")
    val nameLen = le16(p, o + 26)
    val extraLen = le16(p, o + 28)
    val dataOff = entry.localOffset + 30 + nameLen + extraLen
    require(dataOff + entry.compressedSize <= p.length, "entry data out of bounds")
    val start = dataOff.toInt
    val clen = entry.compressedSize.toInt
    entry.method match {
      case 0 => // STORED
        require(entry.compressedSize == entry.uncompressedSize, "stored size mismatch")
        java.util.Arrays.copyOfRange(p, start, start + clen)
      case 8 => // DEFLATE (raw)
        // one byte past the declared size: a stream still mid-flight there
        // inflates PAST it, and silent truncation would hide corrupt metadata
        val usize = entry.uncompressedSize.toInt
        val out = Compress.inflate(p, start, clen, raw = true, usize + 1)
        require(out.length <= usize, "entry inflates past its declared size")
        require(out.length == usize, s"entry inflated to ${out.length}, expected $usize")
        out
      case m => throw new IllegalArgumentException(s"compression method $m unsupported")
    }
  }

  /** Find + extract by exact name. */
  def extractByName(p: Array[Byte], name: String): Option[Array[Byte]] =
    entries(p).find(_.name == name).map(extract(p, _))
}
