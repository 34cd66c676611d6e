package graft.kernel

/** The engine's zlib/zstd boundary: a compression-ratio text signal and
  * the capped decoders every kernel and source decodes through.
  *
  * The signal is DEFLATE(text).size / text.size, the
  * corpus-quality heuristic published with Gopher/MassiveText (Rae et
  * al. 2021 §A.1.1 discuss repetition; Dolma and CCNet-descendant
  * pipelines apply the zlib-ratio form): highly repetitive spam (keyword
  * stuffing, boilerplate loops, template farms) compresses far below
  * natural prose, and machine-generated near-random strings compress
  * above it. One number, language-agnostic, O(n).
  *
  * Uses `java.util.zip.Deflater` (raw deflate, no zlib header, level 6)
  * — the JDK's public zlib binding. Deterministic for a given zlib
  * build; across zlib versions the ratio can move in the 3rd decimal,
  * so downstream thresholds (e.g. keep 0.25 < ratio) must not sit on a
  * knife edge — the tests assert band properties, not golden bytes.
  *
  * A per-thread Deflater is reused via reset(): Deflater holds native
  * window memory, and allocating one per row would churn native heap
  * at 10^12 rows (same discipline as the WARC source's stream
  * hygiene, sources/Warc.scala).
  *
  * The capped decoders hold the amplification policy: a decompression
  * bomb fails its row in bounded memory, because [[inflate]] (zlib/raw
  * DEFLATE in memory) and [[drain]] (any decoding stream: gzip, zstd)
  * allocate no more than a stream yields and stop at one bound.
  */
object Compress {

  /** Fixed level: 6 is zlib's default speed/ratio balance; the SIGNAL
    * only needs rank stability, which any mid level provides.
    */
  val Level = 6

  private val deflaters: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(Level, true))

  /** Size in bytes of the raw-deflate stream of `bytes`. */
  def deflatedSize(bytes: Array[Byte]): Long = {
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** deflate(utf8(text)) / utf8(text).size, rounded to 4 dp; empty text
    * → 1.0 (nothing to compress, nothing saved — neutral). Tiny inputs
    * can exceed 1.0 (deflate block overhead); that is the honest value
    * and itself a signal (no redundancy at all).
    */
  def ratio(text: String): Double = {
    if (text == null || text.isEmpty) return 1.0
    val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    math.rint(deflatedSize(raw).toDouble / raw.length * 10000.0) / 10000.0
  }

  /** The per-decode output bound where a format declares no tighter one:
    * at `local[32]`, 32 streams × 64 MiB fit an 8 GiB driver heap.
    */
  val MaxDecodedBytes: Int = 64 << 20

  /** Inflate zlib or raw DEFLATE `p(off until off + len)` until the
    * stream ends or `max` bytes are out (to refuse a stream running past
    * `n` bytes, pass `n + 1`). The output grows with what the stream
    * yields, never to `max` up front. A stream that stops making
    * progress (truncated, or FDICT) fails; the `Inflater` is always freed.
    */
  def inflate(p: Array[Byte], off: Int, len: Int, raw: Boolean, max: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    try {
      inf.setInput(p, off, len)
      var out = new Array[Byte](math.min(max.toLong, len * 4L + 64).toInt)
      var got = 0
      while (got < max && !inf.finished()) {
        if (got == out.length)
          out = java.util.Arrays.copyOf(out, math.min(max.toLong, math.max(8192L, got * 2L)).toInt)
        val k = inf.inflate(out, got, out.length - got)
        require(k > 0 || inf.finished(), "truncated or dictionary-requiring deflate stream")
        got += k
      }
      if (got == out.length) out else java.util.Arrays.copyOf(out, got)
    } finally inf.end()
  }

  /** Read a decoding stream to its end, failing once it has yielded more
    * than `max` bytes. The caller closes `in`.
    */
  def drain(in: java.io.InputStream, max: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](64 * 1024)
    var k = in.read(buf)
    while (k >= 0) {
      require(out.size().toLong + k <= max, s"decoded stream exceeds $max bytes")
      out.write(buf, 0, k)
      k = in.read(buf)
    }
    out.toByteArray
  }
}
