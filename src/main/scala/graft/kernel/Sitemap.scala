package graft.kernel

/** Sitemap parser (sitemaps.org protocol 0.9) — the URL-discovery
  * companion to [[Robots]]: a crawl frontier is seeded from
  * `<urlset>` entries and recursively from `<sitemapindex>` files.
  * Parses both document kinds with a small strict XML scanner
  * (elements, attributes skipped, XML entities and CDATA decoded,
  * namespace prefixes ignored), extracts `loc` / `lastmod` /
  * `changefreq` / `priority` per entry, converts W3C-datetime lastmod
  * values to epoch millis when parseable, and transparently unwraps
  * gzip (`sitemap.xml.gz` is half the real-world population). All
  * bounds-checked; non-XML input throws (C5: callers isolate per row).
  */
object Sitemap {

  final case class Entry(loc: String, lastmodMs: Long, changefreq: String,
                         priority: Double)
  /** `isIndex` = the file was a `<sitemapindex>`: entries are child
    * SITEMAP locations to fetch, not page URLs.
    */
  final case class SitemapFile(isIndex: Boolean, entries: Vector[Entry])

  private[kernel] def gunzipIfNeeded(p: Array[Byte]): Array[Byte] =
    if (p.length >= 2 && (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(p), 8192)
      try Compress.drain(in, Compress.MaxDecodedBytes) finally in.close()
    } else p

  /** Decode the five XML built-in entities plus numeric refs. */
  private[kernel] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val ent = if (semi > i && semi - i <= 12) s.substring(i + 1, semi) else null
        val rep = ent match {
          case null => null
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case e if e.startsWith("#x") || e.startsWith("#X") =>
            try String.valueOf(Character.toChars(Integer.parseInt(e.substring(2), 16)))
            catch { case _: Exception => null }
          case e if e.startsWith("#") =>
            try String.valueOf(Character.toChars(Integer.parseInt(e.substring(1))))
            catch { case _: Exception => null }
          case _ => null
        }
        if (rep != null) { sb.append(rep); i = semi + 1 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** W3C datetime (sitemaps allow date-only or full) → epoch ms; 0 when
    * absent/unparseable (a probe prefers a sentinel to a throw here —
    * real sitemaps carry every malformed date imaginable).
    */
  private[kernel] def parseW3cDatetime(s0: String): Long = {
    val s = s0.trim
    try {
      if (s.length == 10) // YYYY-MM-DD
        java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli
      else
        java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
    } catch { case _: Exception => 0L }
  }

  def parse(payload: Array[Byte]): SitemapFile = {
    val bytes = gunzipIfNeeded(payload)
    val xml = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    // root element decides the kind; a quick scan for the first tag
    var i = xml.indexOf('<')
    require(i >= 0, "no XML content")
    // skip prolog/comments/doctype
    def tagNameAt(p: Int): String = {
      var j = p + 1
      val sb = new java.lang.StringBuilder()
      while (j < xml.length && !Character.isWhitespace(xml.charAt(j)) &&
        xml.charAt(j) != '>' && xml.charAt(j) != '/') {
        sb.append(xml.charAt(j)); j += 1
      }
      val n = sb.toString
      val c = n.indexOf(':') // strip namespace prefix
      if (c >= 0) n.substring(c + 1) else n
    }
    var root: String = null
    while (root == null && i >= 0 && i < xml.length) {
      val nm = tagNameAt(i)
      if (nm.startsWith("?") || nm.startsWith("!")) i = xml.indexOf('<', i + 1)
      else root = nm
    }
    val isIndex = root == "sitemapindex"
    require(isIndex || root == "urlset", s"not a sitemap root: <$root>")
    val entryTag = if (isIndex) "sitemap" else "url"
    // stream the elements: we only care about <url>/<sitemap> children
    val entries = Vector.newBuilder[Entry]
    var loc: String = null; var lastmod = 0L
    var freq = ""; var prio = -1.0
    var inEntry = false
    var pos = xml.indexOf('<', i)
    while (pos >= 0) {
      val isClose = pos + 1 < xml.length && xml.charAt(pos + 1) == '/'
      val nm = tagNameAt(if (isClose) pos + 1 else pos)
      val gt = xml.indexOf('>', pos)
      require(gt > pos, "unterminated tag")
      if (nm.startsWith("!") && xml.startsWith("<![CDATA[", pos)) {
        pos = xml.indexOf("]]>", pos)
        require(pos >= 0, "unterminated CDATA")
        pos = xml.indexOf('<', pos)
      } else {
        if (!isClose && nm == entryTag) {
          inEntry = true; loc = null; lastmod = 0L; freq = ""; prio = -1.0
        } else if (isClose && nm == entryTag) {
          if (loc != null) entries += Entry(loc, lastmod, freq, prio)
          inEntry = false
        } else if (inEntry && !isClose && !xml.startsWith("/>", gt - 1)) {
          def textUntilClose(tag: String): String = {
            val end = xml.indexOf(s"</", gt + 1)
            require(end >= 0, s"unterminated <$tag>")
            var t = xml.substring(gt + 1, end).trim
            if (t.startsWith("<![CDATA[") && t.endsWith("]]>"))
              t = t.substring(9, t.length - 3)
            decodeEntities(t)
          }
          nm match {
            case "loc" => loc = textUntilClose("loc")
            case "lastmod" => lastmod = parseW3cDatetime(textUntilClose("lastmod"))
            case "changefreq" => freq = textUntilClose("changefreq")
            case "priority" =>
              prio = textUntilClose("priority").toDoubleOption.getOrElse(-1.0)
            case _ => ()
          }
        }
        pos = xml.indexOf('<', gt)
      }
    }
    SitemapFile(isIndex, entries.result())
  }
}
