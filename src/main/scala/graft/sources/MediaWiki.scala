package graft.sources

import org.apache.spark.sql.Dataset

/** MediaWiki XML dump ingest (`*-pages-articles.xml.bz2`) — the
  * encyclopedia corpus every LLM data pipeline carries, distributed as
  * bzip2-compressed XML export (the public `mediawiki` export-0.x
  * schema). Rides the decompression tiers: bz2 via [[Bzip2]],
  * gzip via the JDK, zstd via [[Zstd]], plain XML as-is — magic-sniffed
  * per file, the same transparency contract as [[Warc.parseWarc]].
  *
  * The XML layer is a linear scan of exactly the export subset that
  * matters (`<page>` → title/ns/id/redirect + latest `<revision>` →
  * id/timestamp/`<text>`), not a general XML parser. Safe because the
  * export schema XML-escapes all text content — a literal `</text>`
  * cannot occur inside a revision body. Entities decode through the
  * shared [[Docx.decodeEntities]] (predefined + numeric refs).
  *
  * Spark shape: [[pages]] is a map-only flatMap over one-dump-file
  * rows, zero exchange; corrupt files quarantine under `keepCorrupt`.
  * At 100 TB the unit of parallelism is the dump shard (the multistream
  * dumps are exactly this: independently decompressible bz2 streams),
  * so a 1000-executor cluster decompresses and parses shards with no
  * coordination at all. */
object MediaWiki {

  /** One exported page (latest revision). */
  case class WikiPage(id: Long, page_id: Long, ns: Int, title: String,
      redirect: String, rev_id: Long, timestamp: String, text: String, error: String)

  private def between(xml: String, from: Int, until: Int, tag: String): Option[(String, Int)] = {
    val open = xml.indexOf(s"<$tag", from)
    if (open < 0 || open >= until) None
    else {
      val afterName = open + 1 + tag.length
      val c = xml.charAt(afterName)
      if (c != '>' && c != ' ') between(xml, afterName, until, tag) // prefix collision
      else if (xml.startsWith("/>", xml.indexOf('>', afterName) - 1)) Some(("", xml.indexOf('>', afterName) + 1))
      else {
        val bodyFrom = xml.indexOf('>', afterName) + 1
        val close = xml.indexOf(s"</$tag>", bodyFrom)
        require(close >= 0 && close < until, s"mediawiki: unterminated <$tag>")
        Some((xml.substring(bodyFrom, close), close + tag.length + 3))
      }
    }
  }

  private def attr(xml: String, at: Int, tag: String, name: String): String = {
    val open = xml.indexOf(s"<$tag", at)
    if (open < 0) null
    else {
      val end = xml.indexOf('>', open)
      val seg = xml.substring(open, end)
      val k = seg.indexOf(s"""$name="""")
      if (k < 0) null
      else {
        val vFrom = k + name.length + 2
        Docx.decodeEntities(seg.substring(vFrom, seg.indexOf('"', vFrom)))
      }
    }
  }

  /** Pages of one uncompressed export body. */
  def parsePages(fileId: Long, xml: String): Seq[WikiPage] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WikiPage]
    var at = 0
    var more = true
    while (more) {
      val open = xml.indexOf("<page>", at)
      if (open < 0) more = false
      else {
        val close = xml.indexOf("</page>", open)
        require(close >= 0, "mediawiki: unterminated <page>")
        val title = between(xml, open, close, "title")
          .map(t => Docx.decodeEntities(t._1))
          .getOrElse(throw new IllegalArgumentException("mediawiki: page without <title>"))
        val ns = between(xml, open, close, "ns").map(_._1.trim.toInt).getOrElse(0)
        val pageId = between(xml, open, close, "id").map(_._1.trim.toLong)
          .getOrElse(throw new IllegalArgumentException("mediawiki: page without <id>"))
        val redirect = attr(xml.substring(open, close), 0, "redirect", "title")
        val rev = xml.indexOf("<revision>", open)
        require(rev >= 0 && rev < close, "mediawiki: page without <revision>")
        val revId = between(xml, rev, close, "id").map(_._1.trim.toLong).getOrElse(-1L)
        val ts = between(xml, rev, close, "timestamp").map(_._1.trim).getOrElse("")
        val text = between(xml, rev, close, "text")
          .map(t => Docx.decodeEntities(t._1)).getOrElse("")
        out += WikiPage(fileId, pageId, ns, title, redirect, revId, ts, text, null)
        at = close + 7
      }
    }
    out.toSeq
  }

  /** Sniff + decompress one dump payload (bz2 / gzip / zstd / plain). */
  def decompress(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 3 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h')
      Bzip2.decompress(bytes)
    else if (Gzip.isGzip(bytes)) {
      Gzip.decompress(bytes) // strict member walk (no silent truncation)
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
      (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd)
      Zstd.decompress(bytes)
    else if (bytes.length >= 6 && (bytes(0) & 0xff) == 0xfd && bytes(1) == '7' &&
      bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' && bytes(5) == 0)
      Xz.decompress(bytes)
    else bytes

  // ------------------------------------------------------------ encode

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  /** Fixture muxer: a minimal export-0.11-shaped dump. Assembled by
    * concatenation, NOT stripMargin — wikitext table syntax puts `|`
    * at line starts, and a stripMargin applied after interpolating
    * page text would silently eat those pipes (caught by the
    * wiki_corpus_e2e composite; the margin char and MediaWiki's table
    * markup collide exactly). */
  def encodeDump(pages: Seq[(Long, Int, String, String)]): Array[Byte] = {
    val body = pages.map { case (id, ns, title, text) =>
      "  <page>\n" +
        s"    <title>${esc(title)}</title>\n" +
        s"    <ns>$ns</ns>\n" +
        s"    <id>$id</id>\n" +
        "    <revision>\n" +
        s"      <id>${id * 10 + 1}</id>\n" +
        "      <timestamp>2026-01-01T00:00:00Z</timestamp>\n" +
        s"      <text bytes=\"${text.length}\" xml:space=\"preserve\">${esc(text)}</text>\n" +
        "    </revision>\n" +
        "  </page>"
    }.mkString("\n")
    ("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.11/\" version=\"0.11\">\n" +
      body + "\n</mediawiki>").getBytes("UTF-8")
  }

  // ------------------------------------------------------------- spark

  case class WikiDump(id: Long, bytes: Array[Byte])

  /** Map-only page extraction over one-dump-file rows. */
  def pages(files: Dataset[WikiDump], keepCorrupt: Boolean = false): Dataset[WikiPage] = {
    import files.sparkSession.implicits._
    files.flatMap { f =>
      try parsePages(f.id, new String(decompress(f.bytes), "UTF-8"))
      catch {
        case scala.util.control.NonFatal(e) if keepCorrupt =>
          Seq(WikiPage(f.id, -1L, -1, null, null, -1L, null, null,
            s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }
}
