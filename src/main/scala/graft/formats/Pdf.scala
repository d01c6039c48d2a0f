package graft.formats

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, Inflater}

/** Minimal PDF text extraction (SURVEY §2.1 S13, §2.9 C1), JDK-only.
  *
  * The reference sends PDFs to a layout service
  * (/root/reference/tools/doc_intelligence.py:88-198); the text layer the
  * service reads is plain PDF content-stream operators, which need no
  * third-party code for the common case:
  *
  *  - content streams are located by `stream`/`endstream` framing, with the
  *    preceding object dictionary deciding `/FlateDecode` (inflated via
  *    java.util.zip) vs raw bytes;
  *  - text is the `Tj` / `'` / `TJ` show operators inside BT/ET blocks,
  *    with `(…)` literals (escapes and balanced parens per spec §7.3.4.2),
  *    `<…>` hex strings, and the Td, TD, T-star and Tm ops as line breaks.
  *
  * This covers PDFs from every common "save as PDF" generator and the
  * hermetic [[writePdf]] fixtures; object-stream/encrypted documents are
  * out of scope and yield empty text rather than an error.
  */
object Pdf {

  /** Inflate a FlateDecode stream; None when the data is not valid zlib. */
  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // 0 without finishing ⇔ truncated input or an FDICT preset-dictionary
        // stream — bail instead of spinning forever
        if (n == 0 && !inf.finished()) return None
        out.write(buf, 0, n)
      }
      Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** All decoded content streams of the document, in byte order. */
  def contentStreams(pdf: Array[Byte]): Seq[Array[Byte]] = {
    val s = new String(pdf, ISO_8859_1) // 1:1 byte↔char, offsets preserved
    val out = Seq.newBuilder[Array[Byte]]
    var from = 0
    var keep = true
    while (keep) {
      val at = s.indexOf("stream", from)
      if (at < 0) keep = false
      else {
        // the dict right before `stream` declares the filter; a real stream
        // keyword is immediately preceded by its dict's `>>` (modulo EOL) —
        // anything else is the keyword's bytes occurring inside binary data
        val dictStart = s.lastIndexOf("<<", at)
        val dictEnd = s.lastIndexOf(">>", at)
        if (dictStart < 0 || dictEnd < dictStart ||
            s.substring(dictEnd + 2, at).trim.nonEmpty) {
          from = at + "stream".length
        } else {
          val dict = s.substring(dictStart, at)
          // stream data starts after the keyword's EOL (CRLF or LF)
          var dataStart = at + "stream".length
          if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
          if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
          // /Length is authoritative when present and consistent — stream
          // data may itself contain the bytes "endstream" (e.g. text about
          // PDFs), so a blind indexOf would truncate it
          val declared = "/Length\\s+(\\d+)".r.findFirstMatchIn(dict)
            .map(m => dataStart + m.group(1).toInt)
            .filter(e => e <= s.length &&
              s.indexOf("endstream", e) >= 0 && s.indexOf("endstream", e) <= e + 2)
          val end = declared.map(e => s.indexOf("endstream", e))
            .getOrElse(s.indexOf("endstream", dataStart))
          if (end < 0) keep = false
          else {
            var dataEnd = declared.getOrElse(end)
            // trailing EOL before `endstream` is framing, not data
            if (declared.isEmpty) {
              if (dataEnd > dataStart && s.charAt(dataEnd - 1) == '\n') dataEnd -= 1
              if (dataEnd > dataStart && s.charAt(dataEnd - 1) == '\r') dataEnd -= 1
            }
            val raw = java.util.Arrays.copyOfRange(pdf, dataStart, dataEnd)
            if (dict.contains("/FlateDecode")) inflate(raw).foreach(out += _)
            else if (!dict.contains("/Filter")) out += raw
            // other filters (DCT images, …) are skipped, not errors
            from = end + "endstream".length
          }
        }
      }
    }
    out.result()
  }

  /** Parse one `(…)` literal starting at `i` (the open paren); returns
    * (text, index after close). Handles \-escapes, octal codes and balanced
    * nested parentheses (PDF 32000-1 §7.3.4.2).
    */
  private def parseLiteral(s: String, i: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var j = i + 1
    while (j < s.length && depth > 0) {
      s.charAt(j) match {
        case '\\' if j + 1 < s.length =>
          s.charAt(j + 1) match {
            case 'n' => sb.append('\n'); j += 2
            case 'r' => sb.append('\r'); j += 2
            case 't' => sb.append('\t'); j += 2
            case 'b' => sb.append('\b'); j += 2
            case 'f' => sb.append('\f'); j += 2
            case '\n' => j += 2 // line continuation
            case d if d >= '0' && d <= '7' =>
              var k = j + 1
              var code = 0
              while (k < s.length && k < j + 4 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                code = code * 8 + (s.charAt(k) - '0'); k += 1
              }
              sb.append(code.toChar); j = k
            case c => sb.append(c); j += 2
          }
        case '(' => depth += 1; sb.append('('); j += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          j += 1
        case c => sb.append(c); j += 1
      }
    }
    (sb.toString, j)
  }

  /** Extract the shown text of a decoded content stream. */
  def streamText(content: Array[Byte]): String = {
    val s = new String(content, ISO_8859_1)
    val sb = new StringBuilder
    var pendingBreak = false
    def break(): Unit = { pendingBreak = sb.nonEmpty }
    def emit(t: String): Unit = {
      if (pendingBreak) { sb.append('\n'); pendingBreak = false }
      sb.append(t)
    }
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' =>
          val (t, j) = parseLiteral(s, i)
          emit(t)
          i = j
        case '<' if i + 1 < s.length && s.charAt(i + 1) == '<' =>
          i += 2 // dict opener inside the content stream, not a hex string
        case '<' if i + 1 < s.length =>
          val end = s.indexOf('>', i)
          if (end < 0) i = s.length
          else {
            val hex = s.substring(i + 1, end).filterNot(_.isWhitespace)
            val padded = if (hex.length % 2 == 1) hex + "0" else hex
            emit(padded.grouped(2).map(h => Integer.parseInt(h, 16).toChar).mkString)
            i = end + 1
          }
        case 'T' if i + 1 < s.length =>
          // Td TD T* Tm reposition the cursor → treat as a line break.
          // Only consume the second char when it is part of the operator —
          // "BT(Hi)" has '(' right after the T and must not be swallowed
          val op = s.charAt(i + 1)
          if (op == 'd' || op == 'D' || op == '*' || op == 'm') { break(); i += 2 }
          else if (op.isLetter) i += 2
          else i += 1
        case '\'' | '"' => break(); i += 1 // ' and " show-with-newline ops
        case _ => i += 1
      }
    }
    sb.toString
  }

  /** Full text of a PDF payload: all content streams, in order. Whitespace
    * is preserved exactly as shown — trimming is the caller's policy.
    */
  def extractText(pdf: Array[Byte]): String =
    contentStreams(pdf).map(streamText).filter(_.nonEmpty).mkString("\n")

  // ------------------------------------------------------------ fixture write

  private def escapeLiteral(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Minimal single-page PDF with one text line per input string; content
    * stream FlateDecode-compressed when `compress` (both paths exercise the
    * reader). Text is written in the Latin-1 range (the PDF simple-font
    * encoding); offsets in the xref are correct, so external tools can
    * read the fixtures too.
    */
  def writePdf(lines: Seq[String], compress: Boolean = true): Array[Byte] = {
    val content = ("BT /F1 12 Tf 72 720 Td " +
      lines.map(l => s"(${escapeLiteral(l)}) Tj").mkString(" 0 -14 Td ") +
      " ET").getBytes(ISO_8859_1)
    val (data, filter) =
      if (compress) (deflate(content), " /Filter /FlateDecode") else (content, "")
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = {
      offsets += out.size()
      w(s"${offsets.length} 0 obj\n$body\nendobj\n")
    }
    w("%PDF-1.4\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    obj("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>")
    obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    offsets += out.size()
    w(s"5 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
    out.write(data)
    w("\nendstream\nendobj\n")
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** Multi-page fixture: one page object + one content stream per entry of
    * `pages` (each a list of text lines), under a single /Pages node —
    * the flat layout every common generator emits. Object ids: 1 catalog,
    * 2 pages, then (page, contents) pairs, font last; xref offsets correct.
    */
  def writePdfPages(pages: Seq[Seq[String]], compress: Boolean = true): Array[Byte] = {
    require(pages.nonEmpty, "at least one page")
    val n = pages.length
    val fontId = 3 + 2 * n
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = {
      offsets += out.size()
      w(s"${offsets.length} 0 obj\n$body\nendobj\n")
    }
    w("%PDF-1.4\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until n).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [$kids] /Count $n >>")
    pages.zipWithIndex.foreach { case (lines, i) =>
      obj(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $fontId 0 R >> >> /Contents ${4 + 2 * i} 0 R >>")
      val content = ("BT /F1 12 Tf 72 720 Td " +
        lines.map(l => s"(${escapeLiteral(l)}) Tj").mkString(" 0 -14 Td ") +
        " ET").getBytes(ISO_8859_1)
      val (data, filter) =
        if (compress) (deflate(content), " /Filter /FlateDecode") else (content, "")
      offsets += out.size()
      w(s"${offsets.length} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  // ------------------------------------------------------------ page splitting

  /** One indirect object: its raw text (dict + any stream) and the byte
    * span of the stream PAYLOAD within `raw` — ref rewriting must never
    * touch payload bytes (compressed data can contain "12 0 R" by chance).
    */
  private case class PdfObj(raw: String, payload: Option[(Int, Int)])

  /** Parse `N 0 obj … endobj` objects. Stream payloads are skipped via the
    * same `>>`-framed `stream` + /Length logic as [[contentStreams]], so an
    * `endobj` byte sequence inside compressed data cannot truncate an
    * object. Same documented subset as the reader: flat xref, no object
    * streams, generation 0.
    */
  private def parseObjects(s: String): Seq[(Int, PdfObj)] = {
    val objM = java.util.regex.Pattern.compile("(\\d+)\\s+0\\s+obj").matcher(s)
    val out = Seq.newBuilder[(Int, PdfObj)]
    var from = 0
    var keep = true
    while (keep) {
      if (!objM.find(from)) keep = false
      else {
        {
          val num = objM.group(1).toInt
          val bodyStart = objM.end
          // find the true endobj, hopping over any stream payload
          var cursor = bodyStart
          var payload: Option[(Int, Int)] = None
          var endobj = -1
          while (endobj < 0 && cursor < s.length) {
            val e = s.indexOf("endobj", cursor)
            if (e < 0) { endobj = s.length }
            else {
              val st = s.indexOf("stream", cursor)
              val framed = st >= 0 && st < e && {
                val dictEnd = s.lastIndexOf(">>", st)
                dictEnd >= 0 && s.substring(dictEnd + 2, st).trim.isEmpty
              }
              if (!framed) endobj = e
              else {
                var dataStart = st + "stream".length
                if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
                if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
                val dict = s.substring(bodyStart, st)
                val declared = "/Length\\s+(\\d+)".r.findFirstMatchIn(dict)
                  .map(mm => dataStart + mm.group(1).toInt)
                  .filter(x => x <= s.length && s.indexOf("endstream", x) >= 0 &&
                    s.indexOf("endstream", x) <= x + 2)
                val endstream = declared.map(x => s.indexOf("endstream", x))
                  .getOrElse(s.indexOf("endstream", dataStart))
                if (endstream < 0) endobj = e
                else {
                  payload = Some((dataStart - bodyStart,
                    declared.getOrElse(endstream) - bodyStart))
                  cursor = endstream + "endstream".length
                }
              }
            }
          }
          val end = math.min(endobj, s.length)
          out += num -> PdfObj(s.substring(bodyStart, end), payload)
          from = end + "endobj".length
          if (from >= s.length) keep = false
        }
      }
    }
    out.result()
  }

  private val refRe = "(\\d+)\\s+0\\s+R\\b".r

  /** Rewrite `old 0 R` references via `renum`, leaving stream payload bytes
    * untouched.
    */
  private def rewriteRefs(o: PdfObj, renum: Map[Int, Int]): String = {
    def rw(part: String): String =
      refRe.replaceAllIn(part, m =>
        renum.get(m.group(1).toInt)
          .map(n => s"$n 0 R")
          .getOrElse(java.util.regex.Matcher.quoteReplacement(m.matched)))
    o.payload match {
      case None => rw(o.raw)
      case Some((a, b)) =>
        rw(o.raw.substring(0, a)) + o.raw.substring(a, b) + rw(o.raw.substring(b))
    }
  }

  private def refsOf(o: PdfObj): Seq[Int] = {
    val scan = o.payload match {
      case None => o.raw
      case Some((a, b)) => o.raw.substring(0, a) + o.raw.substring(b)
    }
    refRe.findAllMatchIn(scan).map(_.group(1).toInt).toSeq
  }

  /** Root /Pages node referenced by the catalog, if any. */
  private def rootPagesId(objs: Map[Int, PdfObj]): Option[Int] =
    objs.collectFirst {
      case (_, o) if "/Type\\s*/Catalog".r.findFirstIn(o.raw).isDefined =>
        "/Pages\\s+(\\d+)\\s+0\\s+R".r.findFirstMatchIn(o.raw).map(_.group(1).toInt)
    }.flatten

  /** Kid object ids of a /Pages node, in array order. */
  private def kidIds(o: PdfObj): Seq[Int] =
    "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(o.raw).map(_.group(1))
      .toSeq.flatMap(k => refRe.findAllMatchIn(k).map(_.group(1).toInt))

  /** Dictionary portion of an object's raw text (stream payload excluded). */
  private def dictOf(o: PdfObj): String = o.payload match {
    case Some((a, _)) => o.raw.substring(0, a)
    case None => o.raw
  }

  /** Page object ids in document order (Kids arrays, depth-first through
    * nested /Pages nodes).
    */
  def pageIds(pdf: Array[Byte]): Seq[Int] = {
    val objs = parseObjects(new String(pdf, ISO_8859_1)).toMap
    def walk(id: Int): Seq[Int] = objs.get(id) match {
      case Some(o) if "/Type\\s*/Pages".r.findFirstIn(o.raw).isDefined =>
        kidIds(o).flatMap(walk)
      case Some(_) => Seq(id)
      case None => Seq.empty
    }
    rootPagesId(objs).map(walk).getOrElse(Seq.empty)
  }

  /** Attributes a page may inherit from ancestor /Pages nodes instead of
    * defining itself (PDF 32000-1 §7.7.3.4).
    */
  private val inheritableAttrs = Seq("Resources", "MediaBox", "CropBox", "Rotate")

  /** Raw value of dictionary key `/name` in `dict`: a `<< >>` dict or `[ ]`
    * array balanced over nesting, an `N 0 R` reference, or a single
    * number/name token. None when the key is absent or malformed.
    */
  private def dictValue(dict: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("/" + name + "(?![A-Za-z0-9])").matcher(dict)
    if (!m.find()) return None
    var i = m.end
    while (i < dict.length && Character.isWhitespace(dict.charAt(i))) i += 1
    if (i >= dict.length) return None
    val start = i
    if (dict.charAt(i) == '[') {
      var depth = 0
      while (i < dict.length) {
        dict.charAt(i) match {
          case '[' => depth += 1
          case ']' =>
            depth -= 1
            if (depth == 0) return Some(dict.substring(start, i + 1))
          case _ =>
        }
        i += 1
      }
      None
    } else if (dict.startsWith("<<", i)) {
      var depth = 0
      while (i + 1 < dict.length) {
        if (dict.startsWith("<<", i)) { depth += 1; i += 2 }
        else if (dict.startsWith(">>", i)) {
          depth -= 1; i += 2
          if (depth == 0) return Some(dict.substring(start, i))
        } else i += 1
      }
      None
    } else {
      val rest = dict.substring(start)
      "^\\d+\\s+0\\s+R\\b".r.findFirstIn(rest)
        .orElse("^/?[^\\s/\\[\\]<>]+".r.findFirstIn(rest))
    }
  }

  /** For each page: the inheritable attributes it receives from its nearest
    * defining ancestor but does not define itself. These must be copied onto
    * the page when it is re-parented under a fresh /Pages node, or split
    * parts lose their fonts and media boxes.
    */
  private def inheritedPageAttrs(
      objs: Map[Int, PdfObj]): Map[Int, Seq[(String, String)]] = {
    val out = Map.newBuilder[Int, Seq[(String, String)]]
    def walk(id: Int, inh: Map[String, String]): Unit = objs.get(id) match {
      case Some(o) if "/Type\\s*/Pages".r.findFirstIn(o.raw).isDefined =>
        val d = dictOf(o)
        val here = inh ++
          inheritableAttrs.flatMap(k => dictValue(d, k).map(k -> _))
        kidIds(o).foreach(walk(_, here))
      case Some(o) =>
        val d = dictOf(o)
        out += id -> inheritableAttrs.flatMap(k =>
          if (dictValue(d, k).isDefined) None else inh.get(k).map(k -> _))
      case None =>
    }
    rootPagesId(objs).foreach(walk(_, Map.empty))
    out.result()
  }

  /** Number of pages of the document. */
  def pageCount(pdf: Array[Byte]): Int = pageIds(pdf).length

  /** Split a PDF into parts of at most `maxPages` pages each — the
    * reference's large-document pre-analysis split
    * (utils/file_utils.py:71-138) done on the object tree: each part is a
    * complete, valid PDF with a fresh catalog + pages node, the part's page
    * objects, and the transitive closure of everything those pages
    * reference (content streams, fonts, images), renumbered densely.
    * Documents at or under `maxPages` come back whole, byte-identical.
    */
  def splitByPages(pdf: Array[Byte], maxPages: Int): Seq[Array[Byte]] = {
    require(maxPages > 0, s"maxPages must be positive, got $maxPages")
    val ids = pageIds(pdf)
    if (ids.isEmpty || ids.length <= maxPages) return Seq(pdf)
    val parsed = parseObjects(new String(pdf, ISO_8859_1)).toMap
    // The transitive copy below never visits the original /Pages tree, so
    // attributes pages inherit from it (§7.7.3.4: /Resources, /MediaBox, …)
    // would vanish — materialize them onto each page dict first. Values may
    // be indirect refs; injecting them into `raw` lets refsOf/rewriteRefs
    // carry the referenced objects into the part like any direct page ref.
    val objs = {
      val inh = inheritedPageAttrs(parsed)
      parsed.map { case (n, o) =>
        inh.getOrElse(n, Seq.empty) match {
          case attrs if attrs.nonEmpty =>
            val inject = attrs.map { case (k, v) => s"/$k $v" }.mkString(" ", " ", " ")
            val at = o.raw.indexOf("<<")
            if (at < 0) n -> o
            else n -> PdfObj(
              o.raw.substring(0, at + 2) + inject + o.raw.substring(at + 2),
              o.payload.map { case (a, b) => (a + inject.length, b + inject.length) })
          case _ => n -> o
        }
      }
    }
    val pagesNodes = objs.collect {
      case (n, o) if "/Type\\s*/(Pages|Catalog)".r.findFirstIn(o.raw).isDefined => n
    }.toSet
    ids.grouped(maxPages).map { group =>
      // transitive copy from the part's pages, never back up into the old
      // catalog/pages tree (the /Parent edge would drag the whole document)
      val order = scala.collection.mutable.LinkedHashSet[Int]()
      def visit(id: Int): Unit =
        if (!pagesNodes.contains(id) && !order.contains(id) && objs.contains(id)) {
          order += id
          refsOf(objs(id)).foreach(visit)
        }
      group.foreach(visit)
      val renum = order.zipWithIndex.map { case (old, i) => old -> (i + 3) }.toMap ++
        pagesNodes.map(_ -> 2).toMap // any old tree ref (e.g. /Parent) → new pages node
      val out = new ByteArrayOutputStream()
      val offsets = scala.collection.mutable.ArrayBuffer[Int]()
      def w(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
      w("%PDF-1.4\n")
      offsets += out.size()
      w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      val kids = group.map(id => s"${renum(id)} 0 R").mkString(" ")
      offsets += out.size()
      w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count ${group.length} >>\nendobj\n")
      order.foreach { old =>
        offsets += out.size()
        w(s"${renum(old)} 0 obj\n")
        w(rewriteRefs(objs(old), renum))
        w("\nendobj\n")
      }
      val xref = out.size()
      w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
      offsets.foreach(o => w(f"$o%010d 00000 n \n"))
      w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      out.toByteArray
    }.toSeq
  }
}
