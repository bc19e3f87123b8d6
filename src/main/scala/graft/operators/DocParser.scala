package graft.operators

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{Inflater, ZipInputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Document parsing (SURVEY §2.1 S4/S5, `morphik_parser.py:273-651`),
  * pure-JDK: OOXML formats are zip+XML (java.util.zip + StAX), PDF text
  * extraction handles Flate/raw content streams.
  *
  * Dispatch mirrors `_parse_document` (`morphik_parser.py:586-651`):
  * plain-text extensions decode directly (UTF-8 with Latin-1 fallback,
  * `:587-592`); xlsx/xlsm take the fast tabular path emitting the markdown
  * shape of `_parse_excel_to_markdown` (`:381-428`) byte-for-byte; docx /
  * pptx / pdf extract text natively here, standing where the reference
  * calls Docling (`:527-560`) — a full layout-analysis converter remains
  * pluggable behind [[Stage]], and like the reference a failed parse
  * yields "" rather than an error (`:543-545`).
  *
  * Stated limits of the native extractors (vs Docling): no OCR, no layout
  * reconstruction; DOCX emits plain paragraphs (no heading levels), PDF
  * handles ASCII/WinAnsi strings in Flate or raw content streams (no font
  * CMaps / subset encodings).
  */
object DocParser {

  /** Pluggable parse stage (the reference's Docling / parse-API slot). */
  trait Stage extends Serializable {
    def parse(filename: String, bytes: Array[Byte]): String
  }

  /** The default native stage. */
  object NativeStage extends Stage {
    def parse(filename: String, bytes: Array[Byte]): String =
      DocParser.parse(filename, bytes)
  }

  private val plainTextExts =
    Seq(".txt", ".md", ".markdown", ".json", ".csv", ".tsv", ".log", ".rst",
      ".yaml", ".yml")

  def isPlainText(filename: String): Boolean = {
    val lower = graft.functions.text.fold(filename)
    plainTextExts.exists(lower.endsWith)
  }

  private def ext(filename: String): String = {
    val lower = graft.functions.text.fold(filename)
    val i = lower.lastIndexOf('.')
    if (i < 0) "" else lower.substring(i)
  }

  /** `_parse_document` dispatch; failures yield "" like the reference. */
  def parse(filename: String, bytes: Array[Byte]): String =
    try {
      if (isPlainText(filename)) decodeText(bytes)
      else ext(filename) match {
        case ".xlsx" | ".xlsm" => parseExcelToMarkdown(bytes)
        case ".docx"           => parseDocx(bytes)
        case ".pptx"           => parsePptx(bytes)
        case ".pdf"            => parsePdf(bytes)
        // engine-side stand-in for the reference's HTML→PDF render seat
        // (ingestion_worker.py:507-520): boilerplate-aware main-text
        // extraction instead of a print layout
        case ".html" | ".htm" | ".xhtml" =>
          HtmlExtract.mainTextString(decodeText(bytes))
        case _                 => decodeText(bytes)
      }
    } catch { case _: Exception => "" }

  private def decodeText(bytes: Array[Byte]): String =
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch { case _: Exception =>
      new String(bytes, StandardCharsets.ISO_8859_1)
    }

  // ------------------------------------------------------------------- zip

  private[operators] def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map.empty[String, Array[Byte]]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()
    out.toMap
  }

  private val xmlFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  // ------------------------------------------------------------------ xlsx

  /** `_parse_excel_to_markdown` (`morphik_parser.py:381-428`) emit shape,
    * reproduced exactly: per sheet `## name\n` part, pipe-escaped cells,
    * `| --- |` separator after the first row, all-empty rows skipped,
    * trailing empty columns trimmed, parts joined with "\n" with an empty
    * part closing each sheet. */
  def parseExcelToMarkdown(bytes: Array[Byte]): String = {
    val entries = zipEntries(bytes)
    val shared = entries.get("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(IndexedSeq.empty)
    val parts = mutable.ArrayBuffer.empty[String]
    sheetTargets(entries).foreach { case (name, target) =>
      entries.get(target).foreach { sheetXml =>
        val rows = parseSheetRows(sheetXml, shared)
        if (rows.nonEmpty) {
          parts += s"## $name\n"
          val maxCols = rows.iterator.map { row =>
            row.lastIndexWhere(_ != null) + 1
          }.max
          if (maxCols > 0) {
            rows.zipWithIndex.foreach { case (row, idx) =>
              val cells = (0 until maxCols).map { c =>
                val v = if (c < row.length) row(c) else null
                if (v == null) "" else v.replace("|", "\\|")
              }
              parts += cells.mkString("| ", " | ", " |")
              if (idx == 0) parts += Seq.fill(maxCols)("---").mkString("| ", " | ", " |")
            }
          }
          parts += ""
        }
      }
    }
    parts.mkString("\n")
  }

  /** Per-sheet cell matrices of a real xlsx container (nulls → "") — the
    * S11 office→images probe: the render chain treats sheet == page (the
    * reference's LibreOffice rung paginates the converted PDF the same
    * way, `ingestion_service.py:1698-1896`), so a page renderer's
    * `pageCount`/`render` walk the REAL OOXML package (workbook →
    * rels → worksheet parts → shared strings), not a stub count. */
  def xlsxSheetCells(bytes: Array[Byte]): Seq[Seq[Seq[String]]] = {
    val entries = zipEntries(bytes)
    val shared = entries.get("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(IndexedSeq.empty)
    sheetTargets(entries).flatMap { case (_, target) =>
      entries.get(target).map { sheetXml =>
        parseSheetRows(sheetXml, shared)
          .map(_.map(v => if (v == null) "" else v).toSeq)
      }
    }
  }

  /** workbook.xml sheet order resolved through workbook.xml.rels to
    * worksheet part names. */
  private def sheetTargets(entries: Map[String, Array[Byte]]): Seq[(String, String)] = {
    val rels = entries.get("xl/_rels/workbook.xml.rels").map { b =>
      val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(b))
      val m = mutable.Map.empty[String, String]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val t = r.getAttributeValue(null, "Target")
          if (id != null && t != null)
            m(id) = if (t.startsWith("/")) t.stripPrefix("/") else "xl/" + t
        }
      }
      r.close(); m.toMap
    }.getOrElse(Map.empty)
    entries.get("xl/workbook.xml").map { b =>
      val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(b))
      val out = mutable.ArrayBuffer.empty[(String, String)]
      var sheetIdx = 0
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          sheetIdx += 1
          val name = Option(r.getAttributeValue(null, "name")).getOrElse(s"Sheet$sheetIdx")
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue)
          val target = rid.flatMap(rels.get)
            .getOrElse(s"xl/worksheets/sheet$sheetIdx.xml")
          out += ((name, target))
        }
      }
      r.close(); out.toSeq
    }.getOrElse(Seq.empty)
  }

  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = mutable.ArrayBuffer.empty[String]
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "si" => cur = new StringBuilder
          case "t"  => inT = true
          case _    =>
        }
      case XMLStreamConstants.CHARACTERS if inT && cur != null =>
        cur.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "si" => out += cur.toString; cur = null
          case "t"  => inT = false
          case _    =>
        }
      case _ =>
    }
    r.close()
    out.toIndexedSeq
  }

  /** Rows as sparse cell arrays (null = empty); all-empty rows skipped
    * (reference `:394-396`). Cell types: s (shared), inlineStr, str, n. */
  private def parseSheetRows(bytes: Array[Byte],
                             shared: IndexedSeq[String]): Seq[Array[String]] = {
    val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    var row: mutable.ArrayBuffer[String] = null
    var cellType = ""
    var cellCol = -1
    var nextCol = 0
    var text: StringBuilder = null
    var capture = false
    def setCell(v: String): Unit = {
      val c = if (cellCol >= 0) cellCol else nextCol
      while (row.length <= c) row += null
      row(c) = v
      nextCol = c + 1
    }
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "row" => row = mutable.ArrayBuffer.empty[String]; nextCol = 0
          case "c" =>
            cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
            cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex).getOrElse(-1)
          case "v" | "t" => capture = true; text = new StringBuilder
          case _ =>
        }
      case XMLStreamConstants.CHARACTERS if capture => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "v" =>
            capture = false
            val raw = text.toString
            setCell(if (cellType == "s") shared.lift(raw.trim.toInt).getOrElse("")
                    else renderNumberish(raw, cellType))
          case "t" =>
            capture = false
            if (cellType == "inlineStr") setCell(text.toString)
          case "row" =>
            if (row != null && row.exists(_ != null)) rows += row.toArray
            row = null
          case _ =>
        }
      case _ =>
    }
    r.close()
    rows.toSeq
  }

  /** openpyxl hands back int for integral numerics — `str(3)` not "3.0". */
  private def renderNumberish(raw: String, cellType: String): String =
    if (cellType != "n") raw
    else try {
      val d = java.lang.Double.parseDouble(raw.trim)
      if (d == Math.rint(d) && !d.isInfinite && math.abs(d) < 1e15)
        d.toLong.toString
      else raw.trim
    } catch { case _: NumberFormatException => raw }

  /** Column index from an A1-style cell ref ("BC12" -> 54). */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  // ------------------------------------------------------------------ docx

  /** word/document.xml paragraphs: w:t runs concatenated (w:tab -> \t,
    * w:br -> \n), non-empty paragraphs joined with blank lines. */
  def parseDocx(bytes: Array[Byte]): String = {
    val xml = zipEntries(bytes).getOrElse("word/document.xml",
      throw new IllegalArgumentException("not a docx: missing word/document.xml"))
    val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(xml))
    val paras = mutable.ArrayBuffer.empty[String]
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "p"   => cur = new StringBuilder
          case "t"   => inT = true
          case "tab" => if (cur != null) cur.append('\t')
          case "br"  => if (cur != null) cur.append('\n')
          case _     =>
        }
      case XMLStreamConstants.CHARACTERS if inT && cur != null =>
        cur.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "p" => if (cur != null && cur.nonEmpty) paras += cur.toString; cur = null
          case "t" => inT = false
          case _   =>
        }
      case _ =>
    }
    r.close()
    paras.mkString("\n\n")
  }

  // ------------------------------------------------------------------ pptx

  /** ppt/slides/slideN.xml in slide order: a:t runs concatenated per a:p
    * paragraph, paragraphs joined by newline, slides by blank lines. */
  def parsePptx(bytes: Array[Byte]): String = {
    val entries = zipEntries(bytes)
    val slideNames = entries.keys
      .filter(n => n.startsWith("ppt/slides/slide") && n.endsWith(".xml"))
      .toSeq.sortBy { n =>
        n.stripPrefix("ppt/slides/slide").stripSuffix(".xml").toIntOption.getOrElse(0)
      }
    val slides = slideNames.map { name =>
      val r = xmlFactory.createXMLStreamReader(new ByteArrayInputStream(entries(name)))
      val paras = mutable.ArrayBuffer.empty[String]
      var cur: StringBuilder = null
      var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "p" => cur = new StringBuilder
            case "t" => inT = true
            case _   =>
          }
        case XMLStreamConstants.CHARACTERS if inT && cur != null =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "p" => if (cur != null && cur.nonEmpty) paras += cur.toString; cur = null
            case "t" => inT = false
            case _   =>
          }
        case _ =>
      }
      r.close()
      paras.mkString("\n")
    }.filter(_.nonEmpty)
    slides.mkString("\n\n")
  }

  // ------------------------------------------------------------------- pdf

  /** Simple-PDF text extraction: every content stream (Flate-decoded when
    * the object dict names /FlateDecode, raw otherwise) is scanned for the
    * text-showing operators Tj / TJ / ' / "; Td, TD, T*, ', " and ET break
    * lines. String escapes (\\n, \\t, \\(, \\), \\\\, octal) and hex
    * strings are handled; bytes decode as Latin-1 (ASCII/WinAnsi). */
  def parsePdf(bytes: Array[Byte]): String = {
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    val out = new StringBuilder
    val streamPat = java.util.regex.Pattern.compile(
      "<<(.*?)>>\\s*stream(\\r?\\n)", java.util.regex.Pattern.DOTALL)
    val m = streamPat.matcher(raw)
    while (m.find()) {
      val dict = m.group(1)
      val start = m.end()
      val end = raw.indexOf("endstream", start)
      if (end > start) {
        val body = raw.substring(start, end).stripSuffix("\n").stripSuffix("\r")
        val data = body.getBytes(StandardCharsets.ISO_8859_1)
        val content =
          if (dict.contains("/FlateDecode")) inflate(data).map(
            new String(_, StandardCharsets.ISO_8859_1))
          else Some(body)
        content.filter(_.contains("BT")).foreach(c => extractTextOps(c, out))
      }
    }
    out.toString.stripSuffix("\n")
  }

  /** Per-page text (S10's page == row explode, for text): walks the object
    * graph — `N 0 obj` bodies, `/Type /Page` dicts in document order, their
    * `/Contents N 0 R` streams (single ref or array) — and extracts each
    * page's text separately. Falls back to single-page [[parsePdf]] output
    * when the structure is unreadable. */
  def parsePdfPages(bytes: Array[Byte]): Seq[String] = {
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    val objPat = java.util.regex.Pattern.compile(
      "(\\d+)\\s+\\d+\\s+obj\\b", java.util.regex.Pattern.DOTALL)
    val m = objPat.matcher(raw)
    val bodies = mutable.LinkedHashMap.empty[Int, String]
    val starts = mutable.ArrayBuffer.empty[(Int, Int)] // (objNum, bodyStart)
    while (m.find()) starts += ((m.group(1).toInt, m.end()))
    starts.zipWithIndex.foreach { case ((num, start), i) =>
      val end0 = raw.indexOf("endobj", start)
      val end = if (end0 < 0) raw.length else end0
      bodies(num) = raw.substring(start, end)
    }
    def contentOf(body: String): Option[String] = {
      val si = body.indexOf("stream")
      if (si < 0) return None
      val dict = body.substring(0, si)
      val dataStart = {
        var p = si + "stream".length
        if (p < body.length && body.charAt(p) == '\r') p += 1
        if (p < body.length && body.charAt(p) == '\n') p += 1
        p
      }
      val se = body.indexOf("endstream", dataStart)
      if (se < 0) return None
      val payload = body.substring(dataStart, se).stripSuffix("\n").stripSuffix("\r")
      if (dict.contains("/FlateDecode"))
        inflate(payload.getBytes(StandardCharsets.ISO_8859_1))
          .map(new String(_, StandardCharsets.ISO_8859_1))
      else Some(payload)
    }
    val refPat = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R")
    val pages = bodies.valuesIterator.filter(b =>
      b.contains("/Type") && b.contains("/Page") && !b.contains("/Pages")).toSeq
    val texts = pages.flatMap { page =>
      val ci = page.indexOf("/Contents")
      if (ci < 0) None
      else {
        val tail = page.substring(ci)
        val rm = refPat.matcher(tail)
        val refs = mutable.ArrayBuffer.empty[Int]
        // single ref: take the first; array: take every ref up to the
        // closing bracket (or the next dict key for the single-ref form)
        val stop = if (tail.startsWith("/Contents [") || tail.startsWith("/Contents["))
          tail.indexOf(']') else tail.indexOf('/', 1).max(40)
        while (rm.find() && rm.start() < math.max(stop, 40)) refs += rm.group(1).toInt
        val out = new StringBuilder
        refs.headOption.map { _ =>
          refs.foreach(r => bodies.get(r).flatMap(contentOf)
            .foreach(c => extractTextOps(c, out)))
          out.toString.stripSuffix("\n")
        }
      }
    }
    if (texts.nonEmpty) texts else Seq(parsePdf(bytes))
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(tmp)
        if (n > 0) buf.write(tmp, 0, n)
        else if (n == 0 && !inf.finished()) return Some(buf.toByteArray)
      }
      inf.end()
      Some(buf.toByteArray)
    } catch { case _: Exception => None }

  private def extractTextOps(content: String, out: StringBuilder): Unit = {
    var i = 0
    val pending = mutable.ArrayBuffer.empty[String]
    def newline(): Unit =
      if (out.nonEmpty && out.last != '\n') out.append('\n')
    def flush(): Unit = { pending.foreach(out.append); pending.clear() }
    while (i < content.length) {
      val ch = content.charAt(i)
      if (ch == '(') {
        val (s, next) = parsePdfString(content, i)
        pending += s
        i = next
      } else if (ch == '<' && i + 1 < content.length && content.charAt(i + 1) == '<') {
        i += 2 // inline dict start — skip the delimiters, not a hex string
      } else if (ch == '<') {
        val end = content.indexOf('>', i)
        if (end < 0) i = content.length
        else {
          val hex = content.substring(i + 1, end).filterNot(_.isWhitespace)
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          pending += padded.grouped(2)
            .map(h => Integer.parseInt(h, 16).toChar).mkString
          i = end + 1
        }
      } else if (ch.isLetter || ch == '\'' || ch == '"' || ch == '*') {
        val start = i
        while (i < content.length && !content.charAt(i).isWhitespace &&
               !"()<>[]/".contains(content.charAt(i))) i += 1
        content.substring(start, i) match {
          case "Tj" | "TJ"        => flush()
          case "'" | "\""         => newline(); flush()
          case "Td" | "TD" | "T*" => newline(); pending.clear()
          case "ET"               => newline(); pending.clear()
          case _                  => pending.clear()
        }
      } else {
        i += 1
      }
    }
  }

  private def parsePdfString(content: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    var depth = 1
    while (i < content.length && depth > 0) {
      content.charAt(i) match {
        case '\\' if i + 1 < content.length =>
          content.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case d if d >= '0' && d <= '7' =>
              val oct = content.substring(i + 1,
                math.min(i + 4, content.length)).takeWhile(c => c >= '0' && c <= '7')
              sb.append(Integer.parseInt(oct, 8).toChar)
              i += 1 + oct.length
            case other => sb.append(other); i += 2
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case c => sb.append(c); i += 1
      }
    }
    (sb.toString, i)
  }

  // ------------------------------------------------- deep-parse fallback

  /** Pluggable deep-parse stage — the reference's EasyOCR/"accurate
    * tables" Docling slot (`morphik_parser.py:527-651`
    * `parse_file_to_text_deep`). */
  trait DeepStage extends Serializable {
    def parse(filename: String, bytes: Array[Byte]): String
  }

  /** Default: no deep parser configured (the reference's
    * `getattr(..., None)` branch — the ladder skips straight to
    * accept-and-mark). */
  object NoDeepStage extends DeepStage {
    def parse(filename: String, bytes: Array[Byte]): String = ""
  }

  /** Deterministic deep-parse stand-in: extracts printable-ASCII runs of
    * >= `minRun` bytes (the classic `strings` scan) — the shape of what an
    * OCR pass recovers from a binary container, without native OCR libs.
    * Real deployments replace this with an actual OCR/layout stage. */
  case class StringsDeepStage(minRun: Int = 4) extends DeepStage {
    def parse(filename: String, bytes: Array[Byte]): String = {
      val runs = Seq.newBuilder[String]
      val sb = new StringBuilder
      var i = 0
      while (i <= bytes.length) {
        val printable = i < bytes.length && bytes(i) >= 0x20 && bytes(i) < 0x7f
        if (printable) sb.append(bytes(i).toChar)
        else {
          if (sb.length >= minRun) runs += sb.toString
          sb.clear()
        }
        i += 1
      }
      runs.result().mkString("\n")
    }
  }

  /** Reference's accept-but-mark warning text (`ingestion_worker.py:883`). */
  val NoContentWarning: String =
    "No content chunks (text or image) could be extracted from the document. " +
      "The document was saved successfully but will not be searchable until " +
      "content can be extracted."

  /** Ladder outcome: cleaned text + which rung produced it + the
    * `system_metadata.content_extraction_status` / `_warning` marks the
    * reference writes. `path` is engine-side observability
    * (native | text_fallback | deep | none); the reference only persists
    * the two status marks. */
  case class ParseResult(text: String, path: String,
                         extractionStatus: Option[String],
                         warning: Option[String])

  /** Scalar C4 clean (`clean_control_chars`, `fast_ops.py:289-304`) —
    * applied to every rung's output like the worker does. */
  private def cleanChars(s: String): String =
    s.replaceAll("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x80-\\x9f]", "")

  /** The graded parse ladder (`ingestion_worker.py:777-905`): empty native
    * parse → text-decode fallback → pluggable deep stage → accept-but-mark
    * `no_content_extracted`. The text rung is gated on
    * [[ContentType.looksLikeText]] (strict UTF-8, >=90% printable):
    * Latin-1 "successfully" decodes any byte string, so an ungated decode
    * would index mojibake from binary junk — the reference's equivalent
    * gate is Docling simply failing on non-text bytes. Deep success marks
    * `deep_fallback_succeeded` (`:853-855`); total failure accepts the doc
    * with `no_content_extracted` + warning (`:880-895`) rather than
    * failing the job. */
  def parseWithFallback(filename: String, bytes: Array[Byte],
                        deep: DeepStage = NoDeepStage,
                        stage: Stage = NativeStage): ParseResult = {
    val native = cleanChars(
      try stage.parse(filename, bytes) catch { case _: Exception => "" })
    if (native.trim.nonEmpty) ParseResult(native, "native", None, None)
    else {
      val textFb =
        if (bytes != null && bytes.nonEmpty && ContentType.looksLikeText(bytes))
          cleanChars(decodeText(bytes))
        else ""
      if (textFb.trim.nonEmpty) ParseResult(textFb, "text_fallback", None, None)
      else {
        // IllegalStateException is a deep stage's CONFIGURATION failure
        // class (e.g. [[PdfboxDeepStage]] with no jar on this executor) and
        // must fail loudly — same contract as the Multimodal seats; any
        // other throw is an ordinary parse failure and falls through to
        // accept-but-mark.
        val deepText = cleanChars(
          try deep.parse(filename, bytes) catch {
            case e: IllegalStateException => throw e
            case _: Exception => ""
          })
        if (deepText.trim.nonEmpty)
          ParseResult(deepText, "deep", Some("deep_fallback_succeeded"), None)
        else
          ParseResult("", "none", Some("no_content_extracted"),
            Some(NoContentWarning))
      }
    }
  }

  /** The one distributed parse, the ladder per row: adds (`outCol`,
    * parse_path, extraction_status, extraction_warning) from (filename,
    * bytes) via mapPartitions, so binary payloads never leave the
    * executor. */
  def parseColumnWithFallback(df: DataFrame, filenameCol: String,
                              bytesCol: String, outCol: String,
                              deep: DeepStage = NoDeepStage,
                              stage: Stage = NativeStage): DataFrame = {
    val schema = df.schema.add(outCol, StringType, nullable = false)
      .add("parse_path", StringType, nullable = false)
      .add("extraction_status", StringType, nullable = true)
      .add("extraction_warning", StringType, nullable = true)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val fIdx = df.schema.fieldIndex(filenameCol)
    val bIdx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val p = parseWithFallback(r.getString(fIdx), r.getAs[Array[Byte]](bIdx),
          deep, stage)
        Row.fromSeq(r.toSeq ++ Seq(p.text, p.path,
          p.extractionStatus.orNull, p.warning.orNull))
      }
    }(enc)
  }
}
